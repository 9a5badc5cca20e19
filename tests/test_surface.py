"""Surface guard: every top-level def in ``stockify_spark/`` is reached
from the code that runs the engine, or is listed in ``KEPT`` with the
reason it stays.

The walk is static (``ast`` only, no Spark). Its roots are the query
modules, ``bench.py``, ``__spark_entry__.py``, ``tools/``, ``perfbench/``
and the module-level code of every package module (decorators, default
values and assignments run on import). From a reached def it follows
every name the def's body uses, resolving the module's imports,
function-level ones included, and package re-exports. Tests are not
roots: a def only its own tests call is dead code, unless ``KEPT``
says why not. ``KEPT`` entries are roots too, so what they call needs
no entry of its own.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "stockify_spark"

# Unreached defs that stay, with why. Keys are ``module.def`` under the
# package.
KEPT: dict[str, str] = {
    "llm.avi.frame_count":
        "AVI twin of y4m.frame_count, which llm/multimodal uses; tests/test_avi.py",
    "llm.mp4.frame_count":
        "MP4 twin of y4m.frame_count, which llm/multimodal uses; tests/test_mp4.py",
    "llm.h264.decode_h264":
        "the NotImplementedError slice-decode boundary the media queries name",
    "llm.similarity.cosine_topk":
        "exact reference the registered top-k paths are tested against",
    "llm.similarity.embedding_dup_pairs":
        "exact all-pairs reference for sim_embedding_dup's recall test",
    "llm.similarity.fit_centroids":
        "fits the centroids ivf_assign and ivf_topk take",
    "llm.similarity.ivf_assign":
        "corpus side of ivf_topk",
    "llm.similarity.ivf_topk":
        "where SEEDED_QUERY_LIMIT's error sends corpus-scale query sets",
    "llm.similarity.lsh_topk":
        "where SEEDED_QUERY_LIMIT's error sends corpus-scale query sets",
    "operators.merge.upsert_partitioned":
        "partition-scoped upsert into plain hive-partitioned parquet",
    "sources.fixtures.stocks_rand":
        "the reference's random table (stockify.cu:647-657) for fixture tests",
    "sources.io.register_views":
        "the spark.sql entry point over every table (tests/test_sql_entry.py)",
    "sources.io.write_bucketed":
        "bucketed layout whose exchange-free join tests/test_plans.py pins",
    "sources.io.write_zorder_layout":
        "Z-order layout whose file skipping tests/test_plans.py pins",
    "sources.txlog.foreach_batch_sink":
        "exactly-once foreachBatch adapter for streaming writes into a txlog table",
    "sources.txlog.maintained_sink":
        "runs maintain every n-th batch of a foreachBatch sink",
    "streaming.windows.stream_events":
        "the events file-source stream the streaming convergence tests read",
}


def _modname(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: pathlib.Path):
        self.name = _modname(path)
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.binds: dict[str, tuple[str, str | None]] = {}

    def bind_imports(self, modules: dict[str, _Module]) -> None:
        """alias -> (module, None) for a module, (module, name) for a
        symbol; imports anywhere in the file count."""
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.binds[a.asname] = (a.name, None)
                    else:
                        head = a.name.split(".")[0]
                        self.binds[head] = (head, None)
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    self.binds[a.asname or a.name] = (
                        (full, None) if full in modules else (node.module, a.name)
                    )


def _load() -> dict[str, _Module]:
    paths = sorted((ROOT / PKG).rglob("*.py"))
    paths += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    paths += sorted((ROOT / "tools").glob("*.py"))
    paths += sorted((ROOT / "perfbench").glob("*.py"))
    modules = {}
    for p in paths:
        m = _Module(p)
        modules[m.name] = m
    for m in modules.values():
        m.bind_imports(modules)
    return modules


def _resolve(modules, mod: str, name: str, seen=()) -> str | tuple | None:
    """The def key ``mod.name`` names, following re-exports; a module
    name as ``(module,)``; None if it is not ours."""
    m = modules.get(mod)
    if m is None or (mod, name) in seen:
        return None
    if name in m.defs:
        return f"{mod}.{name}"
    if f"{mod}.{name}" in modules:
        return (f"{mod}.{name}",)
    if name in m.binds:
        target, sym = m.binds[name]
        if sym is None:
            return (target,) if target in modules else None
        return _resolve(modules, target, sym, seen + ((mod, name),))
    return None


def _target(modules, mod: str, node: ast.AST) -> str | tuple | None:
    """What a name or dotted attribute read in ``mod`` refers to, as
    :func:`_resolve` returns it."""
    if isinstance(node, ast.Name):
        return _resolve(modules, mod, node.id)
    if isinstance(node, ast.Attribute):
        base = _target(modules, mod, node.value)
        if isinstance(base, tuple):
            return _resolve(modules, base[0], node.attr)
    return None


def _refs(modules, m: _Module, nodes) -> set[str]:
    """Def keys named by the code in ``nodes``, read in module ``m``."""
    out = set()
    for root in nodes:
        for node in ast.walk(root):
            r = _target(modules, m.name, node)
            if isinstance(r, str):
                out.add(r)
    return out


def _import_time_code(m: _Module) -> list[ast.AST]:
    """What runs when ``m`` is imported, outside def bodies."""
    code = []
    for node in m.tree.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            code += node.decorator_list + node.args.defaults
            code += [d for d in node.args.kw_defaults if d is not None]
        elif isinstance(node, ast.ClassDef):
            code += node.decorator_list + node.bases + node.keywords
        else:
            code.append(node)
    return code


def _in_pkg(mod: str) -> bool:
    return mod.split(".")[0] == PKG


def _reached(modules, extra_roots=()) -> set[str]:
    todo = set(extra_roots)
    for m in modules.values():
        if m.name.startswith(f"{PKG}.queries.") or not _in_pkg(m.name):
            todo |= {f"{m.name}.{d}" for d in m.defs}
        todo |= _refs(modules, m, _import_time_code(m))
    reached = set()
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        mod, name = key.rsplit(".", 1)
        m = modules[mod]
        todo |= _refs(modules, m, [m.defs[name]])
    return reached


def _package_defs(modules) -> set[str]:
    return {f"{m.name}.{d}" for m in modules.values() if _in_pkg(m.name) for d in m.defs}


_KEPT_KEYS = {f"{PKG}.{k}" for k in KEPT}


def test_every_package_def_is_reached_or_kept():
    modules = _load()
    defs = _package_defs(modules)
    dead = sorted(defs - _reached(modules, _KEPT_KEYS & defs))
    assert dead == [], f"unreached defs (delete them, or add a KEPT reason): {dead}"


def test_kept_entries_are_needed():
    modules = _load()
    defs = _package_defs(modules)
    reached = _reached(modules)
    stale = sorted(k for k in _KEPT_KEYS if k not in defs or k in reached)
    assert stale == [], f"KEPT entries that are gone or reached anyway: {stale}"
    assert all(reason.strip() for reason in KEPT.values())
