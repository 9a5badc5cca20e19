"""Minimal ACID table format: parquet data files + JSON commit log.

The lakehouse primitive the engine needs at 100 TB: concurrent
appends, copy-on-write and merge-on-read deletes, compaction, and time
travel — all WITHOUT rewriting or even listing the whole table. The
design is the public Delta-/Iceberg-style log-structured scheme
(monotonically-versioned commits of file and metadata actions,
optimistic concurrency via atomic create-exclusive on the next
version's file); implementation is from scratch on stdlib + Spark.

Layout:
    <table>/data/<uuid>.parquet                immutable data files
    <table>/dv/<uuid>.parquet                  deletion-vector sidecars
    <table>/_txlog/<%016d>.json                one JSON commit per version
    <table>/_txlog/checkpoint.<%016d>.json     replay base (optional)

A commit is ``{"version": N, "ts": ms, "actions": [...]}`` whose
actions are, one key each: ``add`` / ``remove`` (data files, with
per-file stats), ``add_dv`` / ``remove_dv`` (deletion-vector
sidecars), ``constraint``, ``rename`` / ``drop_column`` (column
mapping), ``partitioning``, ``data_schema`` (the physical schema of
the data files), ``index`` (per-file bloom filters), ``txn``
(idempotent-append markers) and ``mtxn`` (multi-table transaction
markers). Paths are stored RELATIVE to the table root
(like Delta), so a table directory can be renamed or relocated
wholesale without invalidating its log.

:func:`_replay` is the one definition of table state: it folds the
log up to a version into a :class:`_TableState`, and every read and
write of the current table goes through one replay. A checkpoint is
that state written back as actions (:func:`_emit`), so replay cost is
O(commits since the newest checkpoint). A snapshot read is
``spark.read.schema(data_schema).parquet(*live_files)`` — file-level
pruning for free, no directory listing of data/, and no footer opened
to plan it. Schema evolution is a log action, not a read policy:
``create`` logs the data files' schema and an append that adds
columns logs the widened one, so a column added later reads as NULL
on older files, and a log without the action (a table written before
it existed) falls back to a ``mergeSchema`` footer union
(:func:`_read_files`). Faces that need per-commit history (history,
changes, vacuum, log retention, the stream sources) read the commit
files themselves; the two change feeds plan each commit with one
:func:`_change_spec`.

There is one table model. A partitioned table's files hold every
column, its partition columns included, and each file holds one
partition, whose values its add action also carries
(``partitionValues``): pruning plans from the log alone, and every
read, rewrite and change feed treats the files like any other table's.

Writes have one path too. Every face reads table files with
:func:`_read_files`, stages new ones with :func:`_write_files`, split
by the table's partition columns, and every face that replaces files
— COW delete, merge, the compactions, ``materialize_dvs`` and
``llm/pca.compact_gram`` — commits through :func:`_rewrite`: remove
the old files, add the new ones, in one commit. The compactions share
one body (:func:`_compact`) over a file set, clustered by
``sources/io.cluster``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from stockify_spark.functions.scale import materialize
from stockify_spark.sources.io import cluster


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txlog")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:016d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"checkpoint.{version:016d}.json")


def _latest_checkpoint(path: str, version: int | None = None) -> dict | None:
    """Newest checkpoint at or below ``version`` (if any)."""
    best = None
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        return None
    for name in names:
        # exact shape only — never parse tmp/partial names
        if not (name.startswith("checkpoint.") and name.endswith(".json")):
            continue
        v = int(name.split(".")[1])
        if version is not None and v > version:
            continue
        if best is None or v > best[0]:
            best = (v, name)
    if best is None:
        return None
    with open(os.path.join(_log_dir(path), best[1])) as f:
        return json.load(f)


def _read_log(path: str, version: int | None = None) -> list[dict]:
    """Commits up to ``version`` (inclusive), in order — starting from
    the newest checkpoint at or below it, so replay cost is
    O(commits since checkpoint), not O(table lifetime). The
    checkpoint is returned as a synthetic first commit whose actions
    are the checkpointed live-adds set."""
    commits = []
    ckpt = _latest_checkpoint(path, version)
    v = 0
    if ckpt is not None:
        commits.append(
            {"version": ckpt["version"], "actions": ckpt["actions"]}
        )
        v = ckpt["version"] + 1
    while True:
        p = _commit_path(path, v)
        if not os.path.exists(p) or (version is not None and v > version):
            break
        with open(p) as f:
            commits.append(json.load(f))
        v += 1
    if not commits:
        # no checkpoint at/below `version` and no commit 0: either no
        # table (callers' documented FileNotFoundError path) or the
        # requested version's replay base was removed by expire_log
        try:
            e = earliest_version(path)
        except FileNotFoundError:
            return commits
        raise VersionExpired(
            f"version {version} at {path} predates the log retention "
            f"horizon (earliest readable version: {e})"
        )
    return commits


@dataclass
class _TableState:
    """The table as of one version — everything a reader or writer
    needs, folded from the log by :func:`_replay`.

    - ``adds``: live data files, log-form path -> add entry, in log
      order.
    - ``dvs``: live deletion-vector sidecars, path -> add_dv entry
      (``add_dv`` registers, ``remove_dv`` — committed by
      :func:`restore` — retires). Staleness (targets since rewritten)
      is filtered at READ time against ``adds``.
    - ``constraints``: CHECK constraints, in registration order.
    - ``schema``: the ordered ``rename`` / ``drop_column`` actions.
    - ``partitioning``: the partition spec, or None.
    - ``data_schema``: the data files' physical schema as
      ``StructType.jsonValue()`` (every field nullable), or None for a
      log that predates the action.
    - ``blooms``: (live file, column) -> latest bloom index entry.
    - ``txns``: app id -> highest idempotent-append version.
    - ``mtxns``: multi-table transaction ids applied to this table.
    """

    version: int = -1
    adds: dict = field(default_factory=dict)
    dvs: dict = field(default_factory=dict)
    constraints: list = field(default_factory=list)
    schema: list = field(default_factory=list)
    partitioning: dict | None = None
    data_schema: dict | None = None
    blooms: dict = field(default_factory=dict)
    txns: dict = field(default_factory=dict)
    mtxns: set = field(default_factory=set)

    def files(self, path: str) -> list[str]:
        """Absolute paths of the live data files."""
        return [_abs(path, p) for p in self.adds]

    @property
    def partition_cols(self) -> list[str]:
        """The partition columns; none for an unpartitioned table."""
        return [] if self.partitioning is None else self.partitioning["cols"]

    def fold_schema(self) -> tuple[dict, set]:
        """Fold the ordered rename/drop stream into (logical ->
        physical mapping, tombstoned physical names). A dropped
        column's physical name is TOMBSTONED: its bytes stay in old
        files (time travel still sees them pre-drop) but current
        reads exclude it and re-adding a column with that physical
        name is rejected — without unique column ids, re-adding would
        resurrect the old values on old files (Delta solves this with
        field ids; the tombstone is the honest no-ids equivalent).
        Identity columns are omitted from the mapping."""
        m: dict[str, str] = {}
        dropped: set = set()
        for a in self.schema:
            if "rename" in a:
                r = a["rename"]
                m[r["to"]] = m.pop(r["from"], r["from"])
            else:
                d = a["drop_column"]
                m.pop(d["logical"], None)
                dropped.add(d["physical"])
        return {k: v for k, v in m.items() if k != v}, dropped


def _replay(path: str, version: int | None = None) -> _TableState:
    """Fold the log up to ``version`` (default: head) into one
    :class:`_TableState` — the single definition of table state. One
    :func:`_read_log` walk; a table that does not exist yet replays to
    the empty state at version -1.

    Every action kind is state, not only the file actions, because a
    checkpoint and a clone are this state written back
    (:func:`_emit`) and a kind the fold dropped would be lost there:

    - DVs: losing add_dv would silently UNDELETE every MOR-deleted
      row; the LIVE set (add_dv minus remove_dv) is carried, so a
      restore-retired sidecar does not resurrect either.
    - constraints: losing them would let later writes skip
      enforcement registered before the collapse.
    - renames/drops: losing them would revert every logical name to
      its physical one (and resurrect dropped columns). The fold is
      order-sensitive across both kinds, so the list keeps log order.
    - partitioning: losing it would let a later write mix
      partitions in one file, and leave pruned reads without a spec.
    - data schema: losing it would send every read back to the
      footer union, and widen a restore-narrowed schema again. The
      latest action wins.
    - bloom indexes: losing them degrades snapshot_point from
      skip-by-filter to open-every-file (results stay correct).
      Latest entry per (file, column) wins; an index on a removed
      file is dead metadata and is dropped.
    - txn markers: losing them would let a replayed streaming batch
      (append_idempotent) re-apply and duplicate rows. The latest
      version per app suffices — replays are monotone.
    - mtxn markers: recover_multi probes the log for them, and losing
      one would let recovery RE-APPLY a completed transaction.
    """
    st = _TableState()
    for c in _read_log(path, version):
        st.version = c["version"]
        for a in c["actions"]:
            if "add" in a:
                st.adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                st.adds.pop(a["remove"]["path"], None)
            elif "add_dv" in a:
                st.dvs[a["add_dv"]["path"]] = a["add_dv"]
            elif "remove_dv" in a:
                st.dvs.pop(a["remove_dv"]["path"], None)
            elif "constraint" in a:
                st.constraints.append(a["constraint"])
            elif "rename" in a or "drop_column" in a:
                st.schema.append(a)
            elif "partitioning" in a:
                st.partitioning = a["partitioning"]
            elif "data_schema" in a:
                st.data_schema = a["data_schema"]
            elif "index" in a:
                st.blooms[(a["index"]["path"], a["index"]["column"])] = a["index"]
            elif "txn" in a:
                t = a["txn"]
                st.txns[t["app"]] = max(st.txns.get(t["app"], t["version"]), t["version"])
            elif "mtxn" in a:
                st.mtxns.add(a["mtxn"])
    st.blooms = {k: v for k, v in st.blooms.items() if k[0] in st.adds}
    return st


def _emit(st: _TableState, rebase=lambda p: p) -> list[dict]:
    """The inverse of :func:`_replay`: actions that replay to ``st``
    (version aside). ``rebase`` maps every file path — data files,
    DV sidecars and the files bloom indexes key on — into the target
    table's log form (identity for a checkpoint; a shallow clone
    passes ``../``-relative references to the source's files)."""
    def moved(entry: dict) -> dict:
        return {**entry, "path": rebase(entry["path"])}

    return (
        ([{"partitioning": st.partitioning}] if st.partitioning else [])
        + ([{"data_schema": st.data_schema}] if st.data_schema else [])
        + [{"constraint": c} for c in st.constraints]
        + [{"add_dv": moved(d)} for d in st.dvs.values()]
        + list(st.schema)
        + [{"index": moved(i)} for _, i in sorted(st.blooms.items())]
        + [{"txn": {"app": a, "version": v}} for a, v in sorted(st.txns.items())]
        + [{"mtxn": m} for m in sorted(st.mtxns)]
        + [{"add": moved(a)} for a in st.adds.values()]
    )


def checkpoint_log(path: str) -> int:
    """Write a log checkpoint at the current version: the replayed
    table state (:func:`_emit`) in one file. Subsequent reads replay
    from here; all commit files are left in place so time travel to
    pre-checkpoint versions still works (those reads ignore the
    checkpoint because it is above their version). Trimming the
    pre-checkpoint prefix is a separate, explicit act —
    :func:`expire_log` — so checkpointing alone never shrinks the
    time-travel window."""
    st = _replay(path)
    if st.version < 0:
        raise FileNotFoundError(f"no txlog table at {path}")
    # tmp name must NOT match the reader's checkpoint pattern: a
    # concurrent _latest_checkpoint listing the log dir mid-write
    # would otherwise json.load a half-written file (the same
    # partial-file race link-publication closes for commit files)
    tmp = os.path.join(
        _log_dir(path), f"_ckpt_tmp_{uuid.uuid4().hex}"
    )
    with open(tmp, "w") as f:
        json.dump({"version": st.version, "actions": _emit(st)}, f)
    os.rename(tmp, _checkpoint_path(path, st.version))
    return st.version


def current_version(path: str) -> int:
    commits = _read_log(path)
    if not commits:
        raise FileNotFoundError(f"no txlog table at {path}")
    return commits[-1]["version"]


class VersionExpired(LookupError):
    """A read (time travel, history, timestamp resolution) addressed
    a version whose commit files were removed by :func:`expire_log`.
    The message names the earliest readable version — the retention
    horizon's replay base."""


def earliest_version(path: str) -> int:
    """Oldest version with a surviving commit file — the earliest
    readable version. 0 until :func:`expire_log` removes a prefix;
    afterwards the retained replay-base checkpoint's version. One
    log-dir listing, no file reads."""
    try:
        names = os.listdir(_log_dir(path))
    except FileNotFoundError:
        raise FileNotFoundError(f"no txlog table at {path}")
    vs = [int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()]
    if not vs:
        raise FileNotFoundError(f"no txlog table at {path}")
    return min(vs)


def _load_commit(path: str, version: int) -> dict:
    """Read one commit file, distinguishing the three absence cases:
    expired below the retention horizon (VersionExpired), never
    committed (FileNotFoundError), no table at all."""
    p = _commit_path(path, version)
    if not os.path.exists(p):
        e = earliest_version(path)  # raises FileNotFoundError: no table
        if version < e:
            raise VersionExpired(
                f"version {version} at {path} was removed by log "
                f"retention (earliest readable version: {e})"
            )
        raise FileNotFoundError(f"no committed version {version} at {path}")
    with open(p) as f:
        return json.load(f)


def expire_log(
    path: str,
    keep_versions: int | None = None,
    max_age_ms: int | None = None,
    now_ms: int | None = None,
) -> list[str]:
    """Log retention (Delta's ``logRetentionDuration``): physically
    delete commit files — and superseded checkpoints — below the
    newest checkpoint at or below the retention horizon. That
    checkpoint stays as the replay base, so every version from it to
    head remains fully readable (time travel, CDF, timestamp
    resolution included); versions below it raise
    :class:`VersionExpired` afterwards. Without a checkpoint at or
    below the horizon NOTHING is deleted (the checkpoint contract is
    never broken — run :func:`checkpoint_log` first, or let
    :func:`maintain` order the two).

    The horizon comes from either or both bounds (most-retentive
    wins when both are given):

    - ``keep_versions``: the last N versions stay readable.
    - ``max_age_ms``: every version readable at any timestamp within
      the age window stays — the horizon is the version a TIMESTAMP
      AS OF read at ``now - max_age_ms`` resolves to (Delta's
      semantics: the resolved version itself must survive, or the
      oldest in-window read would break). Legacy ts-less prefixes
      count as infinitely old. ``now_ms`` is a test seam.

    Rationale at scale: a 10⁶-commit streaming table otherwise
    accumulates 10⁶ JSON files forever, and every un-paged
    :func:`history` call walks all of them driver-side. Retention
    bounds the log dir at O(window); DATA files are untouched
    (that is :func:`vacuum`'s job — the two horizons compose but are
    independent, exactly as in Delta).

    Returns the log-dir file names deleted, sorted."""
    if keep_versions is None and max_age_ms is None:
        raise ValueError("pass keep_versions and/or max_age_ms")
    head = current_version(path)
    horizons = []
    if keep_versions is not None:
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        horizons.append(head - keep_versions + 1)
    if max_age_ms is not None:
        if max_age_ms < 0:
            raise ValueError("max_age_ms must be >= 0")
        cutoff = (_now_ms() if now_ms is None else now_ms) - max_age_ms
        try:
            horizons.append(version_at_timestamp(path, cutoff))
        except FileNotFoundError:
            return []  # the whole log is inside the age window
        except VersionExpired:
            return []  # everything below the cutoff is already gone
    horizon = min(horizons)
    if horizon <= 0:
        return []
    ck = _latest_checkpoint(path, horizon)
    if ck is None:
        return []  # no replay base at/below the horizon: expire nothing
    base = ck["version"]
    removed = []
    for name in sorted(os.listdir(_log_dir(path))):
        if name.endswith(".json") and name[:-5].isdigit():
            if int(name[:-5]) >= base:
                continue
        elif name.startswith("checkpoint.") and name.endswith(".json"):
            # a checkpoint below the base can no longer anchor a full
            # replay of any retained version — dead metadata
            if int(name.split(".")[1]) >= base:
                continue
        else:
            continue  # tmp debris is vacuum_orphans' job
        os.remove(os.path.join(_log_dir(path), name))
        removed.append(name)
    return sorted(removed)


def maintain(spark: SparkSession, path: str, policy: dict) -> list[dict]:
    """Threshold-driven table maintenance — the operational loop that
    turns the manual primitives (:func:`checkpoint_log`,
    :func:`compact_small`, :func:`expire_log`,
    :func:`vacuum_orphans`, :func:`stockify_spark.llm.pca.
    compact_gram`) into a policy a scheduler can run after every
    ingest cycle, the way Delta's auto-compaction / log cleanup do.
    Each action runs only if its policy key is present AND its metric
    crosses the threshold, so a converged table is a no-op: calling
    ``maintain`` twice in a row performs no state change on the
    second call (every decision reports ``triggered=False``).

    Policy keys (all optional):

    - ``checkpoint_commits``: N — write a log checkpoint when commits
      since the newest checkpoint exceed N (metric: that count;
      head+1 when no checkpoint exists).
    - ``small_file_bytes``: B (+ ``small_file_fraction``: f, default
      0.5; ``compact_target_partitions``, default 1) — selective
      small-file compaction when the fraction of live files under B
      bytes exceeds f, at least two fragments exist, and no deletion
      vectors are active (MOR sidecars block rewrites — materialize
      first; the decision then reports triggered=False rather than
      raising, so the rest of the policy still runs). With
      ``compact_sort_by`` (a column) or ``compact_zorder_by`` (2-4
      columns), the SAME trigger runs the clustered full rewrite
      instead — Delta's OPTIMIZE [ZORDER BY] semantics: ingest
      fragmentation destroys the data-skipping layout, so the repair
      restores clustering, not just file sizes. The rewrite is
      O(live set) where bin-packing is O(fragments) — at 100 TB
      scope the table; the decision row is ``compact_cluster``. On a
      partitioned table either form rewrites, in one commit, the
      files of every partition that has more than
      ``compact_target_partitions`` of them, and converges once none
      has.
    - ``gram_partial_rows``: B — fold the incremental-PCA stats table
      to one row when its partial-row count exceeds B (the table must
      have the gram schema; see llm/pca.compact_gram).
    - ``log_keep_versions``: K — expire commit files below the
      retention horizon (metric: commit files removed; a no-op until
      a checkpoint at/below the horizon exists, which the checkpoint
      step above supplies over successive calls).
    - ``log_max_age_ms``: A — the age form of the same expiry
      (Delta's logRetentionDuration proper), its own decision row
      ``expire_log_age``; both forms may be active at once.
    - ``vacuum_keep_last``: N — physically reclaim data files no
      retained version references (:func:`vacuum`; metric: files
      deleted). Runs AFTER compaction, so fragments a rewrite
      retired become reclaimable as soon as they leave the N-version
      window (immediately, at N=1).
    - ``orphan_age_seconds``: A — sweep never-referenced data/dv/log
      debris older than A seconds (metric: files removed).

    Actions run in that fixed order — checkpoint BEFORE retention, so
    the expiry's replay base exists; compaction before retention, so
    its remove-actions land above the base and stay replayable.

    Returns the decision table, one dict per policy key:
    ``{"action", "metric", "threshold", "triggered", "result"}`` —
    ``result`` is the commit version an action produced (-1 when not
    triggered) for checkpoint/compact actions, and the count of files
    removed for expire/vacuum. Cost: driver-side log reads plus only
    the Spark jobs of the actions actually triggered."""
    known = {
        "checkpoint_commits",
        "small_file_bytes",
        "small_file_fraction",
        "compact_target_partitions",
        "compact_sort_by",
        "compact_zorder_by",
        "gram_partial_rows",
        "log_keep_versions",
        "log_max_age_ms",
        "vacuum_keep_last",
        "orphan_age_seconds",
    }
    if "compact_sort_by" in policy and "compact_zorder_by" in policy:
        raise ValueError("compact_sort_by and compact_zorder_by are mutually exclusive")
    unknown = set(policy) - known
    if unknown:
        raise ValueError(f"unknown maintain policy keys: {sorted(unknown)}")
    decisions: list[dict] = []

    def record(action: str, metric, threshold, triggered: bool, result) -> None:
        decisions.append(
            {
                "action": action,
                "metric": float(metric),
                "threshold": float(threshold),
                "triggered": bool(triggered),
                "result": int(result),
            }
        )

    # checkpoint and small-file decisions read one state: a checkpoint
    # does not change it
    st = _replay(path)
    if "checkpoint_commits" in policy:
        if st.version < 0:
            raise FileNotFoundError(f"no txlog table at {path}")
        n = int(policy["checkpoint_commits"])
        ck = _latest_checkpoint(path)
        since = st.version - ck["version"] if ck is not None else st.version + 1
        trig = since > n
        record("checkpoint", since, n, trig, checkpoint_log(path) if trig else -1)

    if "small_file_bytes" in policy:
        b = int(policy["small_file_bytes"])
        f_thr = float(policy.get("small_file_fraction", 0.5))
        small = [r for r, a in st.adds.items() if _add_size(path, a) < b]
        frac = len(small) / len(st.adds) if st.adds else 0.0
        tp = int(policy.get("compact_target_partitions", 1))
        clustered = "compact_sort_by" in policy or "compact_zorder_by" in policy
        trig = frac > f_thr and len(small) >= 2 and not _has_active_dvs(path, st)
        if clustered:
            # convergence gate for the full rewrite: once the table is
            # at (or under) the target layout width, re-clustering the
            # same file set is a no-gain rewrite — the policy must be
            # a fixpoint at any scale, incl. toy tables whose
            # compacted files never outgrow small_file_bytes
            trig = trig and len(st.adds) > tp
        wide = []
        if st.partitioning is not None:
            # a partitioned table converges when no PARTITION is wider
            # than the target — the table-wide width gate would loop —
            # and only the files of the wider partitions are rewritten,
            # so the cost tracks the fragmentation as in the flat case
            groups = _group_adds_by_partition(st.adds.values()).values()
            wide = [a["path"] for g in groups if len(g) > tp for a in g]
            trig = trig and bool(wide)
        res = -1
        if trig:
            sort_by, zorder_by = policy.get("compact_sort_by"), policy.get("compact_zorder_by")
            if wide:
                res = _compact(spark, path, st, wide, tp, sort_by, zorder_by)
            elif clustered:
                res = compact(spark, path, target_partitions=tp, sort_by=sort_by, zorder_by=zorder_by)
            else:
                res = compact_small(spark, path, min_bytes=b, target_partitions=tp)
        record("compact_cluster" if clustered else "compact_small", frac, f_thr, trig, res)

    if "gram_partial_rows" in policy:
        b = int(policy["gram_partial_rows"])
        # lazy import: llm.pca imports this module
        from stockify_spark.llm.pca import compact_gram

        rows = snapshot(spark, path).count()
        trig = rows > b
        record(
            "compact_gram", rows, b, trig, compact_gram(spark, path) if trig else -1
        )

    if "log_keep_versions" in policy:
        k = int(policy["log_keep_versions"])
        removed = expire_log(path, k)
        n_commits = sum(1 for name in removed if name[:-5].isdigit())
        record("expire_log", n_commits, k, bool(removed), len(removed))

    if "log_max_age_ms" in policy:
        age = int(policy["log_max_age_ms"])
        removed = expire_log(path, max_age_ms=age)
        n_commits = sum(1 for name in removed if name[:-5].isdigit())
        record("expire_log_age", n_commits, age, bool(removed), len(removed))

    if "vacuum_keep_last" in policy:
        n = int(policy["vacuum_keep_last"])
        deleted = vacuum(path, keep_last=n)
        record("vacuum", len(deleted), n, bool(deleted), len(deleted))

    if "orphan_age_seconds" in policy:
        a = float(policy["orphan_age_seconds"])
        deleted = vacuum_orphans(path, min_age_seconds=a)
        record("vacuum_orphans", len(deleted), a, bool(deleted), len(deleted))

    return decisions


def maintained_sink(sink, spark: SparkSession, path: str, policy: dict, every: int = 10):
    """Wrap a ``foreachBatch`` sink so :func:`maintain` runs after
    every ``every``-th batch — the shape that keeps a streaming
    destination healthy WITHOUT an external scheduler: the same
    process that fragments the table (one small commit per
    micro-batch) amortizes its repair. The cadence keys on
    ``batch_id`` (deterministic under replay), and maintain itself is
    an idempotent fixpoint, so a replayed maintenance batch re-runs a
    converged policy and changes nothing — exactly-once data, at-
    least-once maintenance, which is safe BECAUSE maintenance is
    idempotent. Threshold gating means off-cadence fragmentation just
    waits for the next cadence point; thresholds, not the cadence,
    decide the work."""
    if every < 1:
        raise ValueError("every must be >= 1")

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)
        if (batch_id + 1) % every == 0:
            maintain(spark, path, policy)

    return wrapped


def _abs(path: str, p: str) -> str:
    """Resolve a logged (relative) file path against the table root.
    Absolute paths (pre-relative-log tables) pass through; the
    normpath collapses the ``../`` segments a shallow clone's
    foreign references carry."""
    return p if os.path.isabs(p) else os.path.normpath(os.path.join(path, p))


def live_files(path: str, version: int | None = None) -> list[str]:
    return _replay(path, version).files(path)


def _read_files(spark: SparkSession, path: str, st: _TableState, rels) -> DataFrame:
    """The one read of table files, given in log form, with the data
    schema ``st`` logs: Spark plans the scan from the log and opens no
    footer, and a column added by a later append reads as NULL on
    older files (additive schema evolution). A log without a
    ``data_schema`` action, written before the action existed, is read
    with ``mergeSchema``, which unions the files' footers in a Spark
    job."""
    files = [_abs(path, r) for r in rels]
    if st.data_schema is None:
        return spark.read.option("mergeSchema", "true").parquet(*files)
    return spark.read.schema(StructType.fromJson(st.data_schema)).parquet(*files)


def _data_schema(df: DataFrame, partition_cols=()) -> dict:
    """The body of a ``data_schema`` action for files written from
    ``df``: its schema, with every field nullable, since an older file
    reads a later-added column as NULL, and the partition columns
    moved last (:func:`_partition_last`)."""
    fields = [{**f.jsonValue(), "nullable": True} for f in df.schema.fields]
    return {"type": "struct", "fields": _fields_partition_last(fields, partition_cols)}


def _partition_last(names, partition_cols) -> list[str]:
    """``names`` with the partition columns among them moved to the
    end, sorted by name: the column order of every file, and so of
    every read, of a partitioned table."""
    return [c for c in names if c not in partition_cols] + sorted(
        c for c in names if c in partition_cols
    )


def _fields_partition_last(fields: list[dict], partition_cols) -> list[dict]:
    """:func:`_partition_last` over the fields of a logged schema."""
    by_name = {f["name"]: f for f in fields}
    return [by_name[c] for c in _partition_last(by_name, partition_cols)]


def _widen(schema: dict, other: dict) -> dict:
    """``schema`` with the fields of ``other`` that it lacks appended,
    matched by column name, in ``other``'s order."""
    have = {f["name"] for f in schema["fields"]}
    added = [f for f in other["fields"] if f["name"] not in have]
    return {**schema, "fields": schema["fields"] + added}


def _add_size(path: str, add: dict) -> int:
    """Byte size of a data file, from its add action: stream admission
    and maintenance planning size files from the log alone. Only a
    legacy add written before sizes were logged stats the file."""
    size = add.get("size")
    return int(size) if size is not None else os.path.getsize(_abs(path, add["path"]))


def _file_stats(fpath: str) -> dict:
    """Per-file column min/max from the parquet footer (one local
    metadata read at WRITE time — readers then prune from the log
    alone, no footer fetches; at 100 TB on object storage that is
    the difference between one log read and a GET per file)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(fpath)
    schema = md.schema.to_arrow_schema()
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested columns: skip stats
                continue
            import datetime

            mn, mx = st.min, st.max
            if isinstance(mn, (bytes, datetime.date, datetime.datetime)):
                continue  # keep the log JSON-serializable and simple
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    return {"min": mins, "max": maxs, "rows": md.num_rows}


def _write_files(df: DataFrame, path: str, partition_cols=()) -> list[dict]:
    """The one staged writer: write df's partitions as immutable files
    in data/ and return their add actions. Spark writes into a staging
    directory, and each leaf file is then renamed into flat data/
    under a fresh uuid name, so no reader sees a partial file.

    Each add carries the file's byte size (:func:`_add_size`; Delta's
    add.size) and per-file column stats, so stream admission,
    maintenance planning and data skipping read the commit alone.
    With ``partition_cols``, each file holds one partition and keeps
    the partition columns, last (:func:`_partition_last`): Spark splits
    the write by hidden copies of them, in the hive ``col=value``
    directory layout, and those directory values become the add's
    partitionValues (Delta's), so pruning plans from the log alone; an
    unpartitioned add carries no partitionValues key. 0-row files are
    dropped (:func:`_drop_empty`)."""
    import shutil
    import urllib.parse

    staging = os.path.join(_data_dir(path), f"_staging_{uuid.uuid4().hex}")
    writer = df.write
    if partition_cols:
        hidden = [f"_txlog_part_{i}" for i in range(len(partition_cols))]
        writer = df.select(
            *_partition_last(df.columns, partition_cols),
            *[F.col(c).alias(h) for c, h in zip(partition_cols, hidden)],
        ).write.partitionBy(*hidden)
    writer.mode("overwrite").parquet(staging)
    adds = []
    for root, dirs, files in os.walk(staging):
        dirs.sort()
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            rel = os.path.join("data", f"{uuid.uuid4().hex}.parquet")
            final = os.path.join(path, rel)
            os.rename(os.path.join(root, name), final)
            add = {"path": rel, "size": os.path.getsize(final), "stats": _file_stats(final)}
            if partition_cols:
                segs = [s.partition("=")[2] for s in os.path.relpath(root, staging).split(os.sep)]
                add["partitionValues"] = {
                    c: None if v == _HIVE_NULL else urllib.parse.unquote(v)
                    for c, v in zip(partition_cols, segs)
                }
            adds.append({"add": add})
    shutil.rmtree(staging, ignore_errors=True)
    return _drop_empty(path, adds)


def _drop_empty(path: str, adds: list[dict]) -> list[dict]:
    """``adds`` without their 0-row files, which are deleted: such a
    file adds a file open to every read and no rows. When every file
    is empty one is kept, so an empty write still reads back."""
    keep = [a for a in adds if a["add"]["stats"]["rows"]] or adds[:1]
    for a in adds:
        if a not in keep:
            os.remove(_abs(path, a["add"]["path"]))
    return keep


def _now_ms() -> int:
    """Wall clock in epoch millis — a seam so tests can simulate a
    backwards-stepping clock without patching the time module."""
    return int(time.time() * 1000)


def _try_commit(path: str, version: int, actions: list[dict]) -> bool:
    """Atomically publish the version file — the optimistic
    concurrency point: two writers racing to version N, one wins,
    the loser re-reads the log and retries at N+1.

    Publication is write-tmp + ``os.link`` (hard-link refuses to
    overwrite, atomically), so the winner is decided in the same
    instant the FULL body becomes visible. The previous shape
    (O_EXCL create, then write the body into the open fd) left a
    window where a concurrent loser's log re-read — or a concurrent
    reader — could observe an empty/partial commit file and die on
    JSONDecodeError; with link-publication a commit file either does
    not exist or is complete. (Delta's rename-without-overwrite
    contract, expressed with link because POSIX rename overwrites.)
    """
    # in-commit timestamp (Delta's In-Commit Timestamps shape):
    # strictly monotone across versions even when the wall clock
    # steps backwards, so timestamp time travel is well-defined.
    # version-1 is already durable when we attempt version (the
    # caller just replayed it), so reading it here is race-free.
    prev_ts = 0
    if version > 0:
        try:
            with open(_commit_path(path, version - 1)) as pf:
                prev_ts = json.load(pf).get("ts", 0)
        except FileNotFoundError:
            prev_ts = 0
    ts = max(_now_ms(), prev_ts + 1)
    body = json.dumps({"version": version, "actions": actions, "ts": ts})
    final = _commit_path(path, version)
    tmp = f"{final}.{uuid.uuid4().hex}.tmp"
    # the tmp write sits INSIDE the try/finally: a failed write (disk
    # full) must not strand the partial tmp file. A hard crash between
    # link and unlink still can — vacuum_orphans sweeps aged *.tmp
    # debris from the log dir for exactly that case.
    try:
        with open(tmp, "w") as f:
            f.write(body)
        os.link(tmp, final)  # atomic publish: fails if version exists
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # open() itself failed — nothing staged


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this transaction's actions
    (e.g. it removed a file this transaction also removes). The caller
    must re-derive its actions from the new snapshot and retry — the
    version-number race alone is NOT sufficient validation."""


def _rebase_schema(
    actions: list[dict], head: _TableState, base: _TableState | None = None
) -> list[dict]:
    """``actions`` as they land on ``head``: a ``data_schema`` action
    among them becomes, by column name, the head's schema followed by
    the action's fields the head lacks. With ``base``, the state the
    actions were derived from, a head field that ``base`` had and the
    action lacks is left out, so a restore still narrows the schema.
    Two appends that race for one version and each add a column thus
    both keep it, in commit order, and before the partition columns,
    which stay last."""
    if head.data_schema is None:
        return actions
    known = {f["name"] for f in base.data_schema["fields"]} if base and base.data_schema else set()

    def rebased(schema: dict) -> dict:
        mine = {f["name"] for f in schema["fields"]}
        kept = [f for f in head.data_schema["fields"] if f["name"] in mine or f["name"] not in known]
        fields = _widen({**schema, "fields": kept}, schema)["fields"]
        return {**schema, "fields": _fields_partition_last(fields, head.partition_cols)}

    return [
        {"data_schema": rebased(a["data_schema"])} if a.get("data_schema") is not None else a
        for a in actions
    ]


def _commit(path: str, actions: list[dict], base: _TableState | None = None) -> int:
    """Commit ``actions`` at the next version, retrying on a lost race
    against a fresh replay: remove actions are re-validated and a
    ``data_schema`` action is merged with the head's
    (:func:`_rebase_schema`, which ``base`` is passed to)."""
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    while True:
        # replay afresh on every attempt: a lost race means the state
        # the caller derived its actions from is no longer the head
        st = _replay(path)
        version = st.version + 1
        if removes:
            # Re-validate against the log we just read: after losing a
            # race, blindly retrying remove actions for files another
            # writer already removed (concurrent compaction/delete)
            # would double-remove and permanently corrupt the live set.
            gone = [p for p in removes if p not in st.adds]
            if gone:
                raise CommitConflict(
                    f"concurrent commit removed {len(gone)} file(s) this "
                    f"transaction also removes (first: {gone[0]}); "
                    "re-derive actions from the current snapshot and retry"
                )
        if _try_commit(path, version, _rebase_schema(actions, st, base)):
            return version


def _rewrite(path: str, st: _TableState, removed, *frames: DataFrame) -> int:
    """The one remove-and-add commit of every face that replaces files
    of the table ``st``: write ``frames`` in order as new files, split
    by ``st``'s partition columns, and commit them in place of the
    log-form paths ``removed``. The commit's conflict check refuses it
    if a concurrent writer removed any of those files first."""
    cols = st.partition_cols
    adds = _drop_empty(path, [a for df in frames for a in _write_files(df, path, cols)])
    return _commit(path, [{"remove": {"path": r}} for r in removed] + adds)


def create(df: DataFrame, path: str) -> int:
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    return _commit(path, [{"data_schema": _data_schema(df)}] + _write_files(df, path))


def append(df: DataFrame, path: str) -> int:
    return _commit(path, _stage_append(df, path, _replay(path), "append"))


def _stage_append(df: DataFrame, path: str, st: _TableState, op: str) -> list[dict]:
    """Validate an append batch against the table state and write its
    data files; returns their add actions, after a ``data_schema``
    action when the batch adds columns to the logged schema (or starts
    it, on a table with no files yet). Constraints validate on
    the LOGICAL batch (renaming a constrained column is rejected, so
    constraint names are always identity-mapped); files are written
    with PHYSICAL names so every file of the table shares one footer
    naming scheme. Partitioned tables write with their partition
    columns on every append face (append, append_idempotent,
    commit_multi): a streaming sink or a multi-table member that
    committed partition-LESS adds would be silently missed by every
    pruned read."""
    _validate_constraints(df, st)
    _reject_tombstoned(df, st)
    phys = _to_physical(df, st.fold_schema()[0])
    cols = st.partition_cols
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"{op} missing partition columns for {path}: {missing}")
    batch = _data_schema(phys, cols)
    if st.data_schema is not None:
        schema = _widen(st.data_schema, batch)
    else:
        # a log that predates the action keeps its mergeSchema reads
        schema = None if st.adds else batch
    logged = [] if schema in (None, st.data_schema) else [{"data_schema": schema}]
    return logged + _write_files(phys, path, cols)


class ConstraintViolation(RuntimeError):
    """A write whose rows violate a table CHECK constraint."""


def set_constraint(path: str, name: str, predicate_sql: str) -> int:
    """Register a CHECK constraint (Delta's ALTER TABLE ADD
    CONSTRAINT): a SQL predicate every FUTURE write must satisfy
    row-wise. Stored as a metadata action in the log — enforcement
    happens at write validation, existing data is not re-checked
    (the Delta semantics; run a validation query first if you need
    the history clean)."""
    return _commit(path, [{"constraint": {"name": name, "predicate": predicate_sql}}])


def _validate_constraints(df: DataFrame, st: _TableState) -> None:
    """Raise ConstraintViolation if df has any row violating a
    registered constraint. One aggregate job over the WRITE batch
    (never the table) per write — the standard enforcement cost."""
    cons = st.constraints
    if not cons:
        return
    checks = [
        F.sum(F.when(~F.expr(c["predicate"]), 1).otherwise(0)).alias(c["name"])
        for c in cons
    ]
    row = df.agg(*checks).collect()[0]
    bad = [(c["name"], row[c["name"]]) for c in cons if row[c["name"]]]
    if bad:
        raise ConstraintViolation(
            "; ".join(f"constraint {n!r} violated by {v} row(s)" for n, v in bad)
        )


# ---------------------------------------------------------------------------
# Hive-style partition columns (Delta's partitionValues)
# ---------------------------------------------------------------------------

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _group_adds_by_partition(adds) -> dict[tuple, list[dict]]:
    """Live add actions keyed by their partitionValues tuple: the
    partitions :func:`maintain` measures."""
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        key = tuple(sorted(a.get("partitionValues", {}).items()))
        groups.setdefault(key, []).append(a)
    return groups


def create_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> int:
    """Create a table partitioned by ``partition_by`` (Delta's
    partitionValues design): every write splits its files by those
    columns, each file keeps them, and each file's add action records
    its partition's values, so a reader prunes partitions from the
    commit metadata alone — zero file opens for pruned partitions —
    and reads the files it keeps like any other table's. Column types
    are recorded so a pruning predicate is normalized to the strings
    the log holds (:func:`_partition_adds`)."""
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in DataFrame: {missing}")
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    types = {c: df.schema[c].dataType.simpleString() for c in partition_by}
    spec = {"cols": list(partition_by), "types": types}
    return _commit(
        path,
        [{"partitioning": spec}, {"data_schema": _data_schema(df, partition_by)}]
        + _write_files(df, path, partition_by),
    )


def _partition_adds(path: str, st: _TableState, equals: dict) -> list[dict]:
    """Caller-supplied partition predicate -> the exact strings
    Spark's hive writer recorded in partitionValues. ``str(v)`` alone
    is wrong for booleans (directories say "true"/"false" while
    str(True) is "True" — r13 ADVICE item 3) and unreliable for
    float/decimal/timestamp/date formatting, where a formatting
    mismatch would silently return an EMPTY result instead of the
    partition. Booleans are normalized through the recorded type;
    the float/temporal types must be passed as the stored directory
    string (take one from :func:`partition_files`) — anything else
    raises loudly instead of matching nothing.

    Returns the live adds in the partitions ``equals`` selects."""
    part = st.partitioning
    if part is None:
        raise ValueError(f"table at {path} is not partitioned")
    unknown = [k for k in equals if k not in part["cols"]]
    if unknown:
        raise ValueError(f"not partition columns: {unknown}")
    types = part.get("types", {})
    want: dict[str, str | None] = {}
    for k, v in equals.items():
        typ = types.get(k, "string")
        if v is None:
            want[k] = None
        elif typ == "boolean":
            if isinstance(v, bool):
                want[k] = "true" if v else "false"
            elif isinstance(v, str) and v.lower() in ("true", "false"):
                want[k] = v.lower()
            else:
                raise ValueError(
                    f"{v!r} is not a boolean partition value for {k!r}"
                )
        elif isinstance(v, bool):
            raise ValueError(
                f"boolean value for non-boolean partition column {k!r} "
                f"(recorded type {typ})"
            )
        elif typ in ("float", "double") or typ.startswith(
            ("decimal", "timestamp", "date")
        ):
            if not isinstance(v, str):
                raise ValueError(
                    f"pass {typ} partition values for {k!r} as the stored "
                    f"directory string (see partition_files) — "
                    f"{type(v).__name__} does not round-trip str() reliably"
                )
            want[k] = v
        else:
            want[k] = str(v)
    return [
        a
        for a in st.adds.values()
        if all(a.get("partitionValues", {}).get(k) == v for k, v in want.items())
    ]


def snapshot_partition_pruned(
    spark: SparkSession,
    path: str,
    equals: dict,
    version: int | None = None,
) -> DataFrame:
    """Snapshot restricted to the partitions whose values equal
    ``equals`` (column -> value), decided ENTIRELY from the log:
    files in other partitions are never listed, opened, or planned —
    the partition-pruning contract that makes a 100 TB table behave
    like its matching slice. Complement to snapshot_pruned's
    stats-based skipping (which still opens nothing but must keep
    stats-less files; partition pruning is exact by construction)."""
    st = _replay(path, version)
    return _read_subset(spark, path, st, _partition_adds(path, st, equals), F.lit(True))


def compact_partition(
    spark: SparkSession,
    path: str,
    equals: dict,
    target_partitions: int = 1,
    sort_by: str | None = None,
) -> int:
    """Partition-scoped compaction: rewrite ONE partition's files as
    ``target_partitions`` new files of that partition, in one atomic
    commit (:func:`_compact`). Files of every other partition are
    untouched and stay shared with prior snapshots, so the rewrite
    cost tracks the fragmented partition, never the table — the
    per-partition OPTIMIZE Delta runs after streaming ingest into a
    partitioned layout. ``equals`` must name every partition column,
    the key of one partition."""
    st = _replay(path)
    part = st.partitioning
    if part is None:
        raise ValueError(f"table at {path} is not partitioned")
    if set(equals) != set(part["cols"]):
        raise ValueError(
            f"compact_partition needs the FULL partition key {part['cols']}"
        )
    adds = _partition_adds(path, st, equals)
    if len(adds) <= target_partitions:
        return st.version
    if sort_by in part["cols"]:
        raise ValueError(
            f"sort_by {sort_by!r} is a partition column — it is constant "
            "within the partition; cluster on a data column"
        )
    return _compact(spark, path, st, [a["path"] for a in adds], target_partitions, sort_by)


def partition_files(path: str, equals: dict, version: int | None = None) -> list[str]:
    """The file list a partition-pruned read would open — the
    observability hook tests and benchmarks assert IO bounds on."""
    return [a["path"] for a in _partition_adds(path, _replay(path, version), equals)]


def history(
    spark: SparkSession,
    path: str,
    start: int | None = None,
    end: int | None = None,
) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit, straight off the commit
    files (never the checkpoint collapse — history is the thing a
    checkpoint deliberately summarizes away). ``start``/``end``
    (inclusive) page the walk: default is every SURVIVING commit —
    earliest readable (0 until :func:`expire_log` trims the prefix)
    through head. Explicitly asking below the retention horizon
    raises VersionExpired; past head raises FileNotFoundError.
    Columns: version, ts_ms (in-commit timestamp, strictly monotone;
    NULL for legacy pre-timestamp commits), per-action-kind counts,
    add_bytes (sum of logged file sizes; NULL when any add predates
    size logging), is_change_commit (the stream's skip/refuse rule),
    and a derived operation kind — 'create' / 'append' / 'rewrite'
    (adds+removes) / 'delete' (removes or DV adds, no data adds) /
    'metadata' (constraint/rename/index/txn-only commits).

    Driver-side cost: one small JSON read per commit IN THE RANGE —
    paging is what keeps the observability face usable on a
    long-lived stream table (a 10⁶-commit log is not a 10⁶-file walk
    per look; pair with :func:`expire_log` to bound the log itself)."""
    head = current_version(path)
    if end is None:
        end = head
    elif end > head:
        raise FileNotFoundError(f"no committed version {end} at {path}")
    if start is None:
        start = earliest_version(path)
    if start < 0 or start > end:
        raise ValueError(f"bad history range [{start}, {end}]")
    rows = []
    for v in range(start, end + 1):
        c = _load_commit(path, v)
        acts = c["actions"]
        n_add = sum(1 for a in acts if "add" in a)
        n_remove = sum(1 for a in acts if "remove" in a)
        n_add_dv = sum(1 for a in acts if "add_dv" in a)
        n_remove_dv = sum(1 for a in acts if "remove_dv" in a)
        n_txn = sum(1 for a in acts if "txn" in a or "mtxn" in a)
        n_schema = sum(1 for a in acts if "rename" in a or "drop" in a)
        n_constraint = sum(1 for a in acts if "constraint" in a)
        n_index = sum(1 for a in acts if "index" in a)
        sizes = [a["add"].get("size") for a in acts if "add" in a]
        add_bytes = sum(sizes) if sizes and all(s is not None for s in sizes) else None
        is_change = n_remove > 0 or n_add_dv > 0 or n_remove_dv > 0
        if v == 0 and n_add:
            op = "create"
        elif n_add and is_change:
            op = "rewrite"
        elif is_change:
            op = "delete"
        elif n_add:
            op = "append"
        else:
            op = "metadata"
        rows.append(
            (
                v,
                c.get("ts"),
                n_add,
                n_remove,
                n_add_dv,
                n_remove_dv,
                n_txn,
                n_schema,
                n_constraint,
                n_index,
                add_bytes,
                is_change,
                op,
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, ts_ms long, n_add long, n_remove long,"
        " n_add_dv long, n_remove_dv long, n_txn long, n_schema long,"
        " n_constraint long, n_index long, add_bytes long,"
        " is_change_commit boolean, operation string",
    )


def table_stats(path: str, version: int | None = None) -> dict:
    """Metadata-only table statistics as of ``version``: exact row
    count plus per-column min/max, folded from the per-file stats the
    log already carries (Delta's SELECT COUNT(*) optimization). Zero
    data files are opened — at 100 TB this answers COUNT/MIN/MAX
    from one driver-side log read instead of a full scan. Only
    columns with stats in EVERY live file report min/max (a file
    without stats could hide the true extremum).

    With active deletion vectors the row count subtracts the DV
    cardinality (exact — the sidecars, sized by deleted rows, are
    read driver-side); min/max stay footer-derived and become
    conservative BOUNDS, since a MOR-deleted row may have held the
    true extremum (Delta's stats carry the same caveat under DVs)."""
    st = _replay(path, version)
    adds = list(st.adds.values())
    rows = sum(a["stats"]["rows"] for a in adds)
    # merge-on-read deletes: the per-file footer counts still include
    # MOR-deleted rows, so subtract the ACTIVE deletion-vector
    # cardinality — (file, pos) pairs deduped across sidecars and
    # restricted to live target files, exactly the set the read
    # path's anti-join removes. Sidecars are small (proportional to
    # deleted rows) and read driver-side with pyarrow; the common
    # no-DV case stays a pure log read.
    dv_rels = list(st.dvs)
    if dv_rels:
        # distinct-(file,pos) count WITHOUT a Python set of tuples —
        # a set costs ~150 B/pair, so a large MOR backlog could
        # exhaust driver memory for a "metadata read" (r9 advisor
        # finding). Two tiers:
        #   * sidecars ≤ 256 MB on disk: pyarrow concat + columnar
        #     group-by (dictionary-encoded file names + int64
        #     positions, ~10-20 B/pair — an order of magnitude under
        #     the set, still driver-side and fast);
        #   * larger backlogs: delegate the distinct count to Spark
        #     (executor-side shuffle, O(1) driver memory). Such a
        #     table has GBs of deletions — a cluster job is the only
        #     honest answer, and materialize_dvs is overdue anyway.
        import pyarrow as pa
        import pyarrow.parquet as pq

        live_names = {os.path.basename(a["path"]) for a in adds}
        abs_rels = [_abs(path, rel) for rel in dv_rels]
        total_bytes = sum(os.path.getsize(p) for p in abs_rels)
        if total_bytes <= 256 * 1024 * 1024:
            t = pa.concat_tables(
                pq.read_table(p, columns=["_dv_file", "_dv_pos"])
                for p in abs_rels
            )
            t = t.filter(
                pa.compute.is_in(
                    t.column("_dv_file"),
                    value_set=pa.array(sorted(live_names)),
                )
            )
            rows -= t.group_by(["_dv_file", "_dv_pos"]).aggregate([]).num_rows
        else:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "table_stats: DV sidecars exceed the driver-side "
                    "budget and no active SparkSession is available "
                    "for the distributed distinct count"
                )
            dv = spark.read.schema(_DV_SCHEMA).parquet(*abs_rels).where(
                F.col("_dv_file").isin(*sorted(live_names))
            )
            rows -= dv.select("_dv_file", "_dv_pos").distinct().count()
    mins: dict = {}
    maxs: dict = {}
    common: set | None = None
    for a in adds:
        cols = set(a["stats"].get("min", {})) & set(a["stats"].get("max", {}))
        common = cols if common is None else (common & cols)
    for a in adds:
        for name in common or ():
            mn = a["stats"]["min"][name]
            mx = a["stats"]["max"][name]
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    m, dropped = st.fold_schema()
    rev = {p: lg for lg, p in m.items()}
    return {
        "rows": rows,
        "min": {rev.get(k, k): v for k, v in mins.items() if k not in dropped},
        "max": {rev.get(k, k): v for k, v in maxs.items() if k not in dropped},
    }


def clone(src: str, dst: str, version: int | None = None) -> int:
    """Zero-copy shallow clone (Delta's SHALLOW CLONE): commit 0 of
    ``dst`` references ``src``'s live files AS OF ``version`` — no
    data is read, copied, or moved; the clone is O(live-file-count)
    metadata. References are stored RELATIVE to the clone's root
    (``../``-traversal form) so a parent directory holding both
    tables stays relocatable as a unit; ``_abs`` normalizes the dots
    at read time. Afterwards the two tables diverge freely:
    appends/deletes/compactions on the clone land in its own log and
    data dir, and the source never observes them. ``vacuum`` on
    either table cannot touch the other's files: the clone's vacuum
    skips foreign (root-escaping) references by rule, and the
    source's vacuum only consults its own log.

    The clone's commit 0 is the source's replayed state written back
    (:func:`_emit`), so it carries every kind of table metadata a
    checkpoint does. DV sidecar paths are rebased like data paths
    (read-only foreign references — the clone's vacuum never deletes
    root-escaping paths, and materialize_dvs on the clone writes new
    files into the CLONE's data dir, leaving the source untouched);
    bloom indexes key on the add's logged path, so they are rebased
    to match."""
    st = _replay(src, version)
    os.makedirs(_log_dir(dst), exist_ok=True)
    os.makedirs(_data_dir(dst), exist_ok=True)
    return _commit(dst, _emit(st, lambda p: os.path.relpath(_abs(src, p), dst)))


# ---------------------------------------------------------------------------
# Column mapping — rename without rewrite (Delta's column-mapping mode)
# ---------------------------------------------------------------------------
#
# Files keep their ORIGINAL ("physical") column names forever; a
# ``rename`` log action only changes the logical name readers see.
# A rename is therefore one tiny log write — never a 100 TB rewrite —
# and every historical file stays readable. Translation happens at
# exactly two boundaries: physical→logical when a snapshot leaves the
# scan (``_to_logical``), logical→physical when a write batch enters
# the file layer (``_to_physical``). Stats skipping keeps working
# because per-file min/max are keyed by physical names and the pruned
# read translates its column argument before consulting them.
# Mirroring Delta, renaming a column referenced by an active CHECK
# constraint is REJECTED (constraints therefore always bind to stable
# names and need no translation).


def _to_logical(df: DataFrame, m: dict, dropped: set | frozenset = frozenset()) -> DataFrame:
    """Rename physical columns to their logical names in ONE select —
    sequential withColumnRenamed could collide when one column's
    logical name equals another's physical name. Tombstoned physical
    columns (dropped) are excluded; everything else (including _dv_*
    tags) passes through unchanged."""
    if not m and not dropped:
        return df
    rev = {p: lg for lg, p in m.items()}
    return df.select(
        *[F.col(c).alias(rev.get(c, c)) for c in df.columns if c not in dropped]
    )


def _to_physical(df: DataFrame, m: dict) -> DataFrame:
    """Inverse of :func:`_to_logical` for write batches."""
    if not m:
        return df
    return df.select(*[F.col(c).alias(m.get(c, c)) for c in df.columns])


def _schema_change(path: str, name: str, verb: str, refuse) -> _TableState:
    """Shared checks of :func:`rename_column` and :func:`drop_column`,
    in this order: the table has files, ``name`` is a current logical
    column, ``refuse(logical columns)`` returns no error message,
    ``name`` is not a partition column (the log keys partitionValues
    on its name), and no CHECK constraint references ``name``
    (Delta's rule — constraints bind by name and a silent retarget
    would change what they enforce). Returns the state the checks read. Drops are
    folded too: a tombstoned physical must neither be renameable (its
    logical name no longer exists) nor block a rename TO its name
    (logical names are free once the column is dropped — the physical
    tombstone still protects the file layer via _reject_tombstoned)."""
    import re

    import pyarrow.parquet as pq

    st = _replay(path)
    if not st.adds:
        raise FileNotFoundError(f"empty txlog table at {path}")
    m, dropped = st.fold_schema()
    if st.data_schema is not None:
        physical_cols = {f["name"] for f in st.data_schema["fields"]}
    else:
        physical_cols = set()
        for f in st.files(path):
            physical_cols.update(pq.read_schema(f).names)
    rev = {p: lg for lg, p in m.items()}
    logical_cols = {rev.get(p, p) for p in physical_cols if p not in dropped}
    if name not in logical_cols:
        raise ValueError(f"column {name!r} does not exist (have {sorted(logical_cols)})")
    if err := refuse(logical_cols):
        raise ValueError(err)
    if name in st.partition_cols:
        raise ValueError(f"cannot {verb} {name!r}: it is a partition column of {path}")
    for c in st.constraints:
        if re.search(rf"\b{re.escape(name)}\b", c["predicate"]):
            raise ValueError(
                f"cannot {verb} {name!r}: CHECK constraint {c['name']!r} "
                f"references it ({c['predicate']!r}); drop or rewrite the "
                "constraint first"
            )
    return st


def rename_column(path: str, old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data file: commits one
    ``rename`` action; all reads from this version translate the
    file-level (physical) name to ``new`` and writes translate back.
    Raises if ``old`` doesn't exist, ``new`` collides with a current
    logical name, or an active CHECK constraint references ``old``."""
    _schema_change(
        path, old, "rename", lambda cols: new in cols and f"column {new!r} already exists"
    )
    return _commit(path, [{"rename": {"from": old, "to": new}}])


def drop_column(path: str, name: str) -> int:
    """Drop a column WITHOUT rewriting any data file: commits one
    ``drop_column`` action tombstoning the physical name. Reads from
    this version exclude it; time travel below still sees it; a
    later column with the SAME physical name is rejected at write
    time (no field ids — re-adding would resurrect the old bytes on
    old files). Dropping a CHECK-constrained column is rejected,
    mirroring :func:`rename_column`."""
    st = _schema_change(
        path, name, "drop", lambda cols: len(cols) == 1 and "cannot drop the table's last column"
    )
    physical = st.fold_schema()[0].get(name, name)
    return _commit(
        path, [{"drop_column": {"logical": name, "physical": physical}}]
    )


def _reject_tombstoned(df: DataFrame, st: _TableState) -> None:
    """Write-side guard (the no-field-ids analog of Delta's field-id
    protection), two hazards:

    1. a batch column whose PHYSICAL name (after rename translation)
       collides with a tombstoned dropped column would resurrect the
       dropped bytes on old files at read time;
    2. a batch column named like the IN-USE physical name of a
       *different* logical column (e.g. after rename a->b, a new
       column literally named 'a') would be written as physical 'a'
       and silently read back as logical 'b' on every snapshot —
       data mis-attribution. Only names that pass through
       untranslated are hazards: a name that is itself a logical
       name in the mapping translates away before hitting the file.
    """
    m, dropped = st.fold_schema()
    if not m and not dropped:
        return
    bad = [c for c in df.columns if m.get(c, c) in dropped]
    if bad:
        raise ValueError(
            f"column(s) {bad} were dropped from this table; re-adding a "
            "column with a tombstoned physical name requires a table "
            "rewrite (no field ids to disambiguate the old bytes)"
        )
    phys_in_use = set(m.values())
    aliased = [c for c in df.columns if c in phys_in_use and c not in m]
    if aliased:
        owners = {p: lg for lg, p in m.items()}
        raise ValueError(
            f"column(s) {aliased} collide with the physical storage name "
            f"of renamed column(s) "
            f"{[owners[c] for c in aliased]}; writing them would alias the "
            "new values into the renamed column on read. Pick a different "
            "name (no field ids to disambiguate physical storage)"
        )


def commit_timestamp(path: str, version: int) -> int:
    """The in-commit timestamp (epoch millis) of ``version``. Raises
    for unknown versions (FileNotFoundError), versions expired by log
    retention (VersionExpired), and commits written before timestamps
    existed (legacy logs have no "ts" field)."""
    ts = _load_commit(path, version).get("ts")
    if ts is None:
        raise ValueError(
            f"version {version} at {path} predates in-commit timestamps"
        )
    return int(ts)


def version_at_timestamp(path: str, ts_ms: int) -> int:
    """Latest version whose in-commit timestamp is <= ``ts_ms`` —
    Delta's TIMESTAMP AS OF resolution rule. Binary search over the
    dense SURVIVING version range (timestamps are strictly monotone;
    commits from before timestamps existed sort as older than every
    timestamped one; :func:`expire_log` only ever removes a prefix,
    so the range stays dense). Raises VersionExpired when ``ts_ms``
    lands below the retention horizon, FileNotFoundError when it is
    earlier than the first commit of an unexpired log."""

    def _ts(v: int) -> int:
        with open(_commit_path(path, v)) as f:
            return json.load(f).get("ts", -1)

    lo, hi = earliest_version(path), current_version(path)
    if _ts(lo) > ts_ms:
        if lo > 0:
            raise VersionExpired(
                f"timestamp {ts_ms} at {path} predates the log retention "
                f"horizon (earliest readable version {lo} is at {_ts(lo)})"
            )
        raise FileNotFoundError(
            f"no commit at or before timestamp {ts_ms} at {path} "
            f"(first commit is at {_ts(lo)})"
        )
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _ts(mid) <= ts_ms:
            lo = mid
        else:
            hi = mid - 1
    return lo


def snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Read the table as of ``version`` (default: latest) — time
    travel is just replaying less of the log. The files are read with
    the data schema logged as of ``version`` (:func:`_read_files`), so
    columns added by later appends read as NULL on older files
    (additive schema evolution), a version before a column was added
    reads without it, and building the DataFrame opens no footer. Active
    deletion vectors (merge-on-read deletes) are applied as one
    anti-join on (file name, row position). Column renames active at
    ``version`` translate physical file names to logical ones —
    time travel to a pre-rename version sees the old names.
    ``timestamp_ms`` resolves to a version via the in-commit
    timestamps (TIMESTAMP AS OF); passing both is rejected."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp_ms, not both")
        version = version_at_timestamp(path, timestamp_ms)
    return _snapshot(spark, path, _replay(path, version))


def _snapshot(spark: SparkSession, path: str, st: _TableState) -> DataFrame:
    """:func:`snapshot` of an already replayed state."""
    m, dropped = st.fold_schema()
    if not st.adds:
        raise FileNotFoundError(f"empty txlog table at {path}")
    base = _read_files(spark, path, st, st.adds)
    return _to_logical(_with_dvs(spark, path, st, base), m, dropped)


# The columns of a deletion-vector sidecar: sidecars are read with
# this schema, so no read of them infers one.
_DV_SCHEMA = StructType(
    [StructField("_dv_file", StringType()), StructField("_dv_pos", LongType())]
)


def _dv_pair_df(spark: SparkSession, path: str, st: _TableState) -> DataFrame | None:
    """ACTIVE deletion pairs of ``st``: distinct (file name,
    row position) rows from every live sidecar, restricted to live
    target files — the single definition of "which rows are MOR-
    deleted" that every consumer (reads, CDF, new deletes,
    materialize) must share, or the read paths diverge (r9 review:
    this was five inline copies). None when no DVs are active.

    A DV row is active only while its target file is live; a later
    materialize/COW rewrite removed the file and the rewrite already
    applied the deletions."""
    live_names = {os.path.basename(f) for f in st.adds}
    if not st.dvs or not live_names:
        return None
    return (
        spark.read.schema(_DV_SCHEMA).parquet(*[_abs(path, p) for p in st.dvs])
        .filter(F.col("_dv_file").isin(*sorted(live_names)))
        .select("_dv_file", "_dv_pos")
        .distinct()
    )


def _tag_positions(base: DataFrame) -> DataFrame:
    """Prefix a parquet-read DataFrame with the (_dv_file, _dv_pos)
    identity columns DV pairs join on, from the scan's own
    ``_metadata`` — no data column is touched. A file is named by its
    base name, which is unique within a table (data files are
    ``<uuid>.parquet``), so legacy absolute, clone-relative and
    percent-encoded forms of the same path all name it alike."""
    return base.select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "_dv_file"
        ),
        F.col("_metadata.row_index").alias("_dv_pos"),
        "*",
    )


def _touched(st: _TableState, tagged: DataFrame) -> list[str]:
    """Log-form paths of the live files named in ``tagged._dv_file``:
    one distinct collect, bounded by file count, never row count. An
    unknown name means a corrupt log, and fails loud."""
    by_name = {os.path.basename(p): p for p in st.adds}
    names = tagged.select("_dv_file").distinct().collect()
    return sorted(by_name[r["_dv_file"]] for r in names)


def _hits(spark: SparkSession, path: str, st: _TableState, predicate) -> DataFrame:
    """(_dv_file, _dv_pos) of every raw row of the live files where
    ``predicate`` (over LOGICAL names) is TRUE — the scan both delete
    faces share. Rows where it is FALSE or NULL are not hits."""
    m, dropped = st.fold_schema()
    base = _read_files(spark, path, st, st.adds)
    return (
        _to_logical(_tag_positions(base), m, dropped)
        .filter(predicate)
        .select("_dv_file", "_dv_pos")
    )


def _with_dvs(
    spark: SparkSession, path: str, st: _TableState, base: DataFrame
) -> DataFrame:
    """Apply active deletion vectors to a DataFrame read from (any
    subset of) the live files — EVERY txlog read path must route
    through this, including the pruned/point readers: a raw read of
    a DV'd table resurrects deleted rows. Pruning composes freely:
    DV rows for files a reader skipped simply never match."""
    dv = _dv_pair_df(spark, path, st)
    if dv is None:
        return base
    return _tag_positions(base).join(
        F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti"
    ).drop("_dv_file", "_dv_pos")


def _read_subset(
    spark: SparkSession, path: str, st: _TableState, adds: list[dict], cond
) -> DataFrame:
    """Rows of the live files ``adds`` (a pruned subset of
    ``st.adds``) where ``cond`` (over PHYSICAL names) holds, read
    through ``st``'s deletion vectors and column names — the tail of
    every pruned reader. No surviving file reads as the table's
    schema with no rows."""
    if not adds:
        return _snapshot(spark, path, st).filter(F.lit(False))
    m, dropped = st.fold_schema()
    base = _read_files(spark, path, st, [a["path"] for a in adds])
    return _to_logical(_with_dvs(spark, path, st, base).filter(cond), m, dropped)


def _stats_disjoint(add: dict, bounds) -> bool:
    """True iff ``add``'s logged min/max stats prove its file holds no
    row inside the ranges ``bounds``, (physical column, lower, upper)
    triples with inclusive bounds: the one data-skipping test of the
    pruned batch readers and the stream's pushed filters. A column
    without stats, an open (None) bound, or a bound the stats cannot
    be compared with proves nothing, so the file is kept."""
    stats = add.get("stats", {})
    for column, lower, upper in bounds:
        mn = stats.get("min", {}).get(column)
        mx = stats.get("max", {}).get(column)
        if mn is None or mx is None:
            continue
        try:
            if (upper is not None and mn > upper) or (lower is not None and mx < lower):
                return True
        except TypeError:
            continue
    return False


def snapshot_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lower,
    upper,
    version: int | None = None,
) -> DataFrame:
    """Snapshot restricted to ``lower <= column <= upper``, pruning
    files from the LOG's stored min/max before Spark ever lists them
    — the Delta/Iceberg data-skipping read path. Files without stats
    for the column are conservatively kept; the residual filter is
    still applied, so the result is exact regardless of stats. The
    one-column form of :func:`snapshot_pruned_multi`."""
    return snapshot_pruned_multi(spark, path, [(column, lower, upper)], version)


def delete_where(spark: SparkSession, path: str, predicate) -> int:
    """Copy-on-write delete: only files that actually contain
    matching rows are rewritten; untouched files stay shared between
    the old and new snapshots. One scan finds the touched files (the
    hit scan :func:`delete_where_dv` records), and they are rewritten
    together in one read and one write. A row is deleted only where
    ``predicate`` is TRUE — rows where it is NULL survive, exactly as
    under :func:`delete_where_dv`."""
    st = _replay(path)
    _require_no_dvs(path, st, "delete_where")
    if not st.adds:
        return current_version(path)  # raises when there is no table
    touched = _touched(st, _hits(spark, path, st, predicate))
    if not touched:
        return st.version
    m, dropped = st.fold_schema()
    part = _read_files(spark, path, st, touched)
    # predicate binds LOGICAL names; files carry physical ones.
    # NOTE: the rewrite drops tombstoned physical columns, so a
    # pre-drop time travel over rewritten rows reads them as NULL
    # (same caveat class as vacuum breaking old time travel).
    keep = _to_physical(
        _to_logical(part, m, dropped).filter(~F.coalesce(predicate, F.lit(False))), m
    )
    return _rewrite(path, st, touched, keep)


def merge_upsert(
    spark: SparkSession, path: str, source: DataFrame, key_cols: list[str]
) -> int:
    """Delta-style MERGE: WHEN MATCHED UPDATE (all columns) + WHEN NOT
    MATCHED INSERT, as one atomic commit.

    Touched-file discovery is ONE distributed job, not a per-file
    loop: the snapshot is scanned with its file names (from the
    scan's ``_metadata``), semi-joined against the (broadcast) source
    keys, and the distinct file list collected — bounded by file
    count, never row count. Only files that actually contain matched
    keys are rewritten (their non-matched rows survive via an
    anti-join); every other file stays shared with prior versions.
    The source rows (updates' new values + inserts) land as new
    files. The change feed of the commit is then exactly: deletes =
    old values of updated rows, inserts = source rows — the
    add/remove multiset difference cancels the copy-on-write
    survivors, same as delete_where.
    """
    st = _replay(path)
    _require_no_dvs(path, st, "merge_upsert")
    m, dropped = st.fold_schema()
    # source arrives in LOGICAL names; the whole merge runs physical
    _reject_tombstoned(source, st)
    source = _to_physical(source, m)
    key_cols = [m.get(k, k) for k in key_cols]
    src = materialize(source)  # read twice: key probe + data write
    snap = _read_files(spark, path, st, st.adds)
    # touched files are mapped back to the LOG-FORM paths of the live
    # set by file name: remove actions must string-match their adds,
    # which may be legacy ABSOLUTE paths
    touched = _touched(
        st,
        _tag_positions(snap).join(F.broadcast(src.select(*key_cols)), key_cols, "leftsemi"),
    )
    # the write schema excludes tombstoned (dropped) physical columns:
    # the source batch cannot carry them, and rewritten survivors drop
    # them — same pre-drop time-travel caveat as delete_where's rewrite
    write_cols = [c for c in snap.columns if c not in dropped]
    frames = [src.select(*write_cols)]
    if touched:
        keep = _read_files(spark, path, st, touched).join(
            F.broadcast(src.select(*key_cols)), key_cols, "leftanti"
        )
        frames.insert(0, keep.select(*write_cols))
    return _rewrite(path, st, touched, *frames)


def compact_small(
    spark: SparkSession,
    path: str,
    min_bytes: int = 8 << 20,
    target_partitions: int = 1,
) -> int:
    """Selective small-file compaction — the real OPTIMIZE semantics:
    only files under ``min_bytes`` are rewritten (bin-packed into
    ``target_partitions`` new files); every file already at a healthy
    size keeps its PATH, stays shared with older snapshots, and costs
    nothing to "compact". A streaming sink or trickle of appends
    produces thousands of KB-scale files; full-table compaction would
    rewrite 100 TB to fix 100 MB — this rewrites only the fragments,
    so the maintenance cost tracks the fragmentation, not the table.
    Returns the commit version (unchanged if nothing qualifies)."""
    st = _replay(path)
    _require_no_dvs(path, st, "compact_small")
    small = [r for r, a in st.adds.items() if _add_size(path, a) < min_bytes]
    if len(small) < 2:
        return st.version  # nothing worth packing
    return _compact(spark, path, st, small, target_partitions)


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    sort_by: str | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the live set as ``target_partitions`` files (small-file
    compaction); readers of old versions still see the old files.
    ``sort_by`` range-partitions and sorts the rewrite on that column
    (the OPTIMIZE-with-clustering form): each output file then covers
    a disjoint value range, so parquet footer min/max skips whole
    files on range probes — the same physics as
    sources/io.write_sorted_layout, applied through the log.
    ``zorder_by`` clusters on the Morton interleave of 2-4 columns
    instead (the OPTIMIZE ZORDER BY form): a 1-D sort gives perfect
    min/max boxes on ONE column and useless ones on every other,
    while the Z-curve gives every listed column boxes ~sqrt-as-tight
    — the multi-dimensional data-skipping trade, measured in
    bench.py's layout experiment."""
    st = _replay(path)
    _require_no_dvs(path, st, "compact")
    return _compact(spark, path, st, list(st.adds), target_partitions, sort_by, zorder_by)


def _compact(
    spark: SparkSession,
    path: str,
    st: _TableState,
    rels: list[str],
    n: int,
    sort_by: str | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """The one compaction body of :func:`compact`, :func:`compact_small`
    and :func:`compact_partition`: read the live files ``rels`` of
    ``st``, cluster them into ``n`` files (``sources/io.cluster``) and
    commit those in their place (:func:`_rewrite`). ``sort_by`` and
    ``zorder_by`` name LOGICAL columns of ``st`` and map here to the
    physical names the files carry; a name that is not a current
    logical column — a retired name after a rename among them, which
    the files still carry — is refused."""
    m, dropped = st.fold_schema()
    df = _read_files(spark, path, st, rels)
    names = [sort_by] if sort_by is not None else zorder_by or []
    if names:
        logical = _to_logical(df, m, dropped).columns
        unknown = [c for c in names if c not in logical]
        if unknown:
            raise ValueError(f"cannot cluster on {unknown}: not columns of {path} (have {logical})")
    df = cluster(
        df,
        n,
        sort_by=None if sort_by is None else m.get(sort_by, sort_by),
        zorder_by=None if zorder_by is None else [m.get(c, c) for c in zorder_by],
    )
    return _rewrite(path, st, rels, df)


def snapshot_pruned_multi(
    spark: SparkSession,
    path: str,
    preds: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Multi-column log-level data skipping: ``preds`` is a list of
    (column, lower, upper), inclusive, where a None bound is open; a
    file is opened unless its stored min/max box is provably
    disjoint from some range (:func:`_stats_disjoint`). On a z-ordered
    table all listed columns prune; on a 1-D-sorted table only the
    sort column does — same exact result either way (the residual
    filter runs regardless), different files_read."""
    st = _replay(path, version)
    m, dropped = st.fold_schema()
    preds = [(m.get(c, c), lo, hi) for c, lo, hi in preds]  # physical stats keys
    if any(c in dropped for c, _, _ in preds):
        raise ValueError("predicate references a dropped column")
    keep = [a for a in st.adds.values() if not _stats_disjoint(a, preds)]
    residual = F.lit(True)
    for column, lower, upper in preds:
        if lower is not None:
            residual = residual & (F.col(column) >= lower)
        if upper is not None:
            residual = residual & (F.col(column) <= upper)
    return _read_subset(spark, path, st, keep, residual)


@dataclass
class _ChangeSpec:
    """What one commit changed, planned once for both change feeds:
    :func:`changes` and the stream's read_changes face
    (``txlog_stream._plan_changes``).

    - ``added`` / ``removed``: absolute paths of the data files the
      commit added and removed;
    - ``sidecars``: its ``add_dv`` / ``remove_dv`` entries;
    - ``before`` / ``after``: the table states either side of it;
    - ``both``: absolute paths of the files live at both versions that
      the commit's sidecars target — the only files whose rows a DV
      commit deletes or resurrects.

    The states and ``both`` are read on first use, so a pure append is
    planned from its commit file alone."""

    path: str
    version: int
    added: list[str]
    removed: list[str]
    sidecars: list[dict]

    @cached_property
    def before(self) -> _TableState:
        return _replay(self.path, self.version - 1) if self.version > 0 else _TableState()

    @cached_property
    def after(self) -> _TableState:
        return _replay(self.path, self.version)

    @cached_property
    def both(self) -> list[str]:
        # the sidecars' file-name columns are read driver-side
        # (deleted-rows-sized), so the feed opens only the data files
        # they name: O(commit), never O(table)
        if not self.sidecars:
            return []
        import pyarrow.parquet as pq

        targets: set = set()
        for dv in self.sidecars:
            sp = _abs(self.path, dv["path"])
            # fail LOUDLY on a vacuumed sidecar, as restore() does:
            # skipping it would omit the MOR-deleted/resurrected rows
            # from a historical feed, and an incremental consumer
            # would record the commit as applied while missing them
            if not os.path.exists(sp):
                raise FileNotFoundError(
                    f"DV sidecar vacuumed: {dv['path']} (commit "
                    f"{self.version}); historical change feed for this "
                    "version is unrecoverable"
                )
            targets.update(pq.read_table(sp, columns=["_dv_file"]).column("_dv_file").to_pylist())
        return [
            _abs(self.path, p)
            for p in self.after.adds
            if p in self.before.adds and os.path.basename(p) in targets
        ]


def _change_spec(path: str, version: int) -> _ChangeSpec:
    """Plan the change feed of commit ``version`` from its commit FILE
    (never :func:`_read_log`, which may substitute a synthetic
    checkpoint commit whose actions are the whole live set). An
    expired version raises VersionExpired, an uncommitted one
    ValueError, and a data file of the commit that vacuum reclaimed
    FileNotFoundError: its rows, and so the feed, are gone."""
    try:
        actions = _load_commit(path, version)["actions"]
    except FileNotFoundError:
        raise ValueError(f"version {version} not found at {path}")
    rels = {k: [a[k]["path"] for a in actions if k in a] for k in ("add", "remove")}
    for rel in rels["add"] + rels["remove"]:
        if not os.path.exists(_abs(path, rel)):
            raise FileNotFoundError(
                f"data file of commit {version} was vacuumed: {rel}; the "
                "change feed of a commit below the retention window cannot "
                "be replayed — read from a version past the vacuum"
            )
    return _ChangeSpec(
        path,
        version,
        [_abs(path, r) for r in rels["add"]],
        [_abs(path, r) for r in rels["remove"]],
        [a.get("add_dv") or a.get("remove_dv") for a in actions if "add_dv" in a or "remove_dv" in a],
    )


def changes(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Row-level change data feed for one commit: what ``version``
    inserted and deleted relative to ``version - 1``.

    Computed from the commit's own file actions — NOT a full
    snapshot diff: inserts are rows of added files minus rows of
    removed files (copy-on-write rewrites re-add surviving rows, so
    the multiset difference cancels them), deletes the reverse. A
    pure append therefore yields only inserts; a compaction yields
    an EMPTY feed (same rows on both sides); a COW delete yields
    exactly the deleted rows. Cost is proportional to the files the
    commit touched, never to table size.

    Deletion vectors are first-class in the feed: a merge-on-read
    delete commit (``add_dv``, no file actions) emits exactly the
    newly-DV'd rows as deletes; a ``remove_dv`` (committed by
    restore) emits the resurrected rows as inserts; and the file-
    level diff reads each side THROUGH the DV set active at its
    version, so a ``materialize_dvs`` commit — which rewrites a
    DV'd file with the deletions applied — correctly yields an
    EMPTY feed instead of re-emitting rows the earlier add_dv
    commit already reported deleted.

    Returns the table schema plus a ``_change_type`` column
    ('insert' | 'delete').
    """
    spec = _change_spec(path, version)
    if not spec.added and not spec.removed and not spec.sidecars:
        raise ValueError(f"commit {version} touched no files")

    dv_before = _dv_pair_df(spark, path, spec.before)
    dv_after = _dv_pair_df(spark, path, spec.after)

    def _minus_dvs(files: list[str], dv: DataFrame | None) -> DataFrame | None:
        """Rows of ``files`` as the snapshot at that side saw them —
        raw rows minus the side's active DV pairs."""
        if not files:
            return None
        t = _tag_positions(_read_files(spark, path, spec.after, files))
        if dv is not None:
            t = t.join(F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti")
        return t.drop("_dv_file", "_dv_pos")

    # file-level diff, each side read through ITS version's DVs
    a_df = _minus_dvs(spec.added, dv_after)
    r_df = _minus_dvs(spec.removed, dv_before)
    inserts = a_df.exceptAll(r_df) if (a_df is not None and r_df is not None) else a_df
    deletes = r_df.exceptAll(a_df) if (a_df is not None and r_df is not None) else r_df

    # DV-level diff on the files live at BOTH versions that the
    # commit's own sidecars target: pairs newly active are row
    # deletes, pairs newly retired are row inserts
    if spec.both:
        t = _tag_positions(_read_files(spark, path, spec.after, spec.both))

        def _match(dv_in: DataFrame | None, dv_not: DataFrame | None):
            if dv_in is None:
                return None
            delta = dv_in.exceptAll(dv_not) if dv_not is not None else dv_in
            return t.join(
                F.broadcast(delta), ["_dv_file", "_dv_pos"], "semi"
            ).drop("_dv_file", "_dv_pos")

        new_deletes = _match(dv_after, dv_before)
        new_inserts = _match(dv_before, dv_after)
        if new_deletes is not None:
            deletes = (
                deletes.unionByName(new_deletes)
                if deletes is not None
                else new_deletes
            )
        if new_inserts is not None:
            inserts = (
                inserts.unionByName(new_inserts)
                if inserts is not None
                else new_inserts
            )

    parts = []
    if inserts is not None:
        parts.append(inserts.withColumn("_change_type", F.lit("insert")))
    if deletes is not None:
        parts.append(deletes.withColumn("_change_type", F.lit("delete")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # feed rows surface the LOGICAL names active at this version
    m, dropped = spec.after.fold_schema()
    return _to_logical(out, m, dropped)


def attach_bloom(
    spark: SparkSession,
    path: str,
    column: str,
    bits: int | None = None,
    k: int = 6,
    missing_only: bool = False,
) -> int:
    """Per-file Bloom filter index on ``column``, committed to the
    LOG (a new action type older readers ignore). Min/max stats
    answer RANGE probes on the clustered column; a Bloom bitset
    answers POINT-membership probes on ANY column — the Delta
    bloom-index use case: ingest dedup and CDC anti-joins ask "does
    this id exist?" against keys that are mostly ABSENT, and a
    2^13-bit filter per file turns each such probe into zero file
    opens (false positives only cost a wasted open; the residual
    filter keeps results exact). Build shape: each file's k hash
    positions are aggregated IN the executors and only the <= bits
    distinct positions per file reach the driver — bounded index
    state, never row-scale. Hashing is md5-based (the cross-engine
    hash discipline, though the index is engine-internal). Returns
    the commit version; re-attaching replaces the index (latest
    entry per (file, column) wins at read time). ``bits=None``
    auto-sizes PER FILE to the next power of two >= 10 bits per
    distinct key (>= 8192): a fixed size silently saturates once a
    file's cardinality outgrows it — every bit set, every probe a
    false positive, the index worse than useless — measured exactly
    that way at sf0.1 before auto-sizing.

    ``missing_only=True`` indexes only live files that have NO bloom
    entry for ``column`` yet — the incremental form a per-batch
    ingest sink needs: each append blooms just the files it added
    (batch-sized work), instead of re-scanning the whole table per
    batch. A compaction's new files are picked up the same way on
    the next call."""
    if bits is not None and bits & (bits - 1):
        raise ValueError("bits must be a power of two")
    st = _replay(path)
    column = st.fold_schema()[0].get(column, column)  # index keys physical names
    actions = []
    for rel in st.adds:
        if missing_only and (rel, column) in st.blooms:
            continue
        df = _read_files(spark, path, st, [rel]).select(
            F.col(column).cast("string").alias("_v")
        )
        file_bits = bits
        if file_bits is None:
            n_distinct = df.filter(F.col("_v").isNotNull()).distinct().count()
            file_bits = 8192
            while file_bits < 10 * max(n_distinct, 1):
                file_bits <<= 1
        pos_cols = [
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("_v"))), 1, 8),
                    16,
                    10,
                )
                .cast("long")
                % file_bits
            ).alias(f"_p{i}")
            for i in range(k)
        ]
        rows = (
            df.filter(F.col("_v").isNotNull())
            .select(F.explode(F.array(*pos_cols)).alias("_p"))
            .distinct()
            .collect()
        )  # bounded: <= file_bits distinct positions per file
        bitset = bytearray(file_bits // 8)
        for r in rows:
            p = int(r["_p"])
            bitset[p >> 3] |= 1 << (p & 7)
        import base64

        actions.append(
            {
                "index": {
                    "path": rel,
                    "column": column,
                    "bits": file_bits,
                    "k": k,
                    "bloom": base64.b64encode(bytes(bitset)).decode(),
                }
            }
        )
    if not actions:
        return st.version
    return _commit(path, actions)


def snapshot_point(
    spark: SparkSession,
    path: str,
    column: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup through the log-stored Bloom index: a file opens
    only if its filter says ``value`` MIGHT be present (or it has no
    filter — conservatively kept). Exact regardless: the residual
    equality filter always runs; the bloom can only skip files where
    the value is provably absent. The one-key form of
    :func:`snapshot_point_any`."""
    return snapshot_point_any(spark, path, column, [value], version)


def snapshot_point_any(
    spark: SparkSession,
    path: str,
    column: str,
    values,
    version: int | None = None,
) -> DataFrame:
    """Multi-key point lookup through the log-stored Bloom index: a
    file opens only if its filter admits AT LEAST ONE of ``values``
    (or it has no filter — conservatively kept). The batch form of
    :func:`snapshot_point`, built for ingest-dedup probes where a
    micro-batch carries thousands of keys that are mostly ABSENT
    from the table: the driver-side cost is pure bit tests —
    each value's k md5 digests are computed ONCE (file-independent;
    only the modulo is per-file) and tested against every file's
    bitset, O(files × values) with no IO — and the Spark job then
    opens only files that might contain a colliding key. Results are
    exact: the residual IN filter always runs."""
    import base64
    import hashlib as _hashlib

    vals = list(values)
    st = _replay(path, version)
    m, dropped = st.fold_schema()
    column = m.get(column, column)  # bloom indexes key physical names
    if column in dropped:
        raise ValueError(f"column {column!r} was dropped")
    svals = [str(v) for v in vals]
    hmemo: dict[tuple[int, str], int] = {}

    def _h(i: int, sval: str) -> int:
        key = (i, sval)
        if key not in hmemo:
            hmemo[key] = int(
                _hashlib.md5(f"{i}|{sval}".encode()).hexdigest()[:8], 16
            )
        return hmemo[key]

    def admits(idx: dict | None) -> bool:
        """False only when every probed key is provably absent."""
        if idx is None:
            return True  # no filter: conservatively kept
        bitset = base64.b64decode(idx["bloom"])
        return any(
            all(
                bitset[p >> 3] & (1 << (p & 7))
                for p in (_h(i, sval) % idx["bits"] for i in range(idx["k"]))
            )
            for sval in svals
        )

    keep = [
        a for a in st.adds.values() if vals and admits(st.blooms.get((a["path"], column)))
    ]
    return _read_subset(spark, path, st, keep, F.col(column).isin(vals))


def restore(path: str, version: int) -> int:
    """Delta-style RESTORE TO VERSION — roll the table back to an
    earlier snapshot AS A NEW COMMIT (history is append-only: the
    rollback itself is auditable and can itself be time-traveled or
    restored away). The commit removes files live now but not at
    ``version`` and re-adds files live at ``version`` but not now,
    carrying their ORIGINAL add entries so file stats keep powering
    log-level data skipping after the rollback. No data is copied or
    rewritten — a restore is O(log), never O(table): the old files
    still exist because only VACUUM deletes data, which is exactly
    why a vacuum past ``version`` makes this raise instead of
    committing a snapshot with dangling files. The change feed of
    the restore commit is the rollback's CDF: deletes of the
    rolled-back rows, inserts of the resurrected ones."""
    now = _replay(path)
    if not 0 <= version <= now.version:
        raise FileNotFoundError(
            f"no committed version {version} at {path} (latest is {now.version})"
        )
    then = _replay(path, version)
    target, current = then.adds, now.adds
    missing = sorted(p for p in target if not os.path.exists(_abs(path, p)))
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} data file(s) vacuumed (e.g. {missing[0]})"
        )
    # sidecars the restore would re-register must exist too — vacuum
    # reclaims retired ones below the retention window, same contract
    # as data files
    missing_dv = sorted(p for p in then.dvs if not os.path.exists(_abs(path, p)))
    if missing_dv:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing_dv)} DV sidecar(s) vacuumed (e.g. {missing_dv[0]})"
        )
    actions: list[dict] = [
        {"remove": {"path": p}} for p in sorted(current) if p not in target
    ]
    actions += [
        {"add": target[p]} for p in sorted(target) if p not in current
    ]
    # deletion vectors are part of the snapshot: a delete_where_dv
    # commit changes NO files, so a files-only diff would report
    # "already at that snapshot" while the head still applies the
    # DVs. Retire sidecars active now but not at ``version``
    # (remove_dv), and re-register sidecars active at ``version``
    # but retired since (a prior restore) — after this commit the
    # active-DV set equals the target's, so snapshot(head) ==
    # snapshot(target) exactly.
    dv_target, dv_current = then.dvs, now.dvs
    actions += [
        {"remove_dv": {"path": p}} for p in sorted(dv_current) if p not in dv_target
    ]
    actions += [
        {"add_dv": dv_target[p]} for p in sorted(dv_target) if p not in dv_current
    ]
    # the schema is part of the snapshot too: a restore to a version
    # before a column was added reads as narrow as that version did
    if then.data_schema != now.data_schema:
        actions.append({"data_schema": then.data_schema})
    if not actions:
        return now.version  # already at that snapshot
    return _commit(path, actions, base=now)


def vacuum(path: str, keep_last: int = 1) -> list[str]:
    """Physically delete data files no retained version references —
    the Delta/Iceberg VACUUM. ``keep_last`` versions (counting back
    from the current one) stay fully readable; time travel below the
    retention window is no longer guaranteed after a vacuum.

    Only files the LOG records as removed are candidates: a file the
    log has never seen is either an in-flight writer's staging output
    or foreign data, and deleting it would race the commit protocol
    (Delta solves the same problem with a modification-time horizon;
    the log-derived candidate set needs no clock at all). The live
    set of every retained version is untouched by construction, so
    vacuum never needs a table lock: it reads the log once, driver-
    side, and unlinks — O(files removed), never O(table).

    Returns the table-relative paths actually deleted, sorted.
    """
    current = current_version(path)
    cutoff = max(current - keep_last + 1, 0)
    added_at: dict[str, int] = {}
    removed_at: dict[str, int] = {}
    for c in _read_log(path):
        for a in c["actions"]:
            if "add" in a:
                added_at.setdefault(a["add"]["path"], c["version"])
                removed_at.pop(a["add"]["path"], None)
            elif "remove" in a:
                removed_at[a["remove"]["path"]] = c["version"]
            # DV sidecars follow the same retention rule: a sidecar
            # retired (remove_dv, from restore) before the retention
            # window can never be read by a retained version, and a
            # restore below the window already raises on missing
            # files — so it is reclaimable exactly like a removed
            # data file. REGISTERED-ness is the criterion (not
            # live-target activity, which would need sidecar reads):
            # conservative, keeps strictly more.
            elif "add_dv" in a:
                added_at.setdefault(a["add_dv"]["path"], c["version"])
                removed_at.pop(a["add_dv"]["path"], None)
            elif "remove_dv" in a:
                removed_at[a["remove_dv"]["path"]] = c["version"]
    deleted = []
    for rel, rv in removed_at.items():
        # referenced by some retained version v in [cutoff, current]
        # iff added_at <= v < removed_at for that v
        if rv > cutoff:
            continue
        # foreign reference (shallow clone of another table): the
        # file belongs to the SOURCE table's log, which may still
        # reference it — never physically delete across table roots
        # (the documented Delta shallow-clone vacuum rule). Foreign =
        # absolute (pre-relative-log) or escaping the table root.
        if os.path.isabs(rel) or rel.split(os.sep, 1)[0] == "..":
            continue
        fpath = _abs(path, rel)
        if os.path.exists(fpath):
            os.remove(fpath)
            deleted.append(rel)
    return sorted(deleted)


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read deletes
# ---------------------------------------------------------------------------

def delete_where_dv(spark: SparkSession, path: str, predicate) -> int:
    """Merge-on-read delete: instead of rewriting every touched file
    (copy-on-write — :func:`delete_where`), record the matching rows'
    (file, position) pairs in a deletion-vector sidecar and log one
    ``add_dv`` action. The write cost is proportional to the DELETED
    rows, not the touched files — the reason Delta/Iceberg grew DV
    support: a one-row delete in a 1 GB file costs bytes, not a
    gigabyte rewrite. Readers apply active DVs as an anti-join on
    (file name, row position) from parquet's ``_metadata.row_index``;
    at 100 TB a production reader pushes per-file position bitmaps
    into the scan instead of the broadcast anti-join, same contract.

    Returns the commit version (unchanged if nothing matched)."""
    st = _replay(path)
    if not st.adds:
        raise FileNotFoundError(f"empty txlog table at {path}")
    hits = _hits(spark, path, st, predicate)
    # rows already MOR-deleted by an earlier sidecar must not be
    # recorded again: the read path's distinct() would keep results
    # correct anyway, but the sidecar's cardinality (and the change
    # feed's add_dv delta) should describe NEWLY deleted rows only
    prev = _dv_pair_df(spark, path, st)
    if prev is not None:
        hits = hits.join(F.broadcast(prev), ["_dv_file", "_dv_pos"], "left_anti")
    n = hits.count()
    if n == 0:
        return st.version
    # the sidecar is staged like a data file, then moved into dv/
    (staged,) = _write_files(hits.coalesce(1), path)
    rel = os.path.join("dv", os.path.basename(staged["add"]["path"]))
    os.makedirs(_abs(path, "dv"), exist_ok=True)
    os.rename(_abs(path, staged["add"]["path"]), _abs(path, rel))
    return _commit(path, [{"add_dv": {"path": rel, "n": n}}])


def materialize_dvs(spark: SparkSession, path: str) -> int:
    """Fold active deletion vectors into the data: rewrite each
    DV-touched live file with its deletions applied (COW), after
    which the old files — and with them the DVs' relevance — leave
    the live set. This is the maintenance op that must run before
    file-rewriting operations (compact/z-order/COW-delete/merge),
    which read raw files and would otherwise RESURRECT DV-deleted
    rows; those ops refuse while DVs are active (_require_no_dvs).

    Returns the commit version (unchanged if no DVs are active)."""
    st = _replay(path)
    dv = _dv_pair_df(spark, path, st)
    touched = [] if dv is None else _touched(st, dv)
    if not touched:
        # no sidecars, or none targets a live file (all targets
        # already rewritten away — e.g. a COW delete emptied the
        # table after the MOR delete): nothing to fold
        return st.version
    # rewrite every touched file in ONE job (read together, one
    # anti-join, one write) instead of a read+write job pair PER
    # file — the per-file loop cost 16 sequential jobs on a 16-file
    # table (14.7 s in the bench's E2d extra) for work that is a
    # single scan's worth of data. Untouched files are never read.
    keep = _with_dvs(spark, path, st, _read_files(spark, path, st, touched))
    return _rewrite(path, st, touched, keep)


def _has_active_dvs(path: str, st: _TableState) -> bool:
    """True if any deletion-vector sidecar still targets a LIVE file
    (a sidecar whose targets were all rewritten is stale metadata).
    Cheap driver probe: sidecars are deleted-row-sized."""
    live = {os.path.basename(p) for p in st.adds}
    for rel in st.dvs:
        if os.path.exists(_abs(path, rel)):
            import pyarrow.parquet as pq

            t = pq.read_table(_abs(path, rel), columns=["_dv_file"])
            if any(f in live for f in t.column("_dv_file").to_pylist()):
                return True
    return False


def _require_no_dvs(path: str, st: _TableState, op: str) -> None:
    """File-rewriting ops read raw parquet; running them over a table
    with active DVs would resurrect deleted rows. Refuse loudly."""
    if _has_active_dvs(path, st):
        raise RuntimeError(
            f"{op}: table at {path} has active deletion vectors; "
            "run materialize_dvs() first (file-rewriting ops over "
            "raw files would resurrect DV-deleted rows)"
        )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance over the change feed
# ---------------------------------------------------------------------------

def incremental_mv(
    spark: SparkSession,
    path: str,
    keys: list[str],
    value_col: str,
    from_version: int,
    to_version: int,
    mv: DataFrame | None = None,
) -> DataFrame:
    """Maintain a COUNT/SUM-per-key materialized view across commits
    ``(from_version, to_version]`` by applying each commit's change
    feed as a group delta — classic incremental view maintenance:
    inserts add (+1, +value), deletes subtract, and a group whose
    count reaches zero leaves the view. COUNT and SUM are
    self-maintainable, so no commit ever triggers a base-table
    rescan; cost per commit is O(rows the commit changed), which is
    the entire point versus recomputing an aggregate over 100 TB
    after every write.

    ``value_col`` must be an EXACT (integer) column — incremental
    subtraction re-orders float reductions, so callers aggregate
    cents/micros, not doubles (the repo's float policy applied to
    maintenance).

    ``mv`` seeds the view (default: computed from the snapshot at
    ``from_version`` — schema ``keys + [n_rows, total]``). ``keys``/
    ``value_col`` bind the names active over the WHOLE range: a
    column rename inside (from_version, to_version] changes the
    per-commit feed's names mid-range and the delta aggregation
    fails loudly on the missing column — re-seed the view at the
    rename boundary (one snapshot aggregate) and continue under the
    new names. Works
    through every commit type because changes() is DV-aware: COW and
    MOR deletes emit delete rows, restores emit the resurrection,
    compaction and materialize_dvs emit EMPTY feeds (no-op deltas),
    and metadata-only commits (constraints, bloom indexes) are
    skipped. The view is checkpointed per applied commit — its size
    is the group count, i.e. the view itself, never the base table.
    At production scale the view lives as its own txlog table and
    the merge step is merge_upsert keyed on ``keys``; the algebra
    here is identical.
    """
    if mv is None:
        mv = (
            snapshot(spark, path, from_version)
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(value_col).cast("long").alias("total"),
            )
        )
    for v in range(from_version + 1, to_version + 1):
        # a MISSING version must fail loudly (a silent skip would
        # return a view labeled as maintained through to_version that
        # actually stopped at the head — r9 review finding); only
        # metadata-only commits (constraints, bloom indexes) are
        # legitimate no-ops
        if not os.path.exists(_commit_path(path, v)):
            raise ValueError(f"version {v} not found at {path}")
        # decide "metadata-only" by INSPECTING the commit's actions,
        # not by catching ValueError around changes(): JSONDecodeError
        # subclasses ValueError, so a try/except here would silently
        # skip a CORRUPT commit file and return a view labeled as
        # maintained through to_version that missed a data commit —
        # the exact failure the missing-version check above exists to
        # prevent (r9 advisor finding). A malformed commit now raises.
        with open(_commit_path(path, v)) as f:
            acts = json.load(f)["actions"]
        if not any(
            k in a for a in acts for k in ("add", "remove", "add_dv", "remove_dv")
        ):
            continue  # metadata-only commit: nothing to maintain
        cdf = changes(spark, path, v)
        ins = F.col("_change_type") == "insert"
        delta = cdf.groupBy(*keys).agg(
            F.sum(F.when(ins, 1).otherwise(-1)).cast("long").alias("_d_n"),
            F.sum(
                F.when(ins, F.col(value_col)).otherwise(-F.col(value_col))
            ).cast("long").alias("_d_t"),
        )
        mv = (
            mv.join(delta, keys, "full_outer")
            .select(
                *keys,
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("_d_n"), F.lit(0))
                ).alias("n_rows"),
                (
                    F.coalesce(F.col("total"), F.lit(0))
                    + F.coalesce(F.col("_d_t"), F.lit(0))
                ).alias("total"),
            )
            .filter(F.col("n_rows") > 0)
            .transform(materialize)  # view-sized, keeps lineage O(1) per commit
        )
    return mv


# ---------------------------------------------------------------------------
# Idempotent appends — the exactly-once streaming sink contract
# ---------------------------------------------------------------------------

def last_txn_version(path: str, app_id: str) -> int | None:
    """Highest transaction version committed by ``app_id`` (None if
    the app never wrote). One driver-side log replay — the same read
    the snapshot already does."""
    return _replay(path).txns.get(app_id)


def append_idempotent(
    df: DataFrame, path: str, app_id: str, txn_version: int
) -> int:
    """Append that commits AT MOST ONCE per (app_id, txn_version) —
    the Delta txnAppId/txnVersion idempotent-writes contract that
    makes a Structured Streaming ``foreachBatch`` sink exactly-once:
    the batch id is the transaction version, so a replayed batch
    (failure between the sink write and the checkpoint commit — the
    classic at-least-once window) sees its version already in the
    log and becomes a no-op instead of duplicate rows.

    The ``txn`` action rides the SAME commit as the file adds, so
    the data and the idempotency marker are atomic: a crash before
    the commit leaves neither, a crash after leaves both. Replays
    must be monotone per app (Structured Streaming batch ids are);
    one active writer per app_id is the streaming engine's own
    guarantee, which is what makes check-then-commit sufficient.

    Returns the commit version (current version unchanged when the
    batch was already applied)."""
    # bootstrap: a foreachBatch sink's FIRST batch may target a table
    # that doesn't exist yet — commit 0 is then that batch plus its
    # marker, still one atomic commit
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    st = _replay(path)
    known = st.txns.get(app_id)
    if known is not None and txn_version <= known:
        return st.version
    actions = _stage_append(df, path, st, "append_idempotent")
    actions.append({"txn": {"app": app_id, "version": int(txn_version)}})
    return _commit(path, actions)


def foreach_batch_sink(path: str, app_id: str):
    """Adapter for ``writeStream.foreachBatch``: routes every micro-
    batch through :func:`append_idempotent` keyed on the engine's
    batch id, turning the at-least-once foreachBatch contract into
    exactly-once table state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_idempotent(batch_df, path, app_id, batch_id)

    return sink


def create_empty(path: str) -> int:
    """Table birth as a metadata-only commit 0 (no data files) — the
    seed for pipelines whose FIRST batch must already be atomic with
    an idempotency marker (:func:`replicate_changes`): data+marker
    ride commit 1+, so a crash between table creation and the first
    delivery leaves a clean resume point instead of a half-applied
    batch. Reading an empty table raises (same contract as a missing
    table) until the first data commit lands."""
    if os.path.exists(_log_dir(path)) and _read_log(path):
        raise FileExistsError(f"txlog table already exists at {path}")
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    return _commit(path, [])


def replicate_changes(
    spark: SparkSession,
    src: str,
    dst: str,
    app_id: str,
    to_version: int | None = None,
) -> int:
    """Exactly-once change-feed replication — the end-to-end pipeline
    the streaming CDF source + idempotent sink compose into: every
    unprocessed commit of ``src`` is delivered to ``dst`` as one
    atomic batch of audit rows (src schema + ``_change_type`` +
    ``_src_version``), keyed idempotently on (``app_id``, src
    version).

    Resume is pure log metadata: the last delivered src version IS
    ``last_txn_version(dst, app_id)``, so a crashed or replayed run
    re-derives its position from ``dst``'s own log — no side channel,
    and a re-delivery of an already-committed version is a no-op
    (the at-least-once window closes exactly as in
    :func:`append_idempotent`). Metadata-only src commits deliver no
    rows but still advance the marker with a metadata-only commit,
    so progress is monotone across them.

    Audit rows carry the LOGICAL column names active at each source
    version (changes() is version-faithful), so a rename inside the
    replicated range widens the destination schema: pre-rename rows
    keep the old column, post-rename rows the new one, NULLs across —
    a faithful audit of what each version actually published.
    Downstream consumers wanting one column coalesce the pair.

    Per-call cost: O(commits delivered) driver log reads + each
    commit's :func:`changes` feed (proportional to rows the commit
    touched, never table size). At 100 TB this is the tail-the-table
    loop a scheduler runs per trigger; the same call is directly
    usable inside ``foreachBatch``.

    Returns the src version delivered through (= the new marker)."""
    if to_version is None:
        to_version = current_version(src)
    done = last_txn_version(dst, app_id)
    start = 0 if done is None else done + 1
    if to_version < start:
        # nothing new below the marker: report the TRUE position, not
        # the smaller requested bound (a caller persisting the return
        # as its cursor must never move backwards)
        return done
    if not os.path.exists(_log_dir(dst)):
        create_empty(dst)
    for v in range(start, to_version + 1):
        if not os.path.exists(_commit_path(src, v)):
            raise ValueError(f"version {v} not found at {src}")
        with open(_commit_path(src, v)) as f:
            acts = json.load(f)["actions"]
        has_data = any(
            k in a for a in acts for k in ("add", "remove", "add_dv", "remove_dv")
        )
        if has_data:
            batch = changes(spark, src, v).withColumn(
                "_src_version", F.lit(v).cast("long")
            )
            append_idempotent(batch, dst, app_id, v)
        else:
            # metadata-only commit: advance the marker atomically so
            # resume never re-inspects it (an idle marker commit is
            # one tiny log write)
            known = last_txn_version(dst, app_id)
            if known is None or v > known:
                _commit(dst, [{"txn": {"app": app_id, "version": int(v)}}])
    return to_version


# ---------------------------------------------------------------------------
# Multi-table atomic transactions — WAL/redo two-phase commit
# ---------------------------------------------------------------------------
#
# Neither Delta nor Iceberg offers multi-table transactions in the
# open format; the standard production answer (and the shape Delta's
# coordinated-commits work standardizes) is an OUTER write-ahead
# manifest plus per-table redo. A pipeline's "write features AND
# update the index" becomes all-or-nothing:
#
#   phase 1  stage every table's data files (invisible until a
#            commit references them);
#   phase 2  atomically publish ONE manifest listing every intended
#            per-table commit — this rename is the transaction's
#            commit point;
#   phase 3  apply each table's commit, tagged with the manifest id;
#   phase 4  mark the manifest done.
#
# A crash before phase 2 leaves only orphaned staged files (vacuum
# fodder) — the transaction never happened. A crash during phase 3/4
# leaves a pending manifest; :func:`recover_multi` REDOES the missing
# per-table commits idempotently (each table's log is checked for the
# manifest id before re-applying), after which every table contains
# the transaction. Readers get eventual all-or-nothing: the manifest
# directory is the source of truth for transaction completeness, and
# `pending_multi` exposes in-doubt transactions for barriers.


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "_mtxn")


def commit_multi(
    appends: list[tuple[DataFrame, str]],
    txn_root: str,
    _fail_after: int | None = None,
) -> str:
    """Atomically append one batch to EACH listed table. ``txn_root``
    hosts the manifest directory (typically the tables' common
    parent). Returns the manifest id.

    ``_fail_after`` is a fault-injection hook for tests: crash after
    applying that many per-table commits (phases 1-2 complete), so
    recovery paths are provable — the Delta fault-injection testing
    pattern."""
    import uuid as _uuid

    mdir = _manifest_dir(txn_root)
    os.makedirs(mdir, exist_ok=True)
    mid = _uuid.uuid4().hex
    # phase 1: stage data files per table (no table-log commits yet)
    entries = []
    for df, path in appends:
        os.makedirs(_log_dir(path), exist_ok=True)
        os.makedirs(_data_dir(path), exist_ok=True)
        actions = _stage_append(df, path, _replay(path), "commit_multi")
        entries.append({"table": os.path.abspath(path), "actions": actions})
    # phase 2: publish the manifest — THE atomic commit point
    tmp = os.path.join(mdir, f".{mid}.tmp")
    with open(tmp, "w") as f:
        json.dump({"id": mid, "entries": entries}, f)
    os.rename(tmp, os.path.join(mdir, f"{mid}.json"))
    # phase 3: per-table redo (identical to what recover_multi replays;
    # the marker-checked commit loop makes writer/recoverer races safe)
    for i, e in enumerate(entries):
        if _fail_after is not None and i >= _fail_after:
            return mid  # simulated crash mid-redo; manifest stays pending
        _commit_mtxn(e["table"], e["actions"] + [{"mtxn": mid}], mid)
    # phase 4: done marker (idempotent flag file, not a rename — a
    # recovering process may race the original writer harmlessly)
    with open(os.path.join(mdir, f"{mid}.done"), "w") as f:
        f.write("")
    return mid


def _commit_mtxn(path: str, actions: list[dict], mid: str) -> None:
    """Commit a manifest entry AT MOST ONCE, race-free: a recoverer
    may run while the original writer is still alive (or two
    recoverers may race), and a plain check-then-commit would
    double-apply in that window. The O_EXCL version file makes each
    version single-winner, so looping read→check-mid→try gives the
    loser a fresh log that already CONTAINS the winner's marker —
    the standard optimistic-commit shape, specialized to the
    marker predicate. Entries are pure adds + marker (no removes),
    so _commit's stale-remove validation is not needed."""
    while True:
        st = _replay(path)
        if mid in st.mtxns:
            return  # already applied by the writer or another recoverer
        if _try_commit(path, st.version + 1, _rebase_schema(actions, st)):
            return


def pending_multi(txn_root: str) -> list[str]:
    """Manifest ids published but not marked done — in-doubt
    transactions a barrier should resolve via :func:`recover_multi`."""
    mdir = _manifest_dir(txn_root)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json") and not name.startswith("."):
            mid = name[: -len(".json")]
            if not os.path.exists(os.path.join(mdir, f"{mid}.done")):
                out.append(mid)
    return out


def recover_multi(txn_root: str) -> list[str]:
    """Redo every pending transaction: apply each manifest entry
    whose table log does not yet carry the manifest id, then mark the
    manifest done. Idempotent and crash-safe — rerunning after any
    partial recovery converges to every table containing every
    published transaction. Returns the recovered manifest ids."""
    mdir = _manifest_dir(txn_root)
    done = []
    for mid in pending_multi(txn_root):
        with open(os.path.join(mdir, f"{mid}.json")) as f:
            manifest = json.load(f)
        for e in manifest["entries"]:
            _commit_mtxn(e["table"], e["actions"] + [{"mtxn": mid}], mid)
        with open(os.path.join(mdir, f"{mid}.done"), "w") as f:
            f.write("")
        done.append(mid)
    return done


def vacuum_orphans(
    path: str, min_age_seconds: float = 3600.0, txn_root: str | None = None
) -> list[str]:
    """Delete data-dir files the log has NEVER referenced and whose
    mtime is older than ``min_age_seconds`` — the debris of crashed
    writers (a :func:`commit_multi` that died in phase 1, an append
    killed between staging rename and commit). Regular :func:`vacuum`
    deliberately refuses these (it is clock-free and only reclaims
    log-recorded removals); orphan reclamation is inherently
    clock-based, exactly like Delta's modification-time horizon: the
    age gate is what keeps an IN-FLIGHT writer's freshly renamed
    file safe, so the horizon must exceed the longest plausible
    stage→commit window. Sidecar (dv/) orphans from aborted MOR
    deletes are reclaimed by the same rule.

    Files staged by a PENDING multi-table transaction are not yet in
    the table's log but ARE referenced by a published manifest that
    :func:`recover_multi` will redo — deleting them would corrupt
    recovery. Manifests are discovered via ``txn_root`` (default:
    the table's parent directory, :func:`commit_multi`'s typical
    root) and their entries for this table count as referenced,
    whether pending or done. Returns the table-relative paths
    deleted, sorted."""
    import time

    # compare by REAL ABSOLUTE path: legacy logs may record absolute
    # add paths, and a relative-string comparison against them would
    # classify a LIVE file as an orphan and delete it
    referenced: set = set()
    for c in _read_log(path):
        for a in c["actions"]:
            for k in ("add", "remove", "add_dv", "remove_dv"):
                if k in a:
                    referenced.add(os.path.realpath(_abs(path, a[k]["path"])))
    if txn_root is None:
        txn_root = os.path.dirname(os.path.abspath(path))
    mdir = _manifest_dir(txn_root)
    if os.path.isdir(mdir):
        me = os.path.abspath(path)
        for name in os.listdir(mdir):
            if not name.endswith(".json") or name.startswith("."):
                continue
            with open(os.path.join(mdir, name)) as f:
                for e in json.load(f)["entries"]:
                    if os.path.abspath(e["table"]) == me:
                        referenced.update(
                            os.path.realpath(_abs(path, a["add"]["path"]))
                            for a in e["actions"]
                            if "add" in a
                        )
    now = time.time()
    deleted = []
    for sub in ("data", "dv"):
        d = os.path.join(path, sub)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            full = os.path.join(d, name)
            rel = os.path.join(sub, name)
            if os.path.isdir(full):
                # a _staging_<uuid> directory is never referenced by
                # any log or manifest (files are renamed OUT of it
                # before commit), so one left behind is a writer that
                # crashed mid-phase-1 — reclaimable once its NEWEST
                # mtime (the dir itself or any file still inside)
                # clears the same in-flight horizon as loose files
                if not name.startswith("_staging_"):
                    continue  # unknown dirs are not ours to delete
                try:
                    mtimes = [os.path.getmtime(full)] + [
                        os.path.getmtime(os.path.join(root, fn))
                        for root, _, fns in os.walk(full)
                        for fn in fns
                    ]
                except OSError:
                    # a LIVE writer renamed a file out from under the
                    # walk — by definition inside the in-flight
                    # horizon, so keep the dir and keep vacuuming
                    continue
                if now - max(mtimes) < min_age_seconds:
                    continue  # a live writer may still be staging
                import shutil

                shutil.rmtree(full)
                deleted.append(rel)
                continue
            if os.path.realpath(full) in referenced:
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                continue  # inside the in-flight horizon
            os.remove(full)
            deleted.append(rel)
    # log-dir debris: a writer that crashed between os.link and the
    # tmp unlink (_try_commit) strands '<version>.json.<hex>.tmp'; a
    # checkpoint_log killed mid-write strands '_ckpt_tmp_<hex>'.
    # Readers never match these names, but no other path reclaims
    # them. Name-gated (never anything a reader could be using) and
    # age-gated like data orphans — a LIVE writer's tmp is seconds old.
    ld = _log_dir(path)
    if os.path.isdir(ld):
        for name in sorted(os.listdir(ld)):
            if not (name.endswith(".tmp") or name.startswith("_ckpt_tmp_")):
                continue
            full = os.path.join(ld, name)
            if not os.path.isfile(full):
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                continue
            os.remove(full)
            deleted.append(os.path.join("_txlog", name))
    return sorted(deleted)
