"""Print a digest of every commit each txlog write face makes.

    python tools/txlog_digests.py > digests.txt

Run it in two checkouts and ``diff`` the outputs: a refactor of the
txlog's write path (``stockify_spark/sources/txlog.py``) must leave
every line unchanged, since the log format, the rows of every file and
their stats are what every reader of a table sees. The script runs
each write face once on small seeded tables — create,
create_partitioned, append, merge_upsert, delete_where,
delete_where_dv, materialize_dvs, compact_small, compact with a sort
and with a Z-order, compact_partition, compact_gram and restore — and
prints, per commit:

    <table> v<version> <face> <sha256 of the normalized actions> jobs=<n>
    <table>   <file> <sha256 of the file's sorted rows> <rows>

with one indented line per data file or DV sidecar the commit adds.
``jobs`` is the number of Spark jobs the face started, counted under
its own job group through the status tracker, so a change to the write
path shows its job delta next to its action digests.
Normalization: uuid file names become ordinals in order of first
appearance in the log (in paths and in a sidecar's ``_dv_file``
column), the commit timestamp ``ts`` is dropped, and a commit's
actions hash as their kinds in order plus their sorted multiset. A
run takes about half a minute on 2 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_UUID = re.compile(r"[0-9a-f]{32}")


def _faces(spark, root: str):
    """Yield (table path, face, call) per commit, where ``call`` runs
    the face and returns the version it committed."""
    from pyspark.sql import functions as F

    from stockify_spark.llm import pca
    from stockify_spark.sources import txlog

    def rows(lo: int, hi: int, parts: int):
        return spark.range(lo, hi, numPartitions=parts).select(
            "id",
            (F.col("id") * 7919 % 1000 / 10.0).alias("price"),
            (F.col("id") % 7).cast("int").alias("k"),
            F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("tag"),
        )

    t = os.path.join(root, "t")
    yield t, "create", lambda: txlog.create(rows(0, 400, 4), t)
    yield t, "append", lambda: txlog.append(rows(400, 500, 2), t)
    src = rows(350, 450, 2).withColumn("price", F.col("price") + 0.5)
    yield t, "merge_upsert", lambda: txlog.merge_upsert(spark, t, src, ["id"])
    yield t, "delete_where", lambda: txlog.delete_where(spark, t, F.col("k") == 3)
    yield t, "delete_where_dv", lambda: txlog.delete_where_dv(spark, t, F.col("k") == 5)
    yield t, "materialize_dvs", lambda: txlog.materialize_dvs(spark, t)
    yield t, "append", lambda: txlog.append(rows(500, 560, 3), t)
    yield t, "compact_small", lambda: txlog.compact_small(spark, t, min_bytes=1 << 30, target_partitions=2)
    yield t, "compact_sort", lambda: txlog.compact(spark, t, target_partitions=3, sort_by="price")
    yield t, "compact_zorder", lambda: txlog.compact(spark, t, target_partitions=3, zorder_by=["id", "price"])
    yield t, "restore", lambda: txlog.restore(t, 3)

    p = os.path.join(root, "p")
    part = rows(0, 300, 3).withColumn("bucket", (F.col("id") % 3).cast("int"))
    yield p, "create_partitioned", lambda: txlog.create_partitioned(part, p, ["bucket"])
    more = rows(300, 420, 2).withColumn("bucket", (F.col("id") % 3).cast("int"))
    yield p, "append", lambda: txlog.append(more, p)
    yield p, "compact_partition", lambda: txlog.compact_partition(spark, p, {"bucket": 1}, sort_by="price")

    g = os.path.join(root, "g")
    for b in range(3):
        emb = spark.createDataFrame(
            [([float((i * 31 + j * 7 + b) % 11) for j in range(4)],) for i in range(40)],
            "embedding array<float>",
        ).repartition(2)
        yield g, "gram_update", lambda emb=emb: pca.gram_update(emb, g)
    yield g, "compact_gram", lambda: pca.compact_gram(spark, g)


def _rows_digest(path: str, name) -> tuple[str, int]:
    """SHA-256 of a parquet file's schema and its rows, sorted, with
    uuid file names in a sidecar's ``_dv_file`` column normalized."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    lines = sorted(
        json.dumps([_UUID.sub(name, v) if isinstance(v, str) else v for v in row.values()],
                   default=str)
        for row in table.to_pylist()
    )
    h = hashlib.sha256(str(table.schema).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest(), table.num_rows


def _jobs(spark, fn):
    """Run ``fn`` under its own job group; return its result and the
    number of Spark jobs it started. The status tracker is fed
    asynchronously, so a marker job run after ``fn`` is waited for:
    once it is visible, every earlier job is too."""
    sc = spark.sparkContext
    group = f"txlog-digests-{time.monotonic_ns()}"
    sc.setJobGroup(group, "txlog_digests")
    out = fn()
    sc.setJobGroup(f"{group}-marker", "txlog_digests marker")
    spark.range(1).collect()
    tracker = sc.statusTracker()
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(tracker.getJobIdsForGroup(group))


def main() -> None:
    from stockify_spark.session import get_spark

    spark = get_spark("txlog-digests", cpus=2)
    root = tempfile.mkdtemp(prefix="txlog_digests_")
    ordinals: dict[str, dict[str, str]] = {}
    for path, face, call in _faces(spark, root):
        version, jobs = _jobs(spark, call)
        table = os.path.basename(path)
        seen = ordinals.setdefault(table, {})

        def name(m) -> str:
            return seen.setdefault(m.group(0), f"#{len(seen)}")

        with open(os.path.join(path, "_txlog", f"{version:016d}.json")) as f:
            commit = json.load(f)
        # actions hash as their kinds in log order plus the sorted
        # multiset of the normalized actions: faces list removed (and
        # restored) files sorted by their uuid names, so that order
        # differs from run to run
        acts = [_UUID.sub(name, json.dumps(a)) for a in commit["actions"]]
        kinds = [next(iter(a)) for a in commit["actions"]]
        text = json.dumps([commit["version"], kinds, sorted(acts)])
        print(table, f"v{version}", face, hashlib.sha256(text.encode()).hexdigest(), f"jobs={jobs}")
        entries = [a.get("add") or a.get("add_dv") for a in commit["actions"]]
        files = sorted(  # by ordinal, for the same reason
            (int(seen[_UUID.search(e["path"]).group(0)][1:]), e["path"]) for e in entries if e
        )
        for _, rel in files:
            digest, n = _rows_digest(os.path.join(path, rel), name)
            print(table, " ", _UUID.sub(name, rel), digest, n)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
