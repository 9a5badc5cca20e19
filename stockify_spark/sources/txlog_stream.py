"""Streaming SOURCE over the txlog commit log — the Delta streaming
read, built on PySpark 4's Python Data Source API (north-star
extension; the reference engine is strictly one-shot batch,
stockify.cu:196-743, SURVEY §2.6).

A 100 TB pipeline doesn't poll snapshots — it TAILS tables: every
commit becomes a micro-batch, offsets are commit versions, and the
log (not a file listing) is the discovery mechanism. This module
supplies that face:

  * ``TxlogStreamDataSource`` — ``spark.readStream.format(...)``
    source emitting each commit's APPENDED rows tagged with
    ``_commit_version``. Offsets are ``{"version": N}`` (all commits
    <= N delivered), so recovery from a streaming checkpoint replays
    deterministically — composed with
    :func:`stockify_spark.sources.txlog.foreach_batch_sink` the
    table-to-table pipeline is exactly-once end to end.
  * The same planning code exposes a BATCH reader (``spark.read``)
    over a version range, so the driver's differential oracle checks
    the identical partition/read path the stream executes.

Scale shape: planning is one driver-side log read per trigger
(O(commits in the batch), never O(table)); each added file is one
input partition read executor-side with pyarrow as Arrow record
batches — no row-at-a-time Python, no driver collect of data.

Non-append commits (COW rewrites, deletion vectors) follow Delta's
streaming contract: the source RAISES by default — silently treating
a rewrite's re-added files as inserts would duplicate rows
downstream — and ``skip_change_commits=true`` (Delta's
``skipChangeCommits``) opts into ignoring them. For row-level
insert/delete feeds there are TWO faces: ``read_changes=true``
(Delta's ``readChangeFeed``) streams every commit's change rows
directly — appends stay one partition per file, change commits are
diffed per commit executor-side (:func:`_read_cdf_commit`) — and the
replicate_changes composition (render any table's change feed as an
APPEND-ONLY audit table, then stream that) remains for
multi-consumer replication topologies
(tests/test_txlog_stream.py::TestCdfStreamingComposition).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from stockify_spark.sources import txlog


class _FilePartition(InputPartition):
    """One added data file of one commit. Picklable; carries
    everything ``read`` needs (including the column-mapping
    translation) so executors never touch the log."""

    def __init__(self, abs_path: str, version: int, rename: dict, dropped: list):
        self.abs_path = abs_path
        self.version = version
        self.rename = rename  # physical -> logical
        self.dropped = dropped  # tombstoned physical names


class _CdfCommitPartition(InputPartition):
    """ONE change commit of the read_changes face: the executor
    recomputes :func:`stockify_spark.sources.txlog.changes`'s
    file-level multiset diff and DV-level pair diff for this commit
    from the file lists planned driver-side. Work and memory are
    bounded by the files the COMMIT touched (a rewrite's add+remove
    set plus deleted-rows-sized DV sidecars), never by table size —
    the same O(commit) contract the batch CDF documents."""

    def __init__(
        self,
        version: int,
        added: list,
        removed: list,
        dv_before: list,
        dv_after: list,
        both: list,
        rename: dict,
        dropped: list,
    ):
        self.version = version
        self.added = added        # abs data files this commit added
        self.removed = removed    # abs data files this commit removed
        self.dv_before = dv_before  # abs sidecars active at version-1
        self.dv_after = dv_after    # abs sidecars active at version
        self.both = both          # abs files live at BOTH versions and
        self.rename = rename      # targeted by this commit's sidecars
        self.dropped = dropped


def _stats_disjoint(add: dict, bounds: dict, m: dict) -> bool:
    """True iff the file's logged min/max stats PROVE it cannot hold
    a row satisfying the pushed bounds (per-column closed intervals,
    logical names). Bounds are relaxed to closed even for strict
    comparisons and any type mismatch keeps the file — pruning is
    only ever an optimization, Spark re-applies every filter."""
    st = add.get("stats", {})
    for col, (lo, hi) in bounds.items():
        phys = m.get(col, col)
        mn = st.get("min", {}).get(phys)
        mx = st.get("max", {}).get(phys)
        if mn is None or mx is None:
            continue  # no stats for this column: conservatively keep
        try:
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return True
        except TypeError:
            continue  # incomparable types: keep
    return False


def _plan_commits(
    path: str,
    start_after: int,
    end: int,
    skip_change_commits: bool,
    bounds: dict | None = None,
    schema_version: int | None = None,
) -> list[_FilePartition]:
    """Driver-side planning: one partition per file added by commits
    in ``(start_after, end]``. Cost is O(commits planned) log reads.
    The column mapping (renames/drops fold) at ``schema_version``
    ships with every partition so the read surfaces the same logical
    names ``snapshot(version=schema_version)`` would. The batch face
    passes its ``end_version`` (a historical range read must match
    the snapshot at that version); the STREAMING face passes None =
    current head — a live tail surfaces today's names for yesterday's
    commits, and a checkpoint replay after a rename re-reads old
    commits under the post-rename names, consistent with the
    restart-to-pick-up-schema rule :func:`_read_partition` enforces.
    ``bounds`` (from the batch face's pushFilters) skips files whose
    logged min/max stats are provably disjoint — the txlog's
    log-level data skipping, surfaced through the datasource
    pushdown API."""
    m, dropped = txlog._replay(path, schema_version).fold_schema()
    rename = {p: lg for lg, p in m.items()}
    bounds = bounds or {}
    # a bound on _commit_version narrows the VERSION loop itself
    if "_commit_version" in bounds:
        import math

        lo, hi = bounds["_commit_version"]
        if lo is not None:
            start_after = max(start_after, int(math.ceil(lo)) - 1)
        if hi is not None:
            end = min(end, int(math.floor(hi)))
    data_bounds = {c: b for c, b in bounds.items() if c != "_commit_version"}
    parts: list[_FilePartition] = []
    for v in range(start_after + 1, end + 1):
        # expired commits surface txlog.VersionExpired (a stream
        # whose offset fell below the retention horizon cannot
        # replay; restart it with starting_version at or past
        # txlog.earliest_version), never a bare missing-file error
        try:
            actions = txlog._load_commit(path, v)["actions"]
        except FileNotFoundError:
            raise ValueError(f"version {v} not found at {path}")
        is_change = any("remove" in a or "add_dv" in a or "remove_dv" in a for a in actions)
        if is_change:
            if skip_change_commits:
                continue
            raise ValueError(
                f"commit {v} at {path} rewrites or deletes data; the "
                "append stream cannot represent it as inserts. Use "
                "skip_change_commits=true to ignore such commits, or "
                "the batch change feed (txlog.changes / "
                "txlog.replicate_changes) for row-level deltas."
            )
        for a in actions:
            if "add" not in a:
                continue
            if data_bounds and _stats_disjoint(a["add"], data_bounds, m):
                continue  # provably no qualifying rows — never opened
            f_abs = txlog._abs(path, a["add"]["path"])
            if not os.path.exists(f_abs):
                raise FileNotFoundError(
                    f"data file of commit {v} was vacuumed: {a['add']['path']}; "
                    "a stream starting below the retention window cannot "
                    "replay it — raise starting_version past the vacuum"
                )
            parts.append(_FilePartition(f_abs, v, rename, sorted(dropped)))
    return parts


def _data_arrow_schema(schema: StructType):
    """Arrow schema of the DATA columns (stream columns stripped) —
    the by-name alignment target of the read_changes face."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    return pa.schema(
        [
            arrow.field(n)
            for n in arrow.names
            if n not in ("_change_type", "_commit_version")
        ]
    )


def _reject_unknown_columns(cols, data_names, context: str) -> None:
    """Columns present in a change-commit's rows but ABSENT from the
    stream's declared schema mean a rename (or an unknown column)
    committed after the stream captured its schema: emitting them by
    name-alignment would silently NULL the renamed column's values
    (the r11 review finding). Fail loudly with the same
    restart-to-pick-up-schema contract the append face enforces."""
    extra = [c for c in cols if c not in set(data_names)]
    if extra:
        raise ValueError(
            f"{context}: column(s) {extra} are not in the stream's "
            "declared schema — a rename/drop was committed after the "
            "stream started. Restart the stream (or use end_version on "
            "the batch face) to pick up the new schema"
        )


def _align_to_schema(table, data_schema, abs_path: str):
    """Align one file's arrow table to the declared data schema BY
    NAME: extra columns raise (see :func:`_reject_unknown_columns`),
    columns the file predates null-fill at the declared type (as the
    batch CDF reads them), and the result is reordered
    and cast to the declared types."""
    import pyarrow as pa

    _reject_unknown_columns(
        table.column_names, data_schema.names, f"file {abs_path}"
    )
    arrays = []
    for field in data_schema:
        if field.name in table.column_names:
            arrays.append(table.column(field.name).cast(field.type))
        else:
            arrays.append(pa.nulls(table.num_rows, type=field.type))
    return pa.Table.from_arrays(arrays, schema=data_schema)


def _read_partition(
    partition: _FilePartition,
    n_cols: int,
    change_type: str | None = None,
    data_schema=None,
) -> Iterator:
    """Executor-side: one parquet file → tombstoned columns dropped,
    physical names renamed to logical, a ``_commit_version`` column
    (and, on the read_changes face, a constant ``_change_type``)
    appended — Arrow record batches out.

    The append face pins the data column COUNT (``n_cols``) so a file
    written before an additive schema change fails loudly instead of
    mis-aligning positionally. The read_changes face instead aligns
    BY NAME against ``data_schema`` (null-filling pre-evolution
    files, raising on unknown names) so a historical change-feed
    range across an additive evolution matches what the batch CDF's
    read delivers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(partition.abs_path)
    drop = [c for c in table.column_names if c in set(partition.dropped)]
    if drop:
        table = table.drop_columns(drop)
    if partition.rename:
        table = table.rename_columns(
            [partition.rename.get(c, c) for c in table.column_names]
        )
    if data_schema is not None:
        table = _align_to_schema(table, data_schema, partition.abs_path)
    elif table.num_columns != n_cols:
        raise ValueError(
            f"file {partition.abs_path} has {table.num_columns} columns, "
            f"stream schema expects {n_cols}; the append stream does not "
            "support schema evolution mid-stream — restart the stream to "
            "pick up the widened schema"
        )
    if change_type is not None:
        ct = pa.array([change_type] * table.num_rows, type=pa.string())
        table = table.append_column("_change_type", ct)
    ver = pa.array([partition.version] * table.num_rows, type=pa.int64())
    table = table.append_column("_commit_version", ver)
    yield from table.to_batches()


def _plan_changes(
    path: str,
    start_after: int,
    end: int,
    schema_version: int | None = None,
) -> list[InputPartition]:
    """Driver-side planning for the read_changes face: every commit
    in ``(start_after, end]`` becomes row-level change partitions.
    Pure appends fan out one partition per added FILE (the common
    case at scale — identical parallelism to the append face);
    change commits (COW rewrites, DV deletes/restores, compactions)
    become ONE :class:`_CdfCommitPartition` each, whose executor-side
    diff is bounded by the files that commit touched. Metadata-only
    commits (renames, txn markers, constraints…) emit no partitions —
    a change feed of row changes has nothing to say about them.
    Planning cost: O(commits planned) log reads plus, for DV commits
    only, this commit's sidecar name columns (deleted-rows-sized) —
    the same driver reads the batch CDF does."""
    m, dropped = txlog._replay(path, schema_version).fold_schema()
    rename = {p: lg for lg, p in m.items()}
    parts: list[InputPartition] = []
    for v in range(start_after + 1, end + 1):
        # expired commits: txlog.VersionExpired (see _plan_commits)
        spec = txlog._change_spec(path, v)
        if not spec.removed and not spec.sidecars:
            parts.extend(_FilePartition(f, v, rename, sorted(dropped)) for f in spec.added)
            continue
        # change commit — the diff spec changes() plans: each side's
        # rows are read through ITS version's active DVs
        parts.append(
            _CdfCommitPartition(
                v,
                spec.added,
                spec.removed,
                [txlog._abs(path, p) for p in spec.before.dvs],
                [txlog._abs(path, p) for p in spec.after.dvs],
                spec.both,
                rename,
                sorted(dropped),
            )
        )
    return parts



def _freeze(v):
    """Hashable stand-in for a nested cell (list/ndarray → tuple,
    struct dict → marked item tuple), recursively — pandas groupby and
    merge keys must hash, and value equality must survive the trip.
    :func:`_thaw` is the exact inverse applied before Arrow emission."""
    import numpy as np

    if isinstance(v, np.ndarray):
        return tuple(_freeze(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return ("__struct__", tuple((k, _freeze(x)) for k, x in sorted(v.items())))
    return v


def _thaw(v):
    if isinstance(v, tuple):
        if len(v) == 2 and v[0] == "__struct__":
            return {k: _thaw(x) for k, x in v[1]}
        return [_thaw(x) for x in v]
    return v


def _read_cdf_commit(partition: _CdfCommitPartition, schema: StructType) -> Iterator:
    """Executor-side diff of one change commit — the pyarrow/pandas
    re-expression of txlog.changes()'s plan (which is Spark-side and
    therefore unavailable inside a datasource read task):

      inserts = rows(added \\ dv_after)  exceptAll  rows(removed \\ dv_before)
      deletes = the reverse
      + for files live at both versions: rows matching newly-ACTIVE
        DV pairs are deletes, newly-RETIRED pairs are inserts.

    All frames are commit-sized (a rewrite's touched files), the
    same bound the batch CDF documents. Duplicate rows follow
    exceptAll multiset semantics via per-group occurrence counting.
    Emitted rows are cast back through the stream's declared arrow
    schema, so additive-evolution null-fills keep their integer
    types instead of decaying to pandas float64."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    data_names = [
        n for n in arrow.names if n not in ("_change_type", "_commit_version")
    ]
    data_name_set = set(data_names)
    tombstoned = set(partition.dropped)

    def _tagged(paths: list) -> pd.DataFrame | None:
        """Rows of ``paths`` with (_dv_file, _dv_pos) identity tags,
        physical names translated to logical; by-name alignment
        null-fills columns a pre-evolution file lacks (as the batch
        CDF reads them)."""
        if not paths:
            return None
        frames = []
        for ap in paths:
            t = pq.read_table(ap)
            keep = [c for c in t.column_names if c not in tombstoned]
            t = t.select(keep).rename_columns(
                [partition.rename.get(c, c) for c in keep]
            )
            df = t.to_pandas()
            # nested cells arrive as numpy arrays / dicts — unhashable
            # under the diff's groupby/merge keys. Freeze them to
            # tuples (value-equal, hashable); emission converts back
            # through the declared arrow schema.
            for c in df.columns:
                if df[c].dtype == object:
                    df[c] = df[c].map(_freeze)
            df.insert(0, "_dv_file", _os.path.basename(ap))
            df.insert(1, "_dv_pos", range(len(df)))
            frames.append(df)
        return pd.concat(frames, ignore_index=True, sort=False)

    def _pairs(paths: list) -> pd.DataFrame:
        """Distinct active (_dv_file, _dv_pos) pairs of a sidecar
        set. No live-file restriction needed here: pairs are only
        ever matched against rows of files this commit touched, and
        a pair targeting any other file simply never joins."""
        if not paths:
            return pd.DataFrame({"_dv_file": [], "_dv_pos": []})
        frames = [
            pq.read_table(p, columns=["_dv_file", "_dv_pos"]).to_pandas()
            for p in paths
        ]
        return pd.concat(frames, ignore_index=True).drop_duplicates()

    def _anti(rows: pd.DataFrame | None, pairs: pd.DataFrame) -> pd.DataFrame | None:
        if rows is None or not len(pairs):
            return rows
        m = rows.merge(
            pairs.assign(__hit=1), on=["_dv_file", "_dv_pos"], how="left"
        )
        return m[m["__hit"].isna()][rows.columns]

    def _data(rows: pd.DataFrame | None) -> pd.DataFrame | None:
        # project to the stream's declared data columns so the two
        # diff sides always share one column set (a rewrite across an
        # additive schema change leaves the removed side narrower).
        # Names the schema does NOT know mean a post-stream-start
        # rename — silently reindexing would NULL that column's
        # values, so fail loudly instead (same contract as the
        # append-face alignment).
        if rows is None:
            return None
        _reject_unknown_columns(
            [c for c in rows.columns if c not in ("_dv_file", "_dv_pos")],
            data_name_set,
            f"change commit {partition.version}",
        )
        return rows.reindex(columns=data_names)

    def _except_all(a: pd.DataFrame | None, b: pd.DataFrame | None):
        """Multiset difference (Spark exceptAll): keep max(0, nA-nB)
        copies of each distinct row — per-group occurrence index vs
        the other side's group count."""
        if a is None or not len(a):
            return a
        if b is None or not len(b):
            return a
        cols = list(a.columns)
        occ = a.groupby(cols, dropna=False).cumcount()
        nb = (
            b.groupby(cols, dropna=False).size().rename("__nb").reset_index()
        )
        m = a.merge(nb, on=cols, how="left")
        m["__nb"] = m["__nb"].fillna(0)
        return m[occ.values >= m["__nb"].values][cols]

    dvb = _pairs(partition.dv_before)
    dva = _pairs(partition.dv_after)
    a_rows = _anti(_tagged(partition.added), dva)
    r_rows = _anti(_tagged(partition.removed), dvb)
    inserts = _except_all(_data(a_rows), _data(r_rows))
    deletes = _except_all(_data(r_rows), _data(a_rows))

    if partition.both:
        t = _tagged(partition.both)
        new_del = _except_all(dva, dvb)
        new_ins = _except_all(dvb, dva)

        def _semi(pairs_: pd.DataFrame | None) -> pd.DataFrame | None:
            if pairs_ is None or not len(pairs_):
                return None
            return _data(t.merge(pairs_, on=["_dv_file", "_dv_pos"], how="inner"))

        for extra, side in ((_semi(new_del), "del"), (_semi(new_ins), "ins")):
            if extra is None:
                continue
            if side == "del":
                deletes = extra if deletes is None else pd.concat(
                    [deletes, extra], ignore_index=True, sort=False
                )
            else:
                inserts = extra if inserts is None else pd.concat(
                    [inserts, extra], ignore_index=True, sort=False
                )

    data_schema = pa.schema([arrow.field(n) for n in data_names])
    for ct, df in (("insert", inserts), ("delete", deletes)):
        if df is None or not len(df):
            continue
        df = df.reindex(columns=data_names)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(_thaw)
        t = pa.Table.from_pandas(
            df, schema=data_schema, preserve_index=False,
        )
        t = t.append_column(
            "_change_type", pa.array([ct] * t.num_rows, type=pa.string())
        )
        t = t.append_column(
            "_commit_version",
            pa.array([partition.version] * t.num_rows, type=pa.int64()),
        )
        yield from t.to_batches()


def _table_schema(
    path: str, version: int | None = None, changes: bool = False
) -> StructType:
    """Table schema from the log's ``data_schema`` action with the
    column mapping applied (logical names, tombstoned columns
    excluded), plus the stream's ``_commit_version``: no file is
    opened. ``version`` (the batch face's end_version) folds the
    schema and names AS OF that version so a historical range read
    matches ``snapshot(version=...)``; None = head (the streaming
    face). A log without the action, written before it existed, takes
    the union of the live files' parquet footers, read driver-side."""
    st = txlog._replay(path, version)
    files = st.files(path)
    if not files:
        raise FileNotFoundError(f"empty txlog table at {path}")
    m, dropped = st.fold_schema()
    rename = {p: lg for lg, p in m.items()}
    if st.data_schema is not None:
        spark_schema = StructType.fromJson(st.data_schema)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        # UNION of all live footers, not one file's: under additive
        # schema evolution the live set mixes generations and any
        # single footer may be the narrow one (snapshot() reads such a
        # log with mergeSchema; the stream's declared schema must
        # match it).
        spark_schema = from_arrow_schema(
            pa.unify_schemas([pq.read_schema(f) for f in files])
        )
    fields = [
        StructField(rename.get(f.name, f.name), f.dataType, f.nullable)
        for f in spark_schema.fields
        if f.name not in dropped
    ]
    if changes:
        fields.append(StructField("_change_type", StringType(), False))
    return StructType(
        fields + [StructField("_commit_version", LongType(), False)]
    )


def _resolve_start(options: dict) -> int:
    """Starting version from either ``starting_version`` (inclusive,
    Delta's startingVersion) or ``starting_timestamp`` (epoch millis
    — Delta's startingTimestamp: the EARLIEST commit at or after the
    timestamp, resolved against the in-commit timestamps, so a
    wall-clock step backwards cannot change the answer). Mutually
    exclusive. A timestamp past the head resolves to head+1 — a
    tail-only subscription; nothing historical qualifies. Legacy
    (pre-timestamp) commits sort as OLDER than any timestamp — the
    same ts=-1 rule txlog.version_at_timestamp applies — so a log
    whose early commits predate in-commit timestamps resolves to the
    first timestamped commit instead of erroring."""
    sv = options.get("starting_version")
    st = options.get("starting_timestamp")
    if st is None:
        return int(sv) if sv is not None else 0
    if sv is not None:
        raise ValueError(
            "starting_version and starting_timestamp are mutually exclusive"
        )
    path = options["path"]
    ts = int(st)
    head = txlog.current_version(path)

    def _lts(v: int) -> int:  # legacy ts-less commits read as -1
        with open(txlog._commit_path(path, v)) as f:
            return json.load(f).get("ts", -1)

    if ts <= _lts(0):
        return 0
    if ts > _lts(head):
        return head + 1
    v = txlog.version_at_timestamp(path, ts)
    return v if _lts(v) == ts else v + 1


def _commit_add_bytes(path: str, version: int) -> int:
    """Bytes this commit ADDS, from the log alone: the sum of its add
    actions' sizes (``txlog._add_size``, which stats only a legacy
    add written before sizes were logged)."""
    try:
        actions = txlog._load_commit(path, version)["actions"]
    except FileNotFoundError:
        raise ValueError(f"version {version} not found at {path}")
    return sum(txlog._add_size(path, a["add"]) for a in actions if "add" in a)


def _bytes_cap_end(path: str, base: int, hi: int, max_bytes: int) -> int:
    """Largest end version in (base, hi]: commits are admitted until
    the running add-bytes sum reaches ``max_bytes`` (a Delta-style
    SOFT cap — the closing commit may push the batch total to or
    past it; only the prefix before that commit stays under), and
    the first commit after ``base`` is always admitted (a single
    over-cap commit must still drain, Delta's minimum-one-file
    rule). Cost:
    one driver-side JSON read per commit scanned, bounded by the
    caps themselves on every trigger after the first."""
    total = 0
    end = base
    for v in range(base + 1, hi + 1):
        if end > base and total >= max_bytes:
            break
        total += _commit_add_bytes(path, v)
        end = v
    return end


class _TxlogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        if "path" not in options:
            raise ValueError("txlog_stream requires a 'path' option")
        self._path = options["path"]
        # partitioned tables keep partition values in the LOG, not in
        # data files — this reader's per-file Arrow path would drop
        # those columns silently; refuse loudly until taught
        txlog._require_not_partitioned(self._path, "txlog_stream")
        # starting_version is INCLUSIVE (Delta's startingVersion);
        # default 0 replays the table's whole append history.
        # starting_timestamp (Delta's startingTimestamp) resolves to
        # the earliest commit at/after the in-commit timestamp.
        self._start = _resolve_start(options)
        self._skip_changes = str(options.get("skip_change_commits", "false")).lower() == "true"
        # read_changes=true: Delta's readChangeFeed streaming face —
        # row-level insert/delete feed for EVERY commit, no audit
        # table hop (replicate_changes composition stays available
        # for replicated/multi-consumer topologies)
        self._read_changes = str(options.get("read_changes", "false")).lower() == "true"
        if self._read_changes and self._skip_changes:
            raise ValueError(
                "read_changes and skip_change_commits are mutually "
                "exclusive: the change feed REPRESENTS change commits"
            )
        self._schema = schema  # shipped to executors for CDF casting
        meta = 2 if self._read_changes else 1
        self._n_cols = len(schema.fields) - meta  # minus stream columns
        # Delta's maxFilesPerTrigger analog at the txlog's natural
        # granularity: cap each micro-batch at N COMMITS so a fresh
        # consumer of a long-history table drains the backlog in
        # bounded batches instead of one table-sized batch (at 100 TB
        # that is an OOM, not a stream).
        mx = options.get("max_commits_per_trigger")
        self._max = int(mx) if mx is not None else None
        if self._max is not None and self._max < 1:
            raise ValueError("max_commits_per_trigger must be >= 1")
        # Delta's maxBytesPerTrigger analog: commits vary wildly in
        # size (one compaction commit can carry 1000× an append's
        # bytes), so a commit-count cap alone cannot bound a batch's
        # memory/IO. The admission sum reads ONLY log-recorded add
        # sizes (a planning-time JSON read per commit, no file
        # stats/GETs); a batch closes once its admitted bytes REACH
        # the cap, and at least one commit is always admitted so a
        # single over-cap commit still drains. Both caps compose:
        # whichever closes the batch first wins.
        mb = options.get("max_bytes_per_trigger")
        self._max_bytes = int(mb) if mb is not None else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("max_bytes_per_trigger must be >= 1")
        # last offset this RUN has planned up to — the cap's base.
        # The python datasource API has no admission-control
        # handshake (latestOffset takes no start offset), so the
        # reader tracks it: initialOffset pins it for FRESH streams
        # (capped from batch 0); partitions()/commit() re-sync it
        # when the engine replays a checkpointed batch after restart.
        self._base: int | None = None


    def initialOffset(self) -> dict:
        # never REWIND the cap base: the engine asks latestOffset
        # before initialOffset on a fresh stream, and that first
        # answer may already have advanced past start - 1
        if self._base is None:
            self._base = self._start - 1
        return {"version": self._start - 1}

    def latestOffset(self) -> dict:
        head = txlog.current_version(self._path)
        if self._max is None and self._max_bytes is None:
            return {"version": head}
        if self._base is None:
            # First offset request of this reader's life. Two cases,
            # both safe to cap from (starting_version - 1):
            #   * fresh stream — the engine asks latestOffset BEFORE
            #     initialOffset (observed pyspark 4.1.2 ordering), so
            #     this IS batch 0's end: capping here is what bounds
            #     a fresh consumer's first batch;
            #   * restart — the engine re-plans the offset log's last
            #     batch through partitions(start, end) BEFORE its
            #     first latestOffset call (observed for committed and
            #     uncommitted last batches alike), which re-syncs
            #     _base to the checkpoint, so this branch is never
            #     reached with a stale base and can never rewind the
            #     offset log below delivered commits.
            self._base = self._start - 1

        end = head
        if self._max is not None:
            end = min(end, self._base + self._max)
        if self._max_bytes is not None and end > self._base:
            end = min(end, _bytes_cap_end(self._path, self._base, end, self._max_bytes))
        end = max(end, self._base)
        self._base = end
        return {"version": end}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        e = int(end["version"])
        if self._base is None or e > self._base:
            self._base = e  # re-run of a restored uncommitted batch
        if self._read_changes:
            return _plan_changes(self._path, int(start["version"]), e)
        return _plan_commits(
            self._path, int(start["version"]), e, self._skip_changes
        )

    def read(self, partition: InputPartition) -> Iterator:
        if isinstance(partition, _CdfCommitPartition):
            return _read_cdf_commit(partition, self._schema)
        return _read_partition(
            partition,
            self._n_cols,
            "insert" if self._read_changes else None,
            data_schema=_data_arrow_schema(self._schema)
            if self._read_changes
            else None,
        )

    def commit(self, end: dict) -> None:
        # offsets live in the engine's streaming checkpoint; the log
        # itself is immutable — nothing to reclaim. Keep the cap's
        # base in sync as a defense-in-depth (partitions already did).
        e = int(end["version"])
        if self._base is None or e > self._base:
            self._base = e


class _TxlogBatchReader(DataSourceReader):
    """Batch face over the SAME plan/read path: appended rows for
    commits in [starting_version, end_version] — how the driver's
    differential oracle pins the stream's per-commit semantics.
    See :class:`_TxlogBatchReaderPushdown` for the filter-pushdown
    variant (log-level data skipping); Spark REFUSES any reader that
    merely defines ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false, so the
    capability lives in a subclass the DataSource picks only when the
    session has it enabled — a vanilla session gets this plain reader
    and identical results."""

    def __init__(self, schema: StructType, options: dict):
        if "path" not in options:
            raise ValueError("txlog_stream requires a 'path' option")
        self._path = options["path"]
        txlog._require_not_partitioned(self._path, "txlog_stream batch")
        self._start = _resolve_start(options)
        end = options.get("end_version")
        self._end = int(end) if end is not None else txlog.current_version(options["path"])
        self._skip_changes = str(options.get("skip_change_commits", "false")).lower() == "true"
        self._read_changes = str(options.get("read_changes", "false")).lower() == "true"
        if self._read_changes and self._skip_changes:
            raise ValueError(
                "read_changes and skip_change_commits are mutually "
                "exclusive: the change feed REPRESENTS change commits"
            )
        self._schema = schema
        self._n_cols = len(schema.fields) - (2 if self._read_changes else 1)
        self._bounds: dict = {}

    def partitions(self) -> Sequence[InputPartition]:
        # schema folds at end_version: a historical range read must
        # surface the names/columns snapshot(version=end) would, not
        # post-range renames/drops (version-faithful, like changes()).
        # The read_changes face ignores pushed bounds: stats pruning
        # reasons about a file's rows, but a change ROW's presence
        # depends on the multiset diff across files, so dropping a
        # provably-out-of-bounds file could still flip diff counts —
        # Spark re-applies every filter, so this only forgoes IO
        # skipping, never correctness.
        if self._read_changes:
            return _plan_changes(
                self._path, self._start - 1, self._end,
                schema_version=self._end,
            )
        return _plan_commits(
            self._path,
            self._start - 1,
            self._end,
            self._skip_changes,
            self._bounds,
            schema_version=self._end,
        )

    def read(self, partition: InputPartition) -> Iterator:
        if isinstance(partition, _CdfCommitPartition):
            return _read_cdf_commit(partition, self._schema)
        return _read_partition(
            partition,
            self._n_cols,
            "insert" if self._read_changes else None,
            data_schema=_data_arrow_schema(self._schema)
            if self._read_changes
            else None,
        )


class _TxlogBatchReaderPushdown(_TxlogBatchReader):
    """Batch reader with datasource filter pushdown as LOG-LEVEL DATA
    SKIPPING: comparison filters prune files by their logged min/max
    stats (and a ``_commit_version`` bound narrows the commit range
    itself); every filter is returned to Spark for re-evaluation, so
    pushdown only removes provably-disjoint IO and can never change
    results."""

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if not isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ) or len(f.attribute) != 1:
                continue  # unsupported shape: Spark evaluates it, no pruning
            col = f.attribute[0]
            lo, hi = self._bounds.get(col, (None, None))
            v = f.value
            try:
                # strict bounds relax to closed — conservative pruning
                if isinstance(f, EqualTo):
                    lo = v if lo is None else max(lo, v)
                    hi = v if hi is None else min(hi, v)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    lo = v if lo is None else max(lo, v)
                else:
                    hi = v if hi is None else min(hi, v)
            except TypeError:
                continue
            self._bounds[col] = (lo, hi)
        # every filter goes back to Spark: pushdown PRUNES, never decides
        return filters


class TxlogStreamDataSource(DataSource):
    """``txlog_stream`` format: register once per session with
    ``spark.dataSource.register(TxlogStreamDataSource)``, then

        spark.readStream.format("txlog_stream")
             .option("path", table_path).load()

    Options: ``path`` (required), ``starting_version`` (inclusive,
    default 0), ``starting_timestamp`` (epoch millis — Delta's
    startingTimestamp: start at the earliest commit whose in-commit
    timestamp is at/after it; mutually exclusive with
    starting_version; past-head resolves to a tail-only
    subscription), ``skip_change_commits`` (default false — raise on
    COW/DV commits), ``max_commits_per_trigger`` (streaming face:
    cap each micro-batch at N commits — Delta's maxFilesPerTrigger
    analog — so a long backlog drains in bounded batches),
    ``max_bytes_per_trigger`` (admit commits until their
    log-recorded add-bytes reach the cap, at least one per batch;
    composes with the commit cap — whichever closes first wins),
    ``read_changes`` (Delta's readChangeFeed: emit row-level
    ``_change_type`` insert/delete rows for EVERY commit, appends
    fanned out per file and change commits diffed per commit — no
    replicate_changes audit-table hop), and for the batch face
    ``end_version`` (inclusive, default: table head at planning
    time; the range read's schema folds as of this version, matching
    ``snapshot(version=end_version)``)."""

    @classmethod
    def name(cls) -> str:
        return "txlog_stream"

    def schema(self) -> StructType:
        # the batch face reads a version range, so its schema is the
        # fold AS OF end_version; the streaming face (no end_version
        # option) tails at head schema
        end = self.options.get("end_version")
        changes = str(self.options.get("read_changes", "false")).lower() == "true"
        return _table_schema(
            self.options["path"],
            int(end) if end is not None else None,
            changes=changes,
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _TxlogStreamReader(schema, self.options)

    def reader(self, schema: StructType) -> DataSourceReader:
        # the pushdown-capable reader only where the session allows
        # it: Spark raises DATA_SOURCE_PUSHDOWN_DISABLED for ANY
        # reader defining pushFilters under a false conf, so a
        # vanilla session must get the plain reader (same results,
        # no file skipping). reader() runs driver-side with the
        # active session in scope.
        try:
            from pyspark.sql import SparkSession

            sess = SparkSession.getActiveSession()
            enabled = (
                sess is not None
                and str(
                    sess.conf.get("spark.sql.python.filterPushdown.enabled", "false")
                ).lower()
                == "true"
            )
        except Exception:
            enabled = False
        cls = _TxlogBatchReaderPushdown if enabled else _TxlogBatchReader
        return cls(schema, self.options)


def register_txlog_stream(spark) -> None:
    """Idempotent per-session registration of the format."""
    spark.dataSource.register(TxlogStreamDataSource)
