"""The transaction-log table as a Spark DataSource — batch AND
streaming — closing the loop sources/tablelog.py opened: the log
format can now be consumed with ``spark.read.format("tablelog")`` and
``spark.readStream.format("tablelog")`` like Delta, not only through
the library API.

- **Batch**: one InputPartition per live data file (the log is the
  manifest — no directory listing), pyarrow-decoded executor-side.
  A 1000-executor cluster reads 1000 files concurrently, exactly like
  the gzjsonl connector (sources/pydatasource.py).
- **Streaming**: one reader, TableLogPartitionedStreamReader. The
  offset IS the log version — the property that makes a lakehouse
  table a replayable stream. Each micro-batch delivers the rows of
  files ADDED by commits in (start, end], one executor-side Arrow
  partition per file; the checkpoint stores versions, so restart
  replay re-plans the exact same commit range (partitions(start,
  end)) and exactly-once composes with any idempotent sink.
  Append-only by default: a commit that REMOVES files
  (overwrite/MERGE/OPTIMIZE) fails the stream loudly — Delta's
  documented behavior — unless ``ignore_deletes`` is set, which
  delivers the commit's added files and documents that copy-on-write
  rewrites re-deliver carried rows (Delta's ignoreChanges contract).

Reference: no counterpart (SURVEY §2.9 records streaming as absent);
north-star storage/streaming extension, public Delta streaming-source
semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .tablelog import (
    _load_commit,
    _plan_files,
    _schema_shape,
    _snapshot,
    _versions,
    latest_version,
)


def _layout(snap) -> tuple[StructType, list[str] | None]:
    """(logical schema, physical column names or None) of a snapshot:
    with column mapping, files store PHYSICAL names."""
    schema = StructType.fromJson(json.loads(snap.schema))
    m = snap.col_mapping
    return schema, ([m.get(n, n) for n in schema.fieldNames()] if m else None)


def _dead_by_base(table: str, dv_state: dict[str, str]) -> dict[str, list]:
    """part-file basename -> sorted deleted row positions, resolved
    ONCE at PLAN time: each distinct sidecar parquet is read a single
    time (not once per data file) and its rows bucketed by the
    uuid-unique part basename — the same identity rule as the library
    reader's _dv_positions, stable across absolute/relative path
    formats. Positions are per-file physical row indices (pyarrow's
    read order, the identity Spark's _metadata.row_index uses).
    Sidecars are cumulative per mapping, and stale rows for superseded
    mappings are subsets of the newer sidecar, so the union keyed by
    live basenames equals each file's own-sidecar view."""
    import pyarrow.parquet as pq

    live = {os.path.basename(f) for f in dv_state}
    dead: dict[str, set[int]] = {}
    for sidecar in sorted(set(dv_state.values())):
        tb = pq.read_table(
            os.path.join(table, sidecar), columns=["file", "pos"]
        )
        for f, p in zip(
            tb.column("file").to_pylist(), tb.column("pos").to_pylist()
        ):
            b = os.path.basename(f)
            if b in live:
                dead.setdefault(b, set()).add(p)
    return {b: sorted(s) for b, s in dead.items()}


class _TLFilePartition(InputPartition):
    def __init__(self, rel: str, dead: list | None = None):
        self.rel = rel
        self.dead = dead  # this file's OWN deleted positions only


class TableLogBatchReader(DataSourceReader):
    def __init__(self, options):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("tablelog requires option 'path'")
        self.as_of = (
            int(options["as_of"]) if options.get("as_of") is not None else None
        )
        self._snap = _snapshot(self.table, self.as_of)
        self._schema, self._phys = _layout(self._snap)

    def __getstate__(self):
        # read() decodes one file: the snapshot is plan-time metadata
        return {**self.__dict__, "_snap": None}

    def pushFilters(self, filters):
        """Zone-map + bloom file pruning from the LOG's metadata
        (tablelog._plan_files, the planner read_table_box and
        read_table_point_lookup use): range predicates narrow a
        per-column (lo, hi) box; EqualTo/In predicates additionally
        collect exact probe sets for committed per-file BLOOM filters
        — the selective-IN case a [min, max] box barely prunes.
        EVERY filter is yielded back — Spark re-applies them all
        post-scan, so pruning is a pure optimization and correctness
        never depends on stats coverage (files without stats/bloom for
        a predicate column are conservatively kept). Requires the
        Spark-4 opt-in spark.sql.python.filterPushdown.enabled."""
        preds: dict[str, list] = {}
        probes: dict[str, set] = {}

        def tighten(col, lo, hi):
            cur = preds.setdefault(col, [None, None])
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi

        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            v = getattr(f, "value", None)
            comparable = isinstance(v, (int, float, str)) and not isinstance(
                v, bool
            )
            if col is not None:
                if isinstance(f, EqualTo) and comparable:
                    tighten(col, v, v)
                    probes.setdefault(col, set()).add(v)
                elif isinstance(
                    f, (GreaterThan, GreaterThanOrEqual)
                ) and comparable:
                    tighten(col, v, None)
                elif isinstance(
                    f, (LessThan, LessThanOrEqual)
                ) and comparable:
                    tighten(col, None, v)
                elif isinstance(f, In) and f.value:
                    vals = [
                        x
                        for x in f.value
                        if isinstance(x, (int, float, str))
                        and not isinstance(x, bool)
                    ]
                    if len(vals) == len(f.value):
                        tighten(col, min(vals), max(vals))
                        probes.setdefault(col, set()).update(vals)
            yield f  # always returned: Spark re-applies exactly
        self._preds = {
            c: (lo, hi) for c, (lo, hi) in preds.items() if lo is not None or hi is not None
        }
        self._probes = {c: sorted(s) for c, s in probes.items() if s}

    def partitions(self):
        snap = self._snap
        files = _plan_files(
            snap, getattr(self, "_preds", None), getattr(self, "_probes", None)
        )
        # dv POSITIONS resolved at PLAN time: each sidecar parquet is
        # read once on the driver (sidecars are deletion-vector-sized,
        # metadata not data) — but each partition carries only ITS OWN
        # file's sorted dead positions, so task serialization is
        # O(this file's deletes), not O(table-wide deletes) per task
        dead = _dead_by_base(
            self.table, {f: snap.dv[f] for f in files if f in snap.dv}
        )
        return [
            _TLFilePartition(rel, dead.get(os.path.basename(rel)))
            for rel in files
        ]

    def read(self, partition: _TLFilePartition | None):
        # Arrow-native: parquet -> select/null-pad/cast -> dv boolean
        # mask -> RecordBatch yields; no per-row Python objects
        from .arrowio import parquet_file_batches

        if partition is None:  # every file pruned: Spark reads [None]
            return

        yield from parquet_file_batches(
            os.path.join(self.table, partition.rel),
            self._schema,
            self._phys,
            partition.dead,
        )


def _cap(options, name: str) -> int | None:
    """The admission-control cap ``name`` (a count >= 1), or None."""
    raw = options.get(name)
    if raw is None:
        return None
    n = int(raw)
    if n < 1:
        raise ValueError(f"{name} must be >= 1")
    return n


class _TLStreamPartition(InputPartition):
    def __init__(self, table: str, rel: str, schema_json: str, phys):
        self.table = table
        self.rel = rel
        self.schema_json = schema_json
        self.phys = phys


class TableLogPartitionedStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("tablelog")``. Offsets and commit-range
    planning stay on the driver — metadata-sized, the log IS the
    manifest — but the DATA never passes through it: each file added in
    (start, end] becomes one InputPartition decoded executor-side as
    Arrow RecordBatches (arrowio.parquet_file_batches), so a
    1000-executor cluster drains a backfilled table at cluster
    bandwidth. partitions(start, end) is deterministic — names and
    mapping resolve as of ``end`` — so a restart replays exactly the
    checkpointed range.

    Admission control lives in latestOffset, bounding how far one
    micro-batch may advance: ``max_commits_per_trigger`` caps the log
    versions one batch covers (without it a stream started against a
    long-backfilled table replays its entire history in one giant
    first batch), and ``max_files_per_trigger`` caps its files, which
    can split ONE giant commit across micro-batches via (version,
    index) offsets. Every commit is still delivered exactly once."""

    def __init__(self, options, expected_shape: list | None = None):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("tablelog requires option 'path'")
        self.ignore_deletes = str(
            options.get("ignore_deletes", "false")
        ).lower() in ("true", "1")
        self.max_commits = _cap(options, "max_commits_per_trigger")
        self.max_files = _cap(options, "max_files_per_trigger")
        # the QUERY's schema SHAPE ((name, type) pairs — _schema_shape),
        # fixed when the stream started — used to fail loudly (Delta's
        # schema-change contract) when a rename/drop/add/type change
        # lands mid-stream, instead of surfacing a low-level Arrow
        # column/cast mismatch from a worker or silently coercing
        self.expected_shape = expected_shape

    def _check_schema_drift(self, schema_json: str) -> None:
        if self.expected_shape is None:
            return
        got = _schema_shape(schema_json)
        if got != self.expected_shape:

            def _pretty(shape):
                try:
                    return [(n, json.loads(t)) for n, t in shape]
                except (ValueError, TypeError):
                    return shape  # unparseable shape: show it raw

            exp = _pretty(self.expected_shape)
            now = _pretty(got)
            raise ValueError(
                "tablelog stream: table schema changed mid-stream — the "
                f"query expects columns {exp} but the planned commit "
                f"range resolves to {now} (rename/drop/add/type change "
                "landed after the stream started); restart the stream "
                "to adopt the new schema (Delta schema-change contract: "
                "already-committed batches are not replayed)"
            )

    def _check_replayable(self, lo: int) -> None:
        vs = _versions(self.table)
        if vs and lo < vs[0] - 1:
            raise ValueError(
                f"tablelog stream: commits <= {vs[0] - 1} have been "
                "expired (expire_snapshots) — the requested offset "
                f"{lo} cannot be replayed; restart the stream from a "
                "fresh snapshot read"
            )

    def _check_commit(self, v: int, c: dict) -> None:
        if c.get("remove") and not self.ignore_deletes:
            raise ValueError(
                f"tablelog stream: commit {v} removes files — "
                "the table is not append-only; set "
                "ignore_deletes=true to stream adds anyway "
                "(copy-on-write rewrites will re-deliver "
                "carried rows)"
            )
        if (c.get("dv") or c.get("dv_clear")) and not self.ignore_deletes:
            # a dv commit adds no files but changes the
            # visibility of rows ALREADY DELIVERED — Delta
            # fails the stream on such change commits unless
            # the caller opts in; silently continuing would
            # leave downstream state permanently divergent
            raise ValueError(
                f"tablelog stream: commit {v} carries deletion "
                "vectors — previously delivered rows changed; "
                "set ignore_deletes=true to acknowledge that "
                "the stream will not retract them"
            )

    def initialOffset(self) -> dict:
        # called only on FRESH queries (restarts resume from the
        # checkpoint) — the marker that makes capped advancement from
        # -1 safe below
        self._fresh = True
        return {"version": -1}

    # Offset encoding: {"version": v} = every commit <= v fully
    # delivered; {"version": v, "index": i} = commits < v fully
    # delivered, commit v delivered only through add-file index i
    # (0-based, inclusive) — how max_files_per_trigger splits one
    # giant commit (a post-OPTIMIZE backfill) across micro-batches
    # with commit-boundary carry-over, Delta's (reservoirVersion,
    # index) offset shape. A fully-delivered version is written
    # WITHOUT "index" so pre-existing {"version": v} checkpoints
    # replay unchanged.

    def _files(self, start: dict, end: dict, check: bool = False) -> list:
        """[(version, add_index, rel, is_last_of_commit)] of add-files
        past offset ``start`` (exclusive) through offset ``end``
        (inclusive), in commit order — driver-side, metadata-sized.
        ``check`` applies the per-commit contract to every commit in
        the range, the ones that add no file included; partitions()
        sets it and latestOffset() does not, so a refused commit past
        a max_files cut still lets the files before it deliver."""
        sv, si = start["version"], start.get("index")
        ev, ei = end["version"], end.get("index")
        out = []
        for v in _versions(self.table):
            if v > ev:
                break
            if v < sv or (v == sv and si is None):
                continue  # fully delivered
            c = _load_commit(self.table, v)
            if check:
                self._check_commit(v, c)
            adds = c.get("add", [])
            lo_i = si + 1 if v == sv else 0
            hi_i = ei + 1 if (v == ev and ei is not None) else len(adds)
            out.extend(
                (v, i, rel, i == len(adds) - 1)
                for i, rel in enumerate(adds[lo_i:hi_i], lo_i)
            )
        return out

    def latestOffset(self) -> dict:
        # Admission control caps how far past the last offset actually
        # HANDED TO partitions() this trigger may advance — engines may
        # call latestOffset more than once per planned batch (e.g.
        # Trigger.AvailableNow planning), and advancing the base inside
        # latestOffset would let one micro-batch span several multiples
        # of the cap without any batch committing. On a RESTARTED query
        # (no initialOffset call, nothing planned yet, unknown
        # checkpoint position) the first answer is the true latest —
        # returning a capped offset below the checkpointed start would
        # move the stream backwards. Capping resumes once the first
        # batch has been planned.
        lv = latest_version(self.table)
        hi = -1 if lv is None else lv
        base = getattr(self, "_planned_end", None)
        base_known = base is not None or getattr(self, "_fresh", False)
        if base is None:
            base = {"version": -1}
        bv = base["version"]
        if not base_known:
            return {"version": max(hi, bv)}
        mc = self.max_commits
        if mc is not None:
            # existing versions are contiguous-or-sparse, so cap by
            # COUNT of committed versions in range, not by arithmetic
            # on version numbers
            pending_v = [v for v in _versions(self.table) if v > bv]
            if len(pending_v) > mc:
                hi = pending_v[mc - 1]
        end = {"version": max(hi, bv)}
        if self.max_files is not None:
            pend = self._files(base, end)
            if base.get("index") is not None and not pend and end[
                "version"
            ] == bv:
                return dict(base)  # no progress: echo the base exactly
            if len(pend) > self.max_files:
                v, i, _rel, last = pend[self.max_files - 1]
                end = {"version": v} if last else {"version": v, "index": i}
        return end

    def partitions(self, start: dict, end: dict):
        self._planned_end = dict(end)  # the admission-control base
        self._check_replayable(start["version"])
        rels = [f[2] for f in self._files(start, end, check=True)]
        as_of = end["version"] if end["version"] >= 0 else None
        if not rels or as_of is None:
            # metadata-only range (rename, dv under ignore_deletes), or
            # no visible commit yet: one sentinel partition yielding
            # nothing — the engine requires a non-empty partition list
            # per batch, and _snapshot would raise on an empty log
            return [_TLStreamPartition(self.table, None, "", None)]
        # names resolved AS OF the range's end version, never "latest":
        # a rename landing after a batch was planned must not change
        # the physical-name lookup of that batch's files
        schema, phys = _layout(_snapshot(self.table, as_of))
        schema_json = schema.json()
        self._check_schema_drift(schema_json)
        return [
            _TLStreamPartition(self.table, rel, schema_json, phys)
            for rel in rels
        ]

    def read(self, partition: _TLStreamPartition):
        from .arrowio import parquet_file_batches

        if partition.rel is None:  # metadata-only sentinel
            return
        schema = StructType.fromJson(json.loads(partition.schema_json))
        yield from parquet_file_batches(
            os.path.join(partition.table, partition.rel),
            schema,
            partition.phys,
        )

    def commit(self, end: dict) -> None:
        pass  # log entries are immutable; nothing to release


class _TLFileWritten(WriterCommitMessage):
    def __init__(self, rel: str | None, rows: int):
        self.rel = rel
        self.rows = rows


def _stage_arrow_partition(table, stage, cons, iterator) -> _TLFileWritten:
    """Task-side half of the two-phase commit, shared by the batch and
    streaming writers: buffer this task's Arrow batches, enforce CHECK
    constraints against them (DuckDB over the in-memory table —
    constraint expressions are ANSI SQL, the Delta-parity subset;
    a violation fails the TASK so the job aborts before anything is
    published), then stage ONE uuid-named parquet part. Task retries
    write fresh uuid files; only files named in successful commit
    messages ever get published."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _TLFileWritten(None, 0)
    tbl = pa.Table.from_batches(batches)
    if cons:
        import duckdb

        con = duckdb.connect()
        con.register("staged", tbl)
        for name, expr in sorted(cons.items()):
            bad = con.execute(
                "SELECT count(*) FROM staged "
                f"WHERE NOT coalesce(({expr}), TRUE)"
            ).fetchone()[0]
            if bad:
                raise ValueError(
                    f"write rejected: {bad} row(s) violate "
                    f"constraint {name!r} ({expr})"
                )
    os.makedirs(os.path.join(table, stage), exist_ok=True)
    rel = os.path.join(stage, f"part-{_uuid.uuid4().hex}.parquet")
    pq.write_table(tbl, os.path.join(table, rel))
    return _TLFileWritten(rel, tbl.num_rows)


def _writer_constraints(table: str, snap: int | None, instead: str) -> dict:
    """The CHECK constraints a DataSource write enforces, resolved at
    its plan-time head ``snap``; a column-mapped table is refused
    (files must carry frozen physical names — ``instead`` renames)."""
    if snap is None:
        return {}
    head = _snapshot(table, snap)
    if head.col_mapping:
        raise ValueError(
            "tablelog DataSource write does not support column-"
            "mapped tables (files carry frozen physical names); "
            f"use {instead}"
        )
    return head.constraints


class TableLogArrowWriter(DataSourceArrowWriter):
    """``df.write.format("tablelog")`` — the Catalyst-facing WRITE seam
    of the log format (Delta's path-based writer). Two-phase commit:

    - ``write`` (executor, Arrow batches): each task stages its
      partition as one parquet part under a per-write staging dir
      chosen at PLAN time; a task retry writes a fresh uuid file and
      only files named in SUCCESSFUL commit messages are published,
      so speculative duplicates stay invisible (append()'s orphan
      rule — vacuum sweeps them).
    - CHECK constraints are enforced IN the task against its own
      Arrow rows (DuckDB over the in-memory table — constraint
      expressions are ANSI SQL, the Delta-parity subset); a violating
      partition fails the task, Spark aborts the job, and ``abort``
      tears the staging dir down — nothing was ever visible.
    - ``commit`` (driver-side worker process, no SparkSession):
      publishes ONE log commit via tablelog.commit_staged_files,
      which runs the same staging-window TOCTOU guard and append
      rebase protocol as the library writers.

    Column-mapped tables are refused (files must carry frozen
    physical names; use tablelog.append which handles the rename) —
    checked at plan time so the job fails before any task runs."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        import uuid as _uuid

        self.table = options.get("path")
        if not self.table:
            raise ValueError("tablelog requires option 'path'")
        self.overwrite = overwrite
        self.schema_json = schema.json()
        # plan-time metadata snapshot: the commit's TOCTOU guard runs
        # against this version
        self.snap = latest_version(self.table)
        self.cons = _writer_constraints(
            self.table, self.snap, "trace_parquet_spark.sources.tablelog.append"
        )
        self.stage = f"data-{_uuid.uuid4().hex}"

    def write(self, iterator):
        return _stage_arrow_partition(
            self.table, self.stage, self.cons, iterator
        )

    def commit(self, messages):
        from .tablelog import commit_staged_files

        files = sorted(m.rel for m in messages if m is not None and m.rel)
        commit_staged_files(
            self.table, files, self.schema_json, self.snap, self.overwrite
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(
            os.path.join(self.table, self.stage), ignore_errors=True
        )


class TableLogStreamArrowWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("tablelog")`` — exactly-once streaming
    INTO the log format (Delta's idempotent-writes protocol, the
    DataSource twin of tablelog.append_stream_batch): every
    micro-batch commit carries an (app, batchId) transaction marker,
    and a batch whose marker is already in the log — a replay after a
    crash between sink commit and offset checkpoint — is skipped
    WITHOUT publishing (its staged files stay orphaned and invisible;
    vacuum sweeps them). ``app`` comes from the sink option (default
    "tablelog-sink"); two queries writing the same table must use
    distinct apps or share one checkpoint.

    Tasks stage Arrow batches exactly like the batch writer (shared
    _stage_arrow_partition, including executor-side CHECK
    enforcement). The engine re-instantiates this writer per
    micro-batch, so constraints and the TOCTOU snapshot re-resolve at
    each batch's PLAN time: a CHECK constraint added mid-query applies
    to every subsequent batch (satisfying rows land validated,
    violating rows fail the query — pinned in tests/test_round10.py),
    and a metadata commit landing inside one batch's stage→commit
    window still trips commit_staged_files' staging-window guard."""

    def __init__(self, options, schema: StructType):
        import uuid as _uuid

        self.table = options.get("path")
        if not self.table:
            raise ValueError("tablelog requires option 'path'")
        self.app = options.get("app", "tablelog-sink")
        self.schema_json = schema.json()
        self.snap = latest_version(self.table)
        self.cons = _writer_constraints(
            self.table,
            self.snap,
            "trace_parquet_spark.sources.tablelog.append_stream_batch",
        )
        self.stage = f"data-{_uuid.uuid4().hex}"  # shared across batches

    def write(self, iterator):
        return _stage_arrow_partition(
            self.table, self.stage, self.cons, iterator
        )

    def commit(self, messages, batchId: int):
        from .tablelog import commit_staged_files, txn_committed

        if txn_committed(self.table, self.app, batchId):
            return  # replayed batch: already in the log, land once
        files = sorted(m.rel for m in messages if m is not None and m.rel)
        commit_staged_files(
            self.table,
            files,
            self.schema_json,
            self.snap,
            txn=(self.app, batchId),
        )

    def abort(self, messages, batchId: int):
        # remove only THIS batch's staged parts — the staging dir is
        # shared across the query's batches
        for m in messages:
            if m is not None and m.rel:
                try:
                    os.remove(os.path.join(self.table, m.rel))
                except OSError:
                    pass


class TableLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tablelog"

    def schema(self):
        table = self.options.get("path")
        if not table:
            raise ValueError("tablelog requires option 'path'")
        as_of = self.options.get("as_of")
        return _layout(_snapshot(table, int(as_of) if as_of is not None else None))[0]

    def reader(self, schema: StructType) -> DataSourceReader:
        return TableLogBatchReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return TableLogArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return TableLogStreamArrowWriter(self.options, schema)

    def streamReader(self, schema: StructType):
        shape = _schema_shape(schema.json()) if schema is not None else None
        return TableLogPartitionedStreamReader(self.options, shape)


def register(spark) -> None:
    # the reader implements pushFilters(); Spark 4 refuses to plan a
    # pushFilters-bearing source unless the opt-in is set
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TableLogDataSource)


# --------------------------------------------------------------------------
# driver-gated query
# --------------------------------------------------------------------------


def tablelog_source_batch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the DataSource batch path under the oracle gate: the
    standard two-append orders-slice recipe, read back through
    ``spark.read.format("tablelog")`` (per-file InputPartitions
    planned from the log, pyarrow decode executor-side) and
    aggregated by key parity. The oracle recomputes from orders —
    agreement proves the connector surfaces exactly the committed
    snapshot through Catalyst, not just through the library reader."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import append

    register(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 8).isin(0, 5))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    t = tempfile.mkdtemp(prefix="tablelog_ds_")
    try:
        append(orders.filter(F.col("o_orderkey") % 3 == 0), t)
        append(orders.filter(F.col("o_orderkey") % 3 == 1), t)
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .groupBy((F.col("o_orderkey") % 2).alias("parity"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .orderBy("parity")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        rows, "parity long, n_rows long, total_cents long"
    ).orderBy("parity")


TABLELOG_SOURCE_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 8 IN (0, 5)
)
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM o WHERE o_orderkey % 3 IN (0, 1)
GROUP BY 1
ORDER BY parity
"""

QUERIES = {"tablelog_source_batch_read": tablelog_source_batch_read}
ORACLES = {"tablelog_source_batch_read": TABLELOG_SOURCE_SQL}


def tablelog_column_mapping_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column mapping exercised THROUGH the Catalyst-facing DataSource
    (not only the library reader): append an orders slice, RENAME the
    measure column and DROP a column (both metadata-only commits that
    freeze physical parquet names), append a second slice under the
    post-rename logical schema (stored under the FROZEN physical
    name), then read the table back via ``spark.read.format(
    "tablelog")`` and aggregate. The oracle recomputes from orders
    alone, so agreement proves the DataSource's physical-name lookup
    resolves both pre- and post-rename files correctly and the
    dropped column never resurfaces. Mechanism: tablelog.py
    rename_column/drop_column (Delta column-mapping semantics),
    arrowio.parquet_file_batches phys_names path."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import append, drop_column, rename_column

    register(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 8).isin(1, 4))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    t = tempfile.mkdtemp(prefix="tablelog_cm_")
    try:
        append(orders.filter(F.col("o_orderkey") % 2 == 1), t)
        rename_column(t, "cents", "cents_total")
        drop_column(t, "status")
        append(
            orders.filter(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey", F.col("cents").alias("cents_total")
            ),
            t,
        )
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .groupBy((F.col("o_orderkey") % 4).alias("residue"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents_total").cast("long").alias("total_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .orderBy("residue")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "residue long, n_rows long, total_cents long,"
        " min_key long, max_key long",
    ).orderBy("residue")


TABLELOG_CM_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents_total
  FROM orders WHERE o_orderkey % 8 IN (1, 4)
)
SELECT CAST(o_orderkey % 4 AS BIGINT) AS residue,
       count(*) AS n_rows,
       CAST(sum(cents_total) AS BIGINT) AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM o
GROUP BY 1
ORDER BY residue
"""

QUERIES["tablelog_column_mapping_totals"] = tablelog_column_mapping_totals
ORACLES["tablelog_column_mapping_totals"] = TABLELOG_CM_SQL


def federated_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source federation under the oracle gate: ONE relational query
    over three different connectors — the native parquet table, the
    custom gzjsonl Python DataSource, and the transaction-log format's
    DataSource — each holding a disjoint residue-class slice of
    documents, unioned with per-connector lineage and aggregated. The
    oracle recomputes everything from the parquet documents table
    alone, so agreement proves each connector surfaces its slice
    byte-exactly AND that Catalyst composes them in one plan (the
    "query anything through one engine" property the reference's
    single hardwired source lacks — SURVEY §2.1 S8).

    Slices: doc_id % 3 == 0 stays parquet, == 1 is written out as
    gzip JSONL and read back through gzjsonl, == 2 goes through a
    logged table. Payload is char count so the gzjsonl writer's
    bigint/int/string schema fits."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from . import pydatasource
    from .registry import load_table
    from .tablelog import append as tl_append

    pydatasource.register(spark)
    register(spark)
    # gzjsonl implements pushFilters(); Spark 4 requires the opt-in
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n")
    )
    work = tempfile.mkdtemp(prefix="fed_")
    try:
        gz_dir = f"{work}/gz"
        docs.filter(F.col("doc_id") % 3 == 1).select(
            F.col("doc_id").alias("trace_id"),
            (F.col("n") % 1000).cast("int").alias("param_index"),
            F.col("n").cast("string").alias("payload"),
        ).write.format("gzjsonl").option("path", gz_dir).mode(
            "append"
        ).save()
        tl_dir = f"{work}/tl"
        tl_append(docs.filter(F.col("doc_id") % 3 == 2), tl_dir)

        p_part = docs.filter(F.col("doc_id") % 3 == 0).select(
            F.lit("parquet").alias("connector"), "doc_id", "n"
        )
        p_gz = (
            spark.read.format("gzjsonl")
            .option("path", gz_dir)
            .load()
            .select(
                F.lit("gzjsonl").alias("connector"),
                F.col("trace_id").alias("doc_id"),
                F.col("payload").cast("long").alias("n"),
            )
        )
        p_tl = (
            spark.read.format("tablelog")
            .option("path", tl_dir)
            .load()
            .select(F.lit("tablelog").alias("connector"), "doc_id", "n")
        )
        out = (
            p_part.unionByName(p_gz)
            .unionByName(p_tl)
            .groupBy("connector")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n").cast("long").alias("total_chars"),
                F.min("doc_id").cast("long").alias("min_doc"),
                F.max("doc_id").cast("long").alias("max_doc"),
            )
            .orderBy("connector")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "connector string, n_docs long, total_chars long,"
        " min_doc long, max_doc long",
    ).orderBy("connector")


FEDERATED_SQL = """
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
         CASE doc_id % 3 WHEN 0 THEN 'parquet'
                         WHEN 1 THEN 'gzjsonl'
                         ELSE 'tablelog' END AS connector
  FROM documents
)
SELECT connector,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM d
GROUP BY connector
ORDER BY connector
"""

QUERIES["federated_source_union"] = federated_source_union
ORACLES["federated_source_union"] = FEDERATED_SQL

def tablelog_zonemap_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping exercised THROUGH the Catalyst-facing
    DataSource (round-9 verdict task #6): four range-disjoint appends
    record per-file [min, max] o_orderkey stats in the log
    (stats_col), then a selective range predicate is read back via
    ``spark.read.format("tablelog")`` — pushFilters tightens the box
    and partitions() plans ONLY the overlapping files (pruning pinned
    in tests/test_round10.py; Spark re-applies the predicate exactly,
    so stats coverage is never a correctness dependency). The oracle
    recomputes from orders alone, proving the pruned scan still
    surfaces exactly the predicate's rows. Mechanism:
    TableLogBatchReader.pushFilters/partitions zone maps from
    tablelog append(stats_col=...) footer stats."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import append

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    mx = orders.agg(F.max("o_orderkey").alias("mx")).collect()[0].mx
    t = tempfile.mkdtemp(prefix="tablelog_zm_")
    try:
        cuts = [-1, mx // 4, mx // 2, (3 * mx) // 4, mx]  # keys start at 0
        for lo, hi in zip(cuts, cuts[1:]):
            append(
                orders.filter(
                    (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
                ),
                t,
                stats_col="o_orderkey",
            )
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .filter(F.col("o_orderkey") <= mx // 8)  # inside file 1 only
            .groupBy((F.col("o_orderkey") % 3).alias("residue"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
                F.max("o_orderkey").cast("long").alias("max_key"),
            )
            .orderBy("residue")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "residue long, n_rows long, total_cents long,"
        " min_key long, max_key long",
    ).orderBy("residue")


TABLELOG_ZM_SQL = """
WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
SELECT CAST(o_orderkey % 3 AS BIGINT) AS residue,
       count(*) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders, mx
WHERE o_orderkey <= mx.m // 8
GROUP BY 1
ORDER BY residue
"""

QUERIES["tablelog_zonemap_pruned_read"] = tablelog_zonemap_pruned_read
ORACLES["tablelog_zonemap_pruned_read"] = TABLELOG_ZM_SQL

def tablelog_datasource_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DataSource WRITE seam under the oracle gate: two orders
    slices written with ``df.write.format("tablelog")`` (multi-task
    Arrow staging + one log commit each, TableLogArrowWriter), a CHECK
    constraint added between them (so the second write is validated
    executor-side through the seam), a violating third write REJECTED
    atomically (negative-path assertion), then the table read back via
    ``spark.read.format("tablelog")`` and aggregated. The oracle
    recomputes from orders using only the two accepted slices — any
    leak of the rejected batch or loss of a staged part shifts count
    and sum. Mechanism: TableLogArrowWriter two-phase commit,
    tablelog.commit_staged_files TOCTOU guard."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import add_check_constraint, latest_version

    register(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 8).isin(2, 7))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    work = tempfile.mkdtemp(prefix="tablelog_dsw_")
    t = f"{work}/t"
    try:
        orders.filter(F.col("o_orderkey") % 3 == 0).repartition(
            4
        ).write.format("tablelog").mode("append").option("path", t).save()
        add_check_constraint(spark, t, "cents_nonneg", "cents >= 0")
        orders.filter(F.col("o_orderkey") % 3 == 1).write.format(
            "tablelog"
        ).mode("append").option("path", t).save()
        lv = latest_version(t)
        try:
            orders.filter(F.col("o_orderkey") % 3 == 2).select(
                "o_orderkey", (-F.col("cents") - 1).alias("cents")
            ).write.format("tablelog").mode("append").option(
                "path", t
            ).save()
            raise AssertionError("violating DataSource write accepted")
        except AssertionError:
            raise
        except Exception:
            pass  # task-level constraint rejection aborted the job
        assert latest_version(t) == lv  # nothing committed
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .groupBy((F.col("o_orderkey") % 2).alias("parity"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
                F.min("o_orderkey").cast("long").alias("min_key"),
            )
            .orderBy("parity")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "parity long, n_rows long, total_cents long, min_key long"
    ).orderBy("parity")


TABLELOG_DSW_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 8 IN (2, 7)
)
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM o WHERE o_orderkey % 3 IN (0, 1)
GROUP BY 1
ORDER BY parity
"""

QUERIES["tablelog_datasource_write_roundtrip"] = (
    tablelog_datasource_write_roundtrip
)
ORACLES["tablelog_datasource_write_roundtrip"] = TABLELOG_DSW_SQL

def tablelog_stream_sink_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming WRITE seam under the oracle gate: an orders slice
    is streamed (file source, availableNow) INTO the log format via
    ``writeStream.format("tablelog")`` — exactly-once txn-marked
    commits through TableLogStreamArrowWriter — then a second
    availableNow run replays against the same checkpoint (must add
    nothing), and the final table is read back through
    ``spark.read.format("tablelog")`` and aggregated. The oracle
    recomputes from orders alone, so a double-landed batch, a lost
    staged part, or a replay leak shifts count and sum. Mechanism:
    TableLogStreamArrowWriter commit/txn, commit_staged_files."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import latest_version

    register(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 8).isin(3, 6))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    work = tempfile.mkdtemp(prefix="tablelog_ss_")
    src, t, ckpt = f"{work}/src", f"{work}/t", f"{work}/ckpt"
    try:
        orders.coalesce(2).write.parquet(src)

        def run():
            q = (
                spark.readStream.schema("o_orderkey long, cents long")
                .parquet(src)
                .writeStream.format("tablelog")
                .option("path", t)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        lv = latest_version(t)
        run()  # replay with nothing new: exactly-once, no commit
        assert latest_version(t) == lv, "replay added a commit"
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .groupBy((F.col("o_orderkey") % 2).alias("parity"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
            .orderBy("parity")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "parity long, n_rows long, total_cents long"
    ).orderBy("parity")


TABLELOG_SS_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 8 IN (3, 6)
)
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM o
GROUP BY 1
ORDER BY parity
"""

QUERIES["tablelog_stream_sink_totals"] = tablelog_stream_sink_totals
ORACLES["tablelog_stream_sink_totals"] = TABLELOG_SS_SQL


def tablelog_stream_merge_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MERGE (CDC upsert) seam under the oracle gate —
    the non-append half of the streaming write story
    (tablelog_stream_sink_totals gates append; re-running a MERGE is
    NOT naturally idempotent, which is exactly why the txn-marker
    machinery exists — tablelog.merge_stream_batch docstring).

    An updates stream (key = o_orderkey % 500, version = o_orderkey
    strictly increasing, value = exact cents) arrives as FOUR
    version-quartile files picked up one per micro-batch in
    mtime+path order, each foreachBatch landing as an exactly-once
    MERGE (order_col collapses multi-update batches to
    latest-version-per-key). Files ascend in version, so the final
    table is deterministically the GLOBAL max-version row per key —
    which is what the oracle recomputes from orders alone. A second
    availableNow run replays against the same checkpoint and must
    commit NOTHING (the non-idempotent-rerun hazard the txn markers
    close). Read back through spark.read.format("tablelog").

    Scale: per batch, merge_upsert rewrites only key-overlapping
    files (stats-pruned); state is the log, not executor memory.
    """
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import latest_version, merge_stream_batch

    register(spark)
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 8).isin(1, 4))
        .select(
            (F.col("o_orderkey") % 500).cast("long").alias("k"),
            F.col("o_orderkey").alias("version"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    work = tempfile.mkdtemp(prefix="tablelog_sm_")
    src, t, ckpt = f"{work}/src", f"{work}/t", f"{work}/ckpt"
    _os.makedirs(src)
    try:
        # Round-14 optimization (guide §1.1): the version-quartile
        # fixture files were written as 4 filtered scans +
        # coalesce(1) each (the pre-r14 split_time_ordered shape);
        # split_value_ordered emits all four in ONE partitioned pass
        # with identical boundary arithmetic (file k =
        # [cuts[k-1], cuts[k])). Row order within a file may differ,
        # which the consumer is insensitive to: each micro-batch is
        # collapsed to latest-version-per-key (order_col="version",
        # versions distinct) before the MERGE.
        from ..streaming.windowed_oracle import (
            scaled_stream_conf,
            split_value_ordered,
        )

        n_rows = split_value_ordered(updates, src, F.col("version"))
        if not n_rows:
            return spark.createDataFrame(
                [], "k long, version long, cents long"
            )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            merge_stream_batch(
                spark, batch_df, t, "k", "tsm", batch_id, order_col="version"
            )

        def run():
            q = (
                spark.readStream.schema("k long, version long, cents long")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(180):
                q.stop()
                raise RuntimeError(
                    "tablelog_stream_merge_totals: availableNow run "
                    "did not terminate within 180s"
                )

        with scaled_stream_conf(spark, n_rows):
            run()
            lv = latest_version(t)
            run()  # replay: every batch's (app, batch_id) marker short-circuits
        if latest_version(t) != lv:
            raise RuntimeError(
                "tablelog_stream_merge_totals: replayed availableNow run "
                f"added a commit (v{lv} -> v{latest_version(t)}); the MERGE "
                "txn markers failed exactly-once"
            )
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .select("k", "version", "cents")
            .orderBy("k")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows, "k long, version long, cents long"
    ).orderBy("k")


TABLELOG_SM_SQL = """
WITH u AS (
  SELECT CAST(o_orderkey % 500 AS BIGINT) AS k,
         o_orderkey AS version,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 8 IN (1, 4)
),
win AS (SELECT k, max(version) AS version FROM u GROUP BY k)
SELECT u.k, u.version, u.cents
FROM u JOIN win ON u.k = win.k AND u.version = win.version
ORDER BY u.k
"""

QUERIES["tablelog_stream_merge_totals"] = tablelog_stream_merge_totals
ORACLES["tablelog_stream_merge_totals"] = TABLELOG_SM_SQL

def tablelog_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point-lookup pruning THROUGH Catalyst: orders
    slices appended with per-file bloom filters on o_orderkey
    (append_with_bloom), then a plain ``WHERE o_orderkey IN (...)``
    through ``spark.read.format("tablelog")`` — pushFilters collects
    the exact probe set and partitions() consults the committed blooms
    (the selective-IN case a [min, max] zone-map box barely prunes;
    membership pruning pinned in tests/test_round10.py). The oracle
    recomputes from orders, proving bloom false-negatives are
    impossible (a contained key always survives) and false positives
    never surface (Spark re-applies the exact IN). Mechanism:
    TableLogBatchReader.pushFilters probes + tablelog._bloom_*."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .registry import load_table
    from .tablelog import append_with_bloom

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    mx = orders.agg(F.max("o_orderkey").alias("mx")).collect()[0].mx
    keys = [mx // 7, mx // 3, (2 * mx) // 3]
    t = tempfile.mkdtemp(prefix="tablelog_bl_")
    try:
        # interleaved residues: zone-map boxes overlap on every file,
        # only the blooms can discriminate the probes
        for r in range(4):
            append_with_bloom(
                orders.filter(F.col("o_orderkey") % 4 == r),
                t,
                bloom_col="o_orderkey",
            )
        out = (
            spark.read.format("tablelog")
            .option("path", t)
            .load()
            .filter(F.col("o_orderkey").isin(keys))
            .select("o_orderkey", "cents")
            .orderBy("o_orderkey")
        )
        rows = out.collect()
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderkey long, cents long"
    ).orderBy("o_orderkey")


TABLELOG_BLOOM_SQL = """
WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
FROM orders, m
WHERE o_orderkey IN (m.mx // 7, m.mx // 3, 2 * m.mx // 3)
ORDER BY o_orderkey
"""

QUERIES["tablelog_bloom_pruned_read"] = tablelog_bloom_pruned_read
ORACLES["tablelog_bloom_pruned_read"] = TABLELOG_BLOOM_SQL
