"""Round-10 hardening pins: write-path TOCTOU guards (metadata commits
landing between staging and commit), schema-change rebase blockers,
max_files_per_trigger commit-splitting, per-partition deletion-vector
shipping, idle empty-log streams, stable admission-control bases, and
the loud mid-stream schema-change failure (Delta contract)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import trace_parquet_spark.sources.tablelog as tl
from trace_parquet_spark.sources.tablelog import (
    ConcurrentWriteError,
    append,
    latest_version,
    read_table,
)
from trace_parquet_spark.sources.tablelog_source import (
    TableLogBatchReader,
    TableLogPartitionedStreamReader,
    TableLogStreamReader,
)


# ------------------------------------------------- write-path TOCTOU


def test_append_toctou_constraint_guard(spark, tmp_path, monkeypatch):
    """A CHECK constraint committed BETWEEN an append's staging (where
    constraints are resolved and enforced) and its first commit must
    surface ConcurrentWriteError — the old code committed at the new
    head without a version race, admitting rows never validated
    against the new constraint."""
    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    orig = tl._stage_files
    state = {"armed": True}

    def constraint_lands_mid_stage(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.add_check_constraint(spark, table, "v_pos", "v > 0")
        return files

    monkeypatch.setattr(tl, "_stage_files", constraint_lands_mid_stage)
    with pytest.raises(ConcurrentWriteError, match="constraints@"):
        tl.append(
            spark.range(3, 5).select("id", F.lit(-1).alias("v")), t
        )
    # the violating rows were NOT admitted; the constraint commit is
    # the table head
    assert read_table(spark, t).count() == 3
    assert tl._snapshot(t).constraints == {"v_pos": "v > 0"}


def test_append_toctou_schema_change_guard(spark, tmp_path, monkeypatch):
    """An interleaved append that EVOLVED the schema (between this
    append's snapshot and its commit) must block: re-committing our
    own schema would silently revert the evolution (last-schema-wins
    in _snapshot)."""
    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    orig = tl._stage_files
    state = {"armed": True}

    def evolving_append_mid_stage(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(
                spark.range(9, 10).select(
                    "id",
                    (F.col("id") + 1).alias("v"),
                    F.lit("x").alias("extra"),
                ),
                table,
            )
        return files

    monkeypatch.setattr(tl, "_stage_files", evolving_append_mid_stage)
    with pytest.raises(ConcurrentWriteError, match="schema_change@"):
        tl.append(
            spark.range(3, 5).select("id", (F.col("id") + 1).alias("v")), t
        )
    # the evolved schema survived (was not reverted)
    assert "extra" in read_table(spark, t).columns


def test_append_rebase_blocked_by_schema_change(
    spark, tmp_path, monkeypatch
):
    """The REBASE path (lost version race) must also refuse to rebase
    over an interleaved different-schema commit."""
    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    append(
        spark.range(5, 6).select(
            "id", (F.col("id") + 1).alias("v"), F.lit(1).alias("extra")
        ),
        t,
    )  # v1 evolves the schema
    real_lv = tl.latest_version
    state = {"n": 0}

    def stale_second(table):
        v = real_lv(table)
        state["n"] += 1
        if state["n"] == 2:
            return v - 1  # race: v1 lands between read and commit
        return v

    monkeypatch.setattr(tl, "latest_version", stale_second)
    with pytest.raises(ConcurrentWriteError, match="schema_change@1"):
        tl.append(
            spark.range(3, 5).select("id", (F.col("id") + 1).alias("v")), t
        )


def test_append_same_schema_rebase_still_commutes(
    spark, tmp_path, monkeypatch
):
    """Blind appends with IDENTICAL schemas must keep commuting — the
    schema-change blocker must not break the happy rebase path."""
    t = str(tmp_path / "t")
    append(spark.range(3), t)
    orig = tl._stage_files
    state = {"armed": True}

    def same_schema_append_mid_stage(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(spark.range(10, 12), table)
        return files

    monkeypatch.setattr(tl, "_stage_files", same_schema_append_mid_stage)
    v = tl.append(spark.range(3, 5), t)
    assert v == 2
    assert sorted(r.id for r in read_table(spark, t).collect()) == [
        0, 1, 2, 3, 4, 10, 11,
    ]


def test_merge_rejects_unranged_interleaved_append(
    spark, tmp_path, monkeypatch
):
    """An interleaved append with NO committed key stats could carry
    keys the merge should have updated — the conflict matrix cannot
    prove it disjoint, so the merge must fail, not commit. (Provably
    disjoint appends commute — pinned in test_round11.py.)"""
    from trace_parquet_spark.sources.tablelog import merge_upsert

    t = str(tmp_path / "t")
    append(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        t,
        stats_col="k",
    )
    orig = tl._stage_files
    state = {"armed": True}

    def append_lands_mid_merge(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(
                spark.range(2, 3).select(
                    F.col("id").alias("k"), F.lit(99).alias("v")
                ),
                table,
            )
        return files

    monkeypatch.setattr(tl, "_stage_files", append_lands_mid_merge)
    with pytest.raises(ConcurrentWriteError, match="merge_upsert"):
        merge_upsert(
            spark,
            t,
            spark.range(2, 4).select(
                F.col("id").alias("k"), F.lit(7).alias("v")
            ),
            "k",
        )


# ------------------------------------------- DataSource low-level fixes


def test_batch_partition_carries_own_dv_only(spark, tmp_path):
    """Each planned partition ships ONLY its own file's deletion-vector
    positions (task serialization O(own deletes), not O(table-wide)),
    and the reader object itself holds no table-wide mask."""
    from trace_parquet_spark.sources import tablelog_source
    from trace_parquet_spark.sources.tablelog import delete_where

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    append(spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1), t)
    append(spark.range(10, 20).select(F.col("id").alias("k")).coalesce(1), t)
    delete_where(spark, t, "k IN (1, 12, 13)")
    r = TableLogBatchReader({"path": t})
    assert not hasattr(r, "_dead")
    parts = r.partitions()
    assert len(parts) == 2
    sizes = sorted(len(p.dead or []) for p in parts)
    assert sizes == [1, 2]  # one dead row in file A, two in file B
    got = sorted(
        r.k
        for r in spark.read.format("tablelog").option("path", t).load().collect()
    )
    assert got == [k for k in range(20) if k not in (1, 12, 13)]


def test_stream_read_idles_on_empty_log(spark, tmp_path):
    """A stream read against a table with NO visible commits returns
    an idle empty batch instead of crashing the trigger on schema
    resolution."""
    t = str(tmp_path / "empty")
    os.makedirs(t)
    r = TableLogStreamReader({"path": t})
    rows, off = r.read({"version": -1})
    assert list(rows) == [] and off == {"version": -1}
    assert list(r.readBetweenOffsets({"version": -1}, {"version": -1})) == []


def test_latest_offset_stable_across_repeated_calls(spark, tmp_path):
    """latestOffset must NOT advance the admission-control base by
    merely being called (Trigger.AvailableNow plans call it more than
    once per batch); the base moves only when partitions() plans a
    batch."""
    t = str(tmp_path / "t")
    for lo in range(0, 50, 10):
        append(spark.range(lo, lo + 10).coalesce(1), t)  # v0..v4
    r = TableLogPartitionedStreamReader(
        {"path": t, "max_commits_per_trigger": "2"}
    )
    assert r.initialOffset() == {"version": -1}
    first = r.latestOffset()
    assert first == {"version": 1}  # capped at 2 commits
    # repeated planning calls: same answer, no silent advancement
    assert r.latestOffset() == first
    assert r.latestOffset() == first
    parts = r.partitions({"version": -1}, first)
    assert len(parts) == 2
    second = r.latestOffset()
    assert second == {"version": 3}
    r.partitions(first, second)
    assert r.latestOffset() == {"version": 4}


def test_max_files_per_trigger_splits_giant_commit(spark, tmp_path):
    """ONE commit carrying many files (a post-OPTIMIZE backfill) must
    split across micro-batches under max_files_per_trigger, every
    batch bounded, every file delivered exactly once — including
    across a simulated restart replay of a partial-commit range."""
    t = str(tmp_path / "t")
    append(spark.range(0, 60).repartition(6), t)  # v0: 6 files
    append(spark.range(60, 70).coalesce(1), t)  # v1: 1 file
    r = TableLogPartitionedStreamReader(
        {"path": t, "max_files_per_trigger": "4"}
    )
    r.initialOffset()
    offsets = [{"version": -1}]
    batches = []
    while True:
        end = r.latestOffset()
        if end == offsets[-1]:
            break
        parts = r.partitions(offsets[-1], end)
        rels = [p.rel for p in parts if p.rel is not None]
        assert len(rels) <= 4
        batches.append(rels)
        offsets.append(end)
    assert len(batches) == 2  # 7 files / 4 per trigger
    assert offsets[1] == {"version": 0, "index": 3}  # mid-commit stop
    assert offsets[2] == {"version": 1}
    delivered = [rel for b in batches for rel in b]
    assert len(delivered) == 7 and len(set(delivered)) == 7
    # restart replay of the partial first range is deterministic
    r2 = TableLogPartitionedStreamReader(
        {"path": t, "max_files_per_trigger": "4"}
    )
    replay = [p.rel for p in r2.partitions(offsets[0], offsets[1])]
    assert replay == batches[0]
    replay2 = [p.rel for p in r2.partitions(offsets[1], offsets[2])]
    assert replay2 == batches[1]


def test_max_files_per_trigger_end_to_end_exactly_once(spark, tmp_path):
    """Through the real engine: availableNow drains a multi-file
    commit in several bounded micro-batches and the sink totals are
    exactly-once."""
    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    append(spark.range(0, 50).select(F.col("id").alias("k")).repartition(5), t)

    def run():
        q = (
            spark.readStream.format("tablelog")
            .option("path", t)
            .option("max_files_per_trigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(50))
    append(spark.range(50, 55).select(F.col("id").alias("k")).coalesce(1), t)
    run()  # restart: only the new commit, no re-delivery
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(55))


# --------------------------------------- mid-stream schema change


def test_rename_in_flight_fails_loudly_then_restart_adopts(
    spark, tmp_path
):
    """A rename landing between two micro-batches must fail the stream
    with the explicit schema-change message (not a worker-side Arrow
    mismatch); a RESTART adopts the new logical names and keeps
    physical-name lookup for pre-rename files (Delta schema-change
    contract)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from trace_parquet_spark.sources import tablelog_source
    from trace_parquet_spark.sources.tablelog import rename_column

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def sink(df, bid):
        seen.extend((bid, c) for c in df.columns)
        seen.extend(tuple(r) for r in df.collect())

    append(spark.range(3).select("id", (F.col("id") * 10).alias("v")), t)
    q = (
        spark.readStream.format("tablelog")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    assert (0, 0) in seen and (2, 20) in seen
    rename_column(t, "v", "w")
    append(spark.range(3, 5).select("id", (F.col("id") * 10).alias("w")), t)
    with pytest.raises(
        StreamingQueryException, match="schema changed mid-stream"
    ):
        q.processAllAvailable()
        q.awaitTermination(60)
    # restart with the SAME checkpoint: new schema adopted, only the
    # undelivered commits replayed (pre-rename batches not re-sent)
    seen2: list[tuple] = []

    def sink2(df, bid):
        seen2.append(tuple(df.columns))
        seen2.extend(tuple(r) for r in df.collect())

    q2 = (
        spark.readStream.format("tablelog")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    assert ("id", "w") in seen2
    assert (3, 30) in seen2 and (4, 40) in seen2
    assert (0, 0) not in seen2  # committed batches are not replayed


# ----------------------------------------- zone-map pushdown pruning


def test_zonemap_pushdown_prunes_planned_partitions(spark, tmp_path):
    """Write-time stats (append stats_col=...) + a selective range
    predicate through pushFilters must plan FEWER partitions than
    live files — the registry entry tablelog_zonemap_pruned_read
    proves the answer; this pins the skip itself."""
    from pyspark.sql.datasource import LessThanOrEqual

    t = str(tmp_path / "t")
    for lo in (0, 100, 200, 300):  # disjoint ranges, stats declared
        append(
            spark.range(lo, lo + 100)
            .select(F.col("id").alias("k"))
            .coalesce(1),
            t,
            stats_col="k",
        )
    r = TableLogBatchReader({"path": t})
    assert len(r.partitions()) == 4  # no predicate: all files planned
    r2 = TableLogBatchReader({"path": t})
    list(r2.pushFilters([LessThanOrEqual(("k",), 150)]))
    assert len(r2.partitions()) == 2  # files [0,100) and [100,200)
    # end-to-end: the pruned scan still answers exactly
    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    got = (
        spark.read.format("tablelog")
        .option("path", t)
        .load()
        .filter(F.col("k") <= 150)
        .count()
    )
    assert got == 151


# ------------------------------------------ DataSource write seam


def test_datasource_write_append_overwrite_roundtrip(spark, tmp_path):
    """df.write.format('tablelog'): multi-task Arrow staging + one log
    commit per save; append accumulates, overwrite replaces
    atomically; the library reader and the DataSource reader agree."""
    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    spark.range(10).select("id", (F.col("id") * 2).alias("v")).repartition(
        3
    ).write.format("tablelog").mode("append").option("path", t).save()
    assert latest_version(t) == 0
    spark.range(10, 15).select("id", (F.col("id") * 2).alias("v")).write.format(
        "tablelog"
    ).mode("append").option("path", t).save()
    got = sorted(r.id for r in read_table(spark, t).collect())
    assert got == list(range(15))
    assert got == sorted(
        r.id
        for r in spark.read.format("tablelog").option("path", t).load().collect()
    )
    spark.range(3).select("id", (F.col("id") * 2).alias("v")).write.format(
        "tablelog"
    ).mode("overwrite").option("path", t).save()
    assert sorted(r.id for r in read_table(spark, t).collect()) == [0, 1, 2]
    # time travel across DataSource-written versions still works
    assert read_table(spark, t, as_of=1).count() == 15


def test_datasource_write_enforces_check_constraints(spark, tmp_path):
    """A violating partition fails its TASK (executor-side validation
    against the writer's own Arrow rows), the job aborts, the staging
    dir is torn down, and NOTHING is committed."""
    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    spark.range(5).select("id", (F.col("id") + 1).alias("v")).write.format(
        "tablelog"
    ).mode("append").option("path", t).save()
    tl.add_check_constraint(spark, t, "v_pos", "v > 0")
    lv = latest_version(t)
    with pytest.raises(Exception, match="violate constraint"):
        spark.range(5, 8).select("id", F.lit(-1).alias("v")).write.format(
            "tablelog"
        ).mode("append").option("path", t).save()
    assert latest_version(t) == lv
    assert read_table(spark, t).count() == 5
    # the aborted write's staging dir is gone (no orphan buildup)
    stages = [
        d
        for d in os.listdir(t)
        if d.startswith("data-") and not os.listdir(os.path.join(t, d))
    ]
    assert stages == []


def test_datasource_write_refuses_column_mapped_tables(spark, tmp_path):
    from trace_parquet_spark.sources import tablelog_source
    from trace_parquet_spark.sources.tablelog import rename_column

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    rename_column(t, "v", "w")
    with pytest.raises(Exception, match="column-.?mapped"):
        spark.range(3, 5).select("id", (F.col("id") + 1).alias("w")).write.format(
            "tablelog"
        ).mode("append").option("path", t).save()


# ------------------------------------------ streaming sink (writeStream)


def test_stream_sink_exactly_once_replay(spark, tmp_path):
    """A micro-batch replayed after a crash between sink commit and
    offset checkpoint must land exactly once: commit() with an
    already-logged (app, batchId) marker publishes nothing."""
    from trace_parquet_spark.sources.tablelog_source import (
        TableLogStreamArrowWriter,
        _stage_arrow_partition,
    )

    t = str(tmp_path / "t")
    append(spark.range(3).select(F.col("id").alias("k")), t)
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType())])
    w = TableLogStreamArrowWriter({"path": t, "app": "app1"}, schema)
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict({"k": [100, 101]})
    msg = _stage_arrow_partition(t, w.stage, {}, iter([batch]))
    w.commit([msg], 7)
    assert latest_version(t) == 1
    assert sorted(r.k for r in read_table(spark, t).collect()) == [
        0, 1, 2, 100, 101,
    ]
    # crash-replay of batch 7: staged again, but the marker wins
    msg2 = _stage_arrow_partition(t, w.stage, {}, iter([batch]))
    w.commit([msg2], 7)
    assert latest_version(t) == 1  # no second commit
    assert read_table(spark, t).count() == 5


def test_stream_sink_end_to_end_restart(spark, tmp_path):
    """writeStream.format('tablelog') through the real engine: two
    availableNow runs against one checkpoint deliver each source file
    exactly once; the result is a normal logged table (time travel
    works)."""
    import os as _os

    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src)

    def drop(i, lo, hi):
        tmp = f"{src}/d{i}"
        spark.range(lo, hi).select(F.col("id").alias("k")).coalesce(
            1
        ).write.parquet(tmp)
        part = next(
            f for f in _os.listdir(tmp) if f.endswith(".parquet")
        )
        _os.rename(f"{tmp}/{part}", f"{src}/drop{i}.parquet")

    def run():
        q = (
            spark.readStream.schema("k long")
            .parquet(src)
            .writeStream.format("tablelog")
            .option("path", t)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop(0, 0, 10)
    run()
    assert sorted(r.k for r in read_table(spark, t).collect()) == list(
        range(10)
    )
    drop(1, 10, 15)
    run()  # restart: only the new file
    assert sorted(r.k for r in read_table(spark, t).collect()) == list(
        range(15)
    )
    assert read_table(spark, t, as_of=0).count() == 10  # time travel


def test_stream_sink_enforces_constraints_mid_query(spark, tmp_path):
    """A table-side CHECK constraint is enforced executor-side on every
    streamed batch; a violating batch fails the query and publishes
    nothing."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    append(spark.range(3).select(F.col("id").alias("k")), t)
    tl.add_check_constraint(spark, t, "k_small", "k < 1000")
    spark.range(2000, 2005).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(src)
    q = (
        spark.readStream.schema("k long")
        .parquet(src)
        .writeStream.format("tablelog")
        .option("path", t)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="violate constraint"):
        q.awaitTermination(120)
    assert read_table(spark, t).count() == 3  # nothing published


def test_bloom_pushdown_prunes_planned_partitions(spark, tmp_path):
    """Interleaved key residues make every file's [min, max] box
    overlap every probe — only the committed blooms can prune. An
    EqualTo/In probe through pushFilters must plan ONLY files whose
    bloom might contain a probe, and the answer stays exact."""
    from pyspark.sql.datasource import EqualTo, In

    from trace_parquet_spark.sources import tablelog_source
    from trace_parquet_spark.sources.tablelog import append_with_bloom

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    for r in (0, 1):  # file A: even keys, file B: odd keys
        append_with_bloom(
            spark.range(r, 200, 2)
            .select(F.col("id").alias("k"))
            .coalesce(1),
            t,
            bloom_col="k",
        )
    r0 = TableLogBatchReader({"path": t})
    assert len(r0.partitions()) == 2
    # zone maps alone cannot prune (both boxes span [0..199]);
    # the bloom keeps only the even-keys file for an even probe
    r1 = TableLogBatchReader({"path": t})
    list(r1.pushFilters([EqualTo(("k",), 42)]))
    assert len(r1.partitions()) == 1
    r2 = TableLogBatchReader({"path": t})
    list(r2.pushFilters([In(("k",), (42, 44))]))
    assert len(r2.partitions()) == 1
    got = (
        spark.read.format("tablelog")
        .option("path", t)
        .load()
        .filter(F.col("k").isin(42, 43))
        .collect()
    )
    assert sorted(r.k for r in got) == [42, 43]


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """The degree-oriented distributed enumeration must find EXACTLY
    the triangle set of the thresholded co-purchase graph — pinned
    against a pure-Python adjacency-set replay (count and corner-id
    checksum)."""
    from collections import Counter, defaultdict

    import duckdb

    from trace_parquet_spark.plans.graph_rank import (
        TRI_MIN_W,
        triangle_count_parts,
    )

    row = triangle_count_parts(spark, sf_dir).collect()[0]
    con = duckdb.connect()
    li = con.execute(
        "SELECT DISTINCT l_orderkey, l_partkey FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    by_order = defaultdict(list)
    for o, p in li:
        by_order[o].append(p)
    wc = Counter()
    for parts in by_order.values():
        parts.sort()
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                wc[(parts[i], parts[j])] += 1
    edges = {e for e, w in wc.items() if w >= TRI_MIN_W}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    n_tri = key_sum = 0
    for u, v in edges:
        for w in adj[u] & adj[v]:
            if w > v:  # u < v < w counts each triangle once
                n_tri += 1
                key_sum += u + v + w
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == n_tri, (row.n_triangles, n_tri)
    assert row.tri_key_sum == key_sum


# --------------------------------------------- true-contention races


def test_concurrent_appends_all_land_once(spark, tmp_path):
    """SIX threads blind-append concurrently (real _commit races, not
    monkeypatched staleness): every append must land exactly once via
    the rebase protocol — same-schema appends commute."""
    import threading

    t = str(tmp_path / "t")
    append(spark.range(0, 10).select(F.col("id").alias("k")), t)  # v0
    errs: list = []

    def worker(i):
        try:
            tl.append(
                spark.range(100 * i, 100 * i + 10).select(
                    F.col("id").alias("k")
                ),
                t,
            )
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    ths = [
        threading.Thread(target=worker, args=(i,)) for i in range(1, 7)
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert errs == []
    assert latest_version(t) == 6  # one commit per append, no gaps
    got = sorted(r.k for r in read_table(spark, t).collect())
    want = sorted(
        list(range(10))
        + [100 * i + j for i in range(1, 7) for j in range(10)]
    )
    assert got == want


def test_stream_sink_constraint_added_mid_query_enforced(spark, tmp_path):
    """A CHECK constraint committed BETWEEN micro-batches of a running
    writeStream.format('tablelog') query applies to every subsequent
    batch: the engine re-instantiates the writer per micro-batch, so
    constraints re-resolve at batch plan time — satisfying rows land
    (validated), violating rows fail the query with nothing admitted."""
    import os as _os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    _os.makedirs(src)

    def drop(i, lo, hi):
        tmp = f"{src}/d{i}"
        spark.range(lo, hi).select(F.col("id").alias("k")).coalesce(
            1
        ).write.parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        _os.rename(f"{tmp}/{part}", f"{src}/drop{i}.parquet")

    drop(0, 0, 5)
    q = (
        spark.readStream.schema("k long")
        .parquet(src)
        .writeStream.format("tablelog")
        .option("path", t)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    assert read_table(spark, t).count() == 5
    tl.add_check_constraint(spark, t, "k_small", "k < 1000")
    # a satisfying batch lands, validated against the NEW constraint
    drop(1, 5, 9)
    q.processAllAvailable()
    assert sorted(r.k for r in read_table(spark, t).collect()) == list(
        range(9)
    )
    # a violating batch fails the query; nothing admitted
    drop(2, 2000, 2005)
    with pytest.raises(StreamingQueryException, match="violate constraint"):
        q.processAllAvailable()
        q.awaitTermination(60)
    assert read_table(spark, t).count() == 9


def test_offset_split_arithmetic_property():
    """Property pin for the (version, index) admission-control
    arithmetic: over random commit layouts and random
    max_files/max_commits caps, driving latestOffset/partitions to
    quiescence must deliver EVERY file exactly once, in commit order,
    with every batch within the file cap — and replaying any recorded
    (start, end] range on a fresh reader is byte-identical."""
    import json as _json

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import LongType, StructField, StructType

    from trace_parquet_spark.sources import tablelog_source as mod
    from trace_parquet_spark.sources.tablelog import _Snapshot

    snap = _Snapshot(schema=StructType([StructField("k", LongType())]).json())

    @settings(max_examples=80, deadline=None)
    @given(
        layout=st.lists(st.integers(0, 5), min_size=1, max_size=8),
        mf=st.integers(1, 5),
        mc=st.one_of(st.none(), st.integers(1, 4)),
    )
    def run(layout, mf, mc):
        log = {
            v: {"add": [f"f{v}_{i}" for i in range(n)]}
            for v, n in enumerate(layout)
        }
        saved = (
            mod._versions,
            mod._commit_actions,
            mod.latest_version,
            mod._snapshot,
        )
        try:
            mod._versions = lambda t: sorted(log)
            mod._commit_actions = lambda t, v: log[v]
            mod.latest_version = lambda t: max(log)
            mod._snapshot = lambda t, a=None: snap
            opts = {"path": "/synthetic", "max_files_per_trigger": str(mf)}
            if mc is not None:
                opts["max_commits_per_trigger"] = str(mc)
            r = mod.TableLogPartitionedStreamReader(opts)
            r.initialOffset()
            offsets = [{"version": -1}]
            batches = []
            for _ in range(200):  # quiescence bound
                end = r.latestOffset()
                if end == offsets[-1]:
                    break
                parts = r.partitions(offsets[-1], end)
                rels = [p.rel for p in parts if p.rel is not None]
                assert len(rels) <= mf, (layout, mf, mc, end, rels)
                batches.append(rels)
                offsets.append(end)
            else:
                raise AssertionError("no quiescence")
            delivered = [rel for b in batches for rel in b]
            want = [rel for v in sorted(log) for rel in log[v]["add"]]
            assert delivered == want, (layout, mf, mc, batches)
            # deterministic replay of every planned range
            r2 = mod.TableLogPartitionedStreamReader(opts)
            for s, e, b in zip(offsets, offsets[1:], batches):
                replay = [
                    p.rel for p in r2.partitions(s, e) if p.rel is not None
                ]
                assert replay == b, (layout, mf, mc, s, e)
        finally:
            (
                mod._versions,
                mod._commit_actions,
                mod.latest_version,
                mod._snapshot,
            ) = saved

    run()
