"""Round-11 hardening pins: Delta-parity logical conflict detection
for MERGE and OPTIMIZE/ZORDER (Armbrust et al., VLDB 2020 §5 conflict
matrix — provably-disjoint appends commute with rewrites, anything
that touched the rewrite's read set conflicts), proven both with
mid-stage interleaves and under true 6-thread commit races."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

import trace_parquet_spark.sources.tablelog as tl
from trace_parquet_spark.sources.tablelog import (
    ConcurrentWriteError,
    append,
    latest_version,
    merge_upsert,
    read_table,
)


def _kv(spark, lo, hi, v):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    )


# ------------------------- MERGE × APPEND conflict matrix (mid-stage)


def test_merge_commutes_with_disjoint_ranged_append(
    spark, tmp_path, monkeypatch
):
    """A blind append whose committed [min, max] on the merge key is
    provably DISJOINT from the update-key range commutes: the merge
    rebases onto the new head and lands (Delta §5: appends only
    conflict with a rewrite that should have read them)."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 5, 1), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def disjoint_append_mid_merge(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(_kv(spark, 100, 105, 9), table, stats_col="k")
        return files

    monkeypatch.setattr(tl, "_stage_files", disjoint_append_mid_merge)
    out = merge_upsert(spark, t, _kv(spark, 2, 4, 7), "k")
    assert out["version"] == 2  # rebased over the interleaved append
    rows = {r.k: r.v for r in read_table(spark, t).collect()}
    assert rows == {
        **{k: 1 for k in (0, 1, 4)},
        2: 7,
        3: 7,
        **{k: 9 for k in range(100, 105)},
    }


def test_merge_blocks_on_overlapping_ranged_append(
    spark, tmp_path, monkeypatch
):
    """An interleaved append whose committed key range OVERLAPS the
    updates must block even though it carries stats: the appended key
    should have been UPDATED by this merge, not duplicated."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 5, 1), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def overlapping_append_mid_merge(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(_kv(spark, 3, 6, 9), table, stats_col="k")
        return files

    monkeypatch.setattr(tl, "_stage_files", overlapping_append_mid_merge)
    with pytest.raises(
        ConcurrentWriteError, match="added_overlapping_file@"
    ):
        merge_upsert(spark, t, _kv(spark, 2, 4, 7), "k")
    # the merge committed NOTHING: the append's commit is the head and
    # no row carries the merge's value
    assert latest_version(t) == 1
    assert read_table(spark, t).filter(F.col("v") == 7).count() == 0


def test_merge_blocks_on_delete_of_read_file(spark, tmp_path, monkeypatch):
    """delete_where landing mid-merge publishes a deletion vector on a
    file the merge READ (and folded dv-state for) — committing would
    resurrect the deleted rows, so the merge must fail."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 5, 1).coalesce(1), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def delete_lands_mid_merge(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.delete_where(spark, table, F.col("k") == 0)
        return files

    monkeypatch.setattr(tl, "_stage_files", delete_lands_mid_merge)
    with pytest.raises(ConcurrentWriteError, match="dv_on_read_file@"):
        merge_upsert(spark, t, _kv(spark, 2, 4, 7), "k")
    # the delete survived; k=0 stays gone
    assert sorted(r.k for r in read_table(spark, t).collect()) == [
        1, 2, 3, 4,
    ]


# ---------------- OPTIMIZE / ZORDER conflict matrix (ADVICE r10 №1)


def test_optimize_blocks_on_interleaved_delete(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE compacts the snapshot it read; a delete_where landing
    mid-rewrite dv's a read file — committing the compacted files
    (built pre-delete) would silently resurrect the deleted rows."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).repartition(4), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def delete_lands_mid_optimize(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.delete_where(spark, table, F.col("k") < 3)
        return files

    monkeypatch.setattr(tl, "_stage_files", delete_lands_mid_optimize)
    with pytest.raises(ConcurrentWriteError, match="dv_on_read_file@"):
        tl.optimize_table(spark, t, target_files=1)
    assert sorted(r.k for r in read_table(spark, t).collect()) == list(
        range(3, 10)
    )


def test_optimize_blocks_on_interleaved_rewrite(
    spark, tmp_path, monkeypatch
):
    """Two rewrites racing: a MERGE that removes/rewrites files while
    an OPTIMIZE is staging must block the OPTIMIZE (its compacted
    output was built from the pre-merge snapshot — committing would
    both resurrect old rows and duplicate the merge's output)."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).repartition(2), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def merge_lands_mid_optimize(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            merge_upsert(spark, table, _kv(spark, 0, 2, 99), "k")
        return files

    monkeypatch.setattr(tl, "_stage_files", merge_lands_mid_optimize)
    with pytest.raises(ConcurrentWriteError, match="removed_read_file@"):
        tl.optimize_table(spark, t, target_files=1)
    rows = {r.k: r.v for r in read_table(spark, t).collect()}
    assert rows == {0: 99, 1: 99, **{k: 1 for k in range(2, 10)}}


def test_optimize_commutes_with_interleaved_append(
    spark, tmp_path, monkeypatch
):
    """A blind append mid-OPTIMIZE commutes: its files simply stay
    live (uncompacted) and the rewrite rebases onto the new head."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).repartition(4), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def append_lands_mid_optimize(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.append(_kv(spark, 100, 103, 9), table, stats_col="k")
        return files

    monkeypatch.setattr(tl, "_stage_files", append_lands_mid_optimize)
    out = tl.optimize_table(spark, t, target_files=1)
    assert out["version"] == 2  # rebased over the append
    got = sorted(r.k for r in read_table(spark, t).collect())
    assert got == list(range(10)) + [100, 101, 102]


def test_zorder_blocks_on_interleaved_delete(spark, tmp_path, monkeypatch):
    """ZORDER takes the same rewrite guard as OPTIMIZE."""
    t = str(tmp_path / "t")
    append(
        spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        ).repartition(3),
        t,
        stats_col="k",
    )
    orig = tl._stage_files
    state = {"armed": True}

    def delete_lands_mid_zorder(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            tl.delete_where(spark, table, F.col("k") == 7)
        return files

    monkeypatch.setattr(tl, "_stage_files", delete_lands_mid_zorder)
    with pytest.raises(ConcurrentWriteError, match="dv_on_read_file@"):
        tl.optimize_table_zorder(spark, t, 2, ("k", "g"))
    assert read_table(spark, t).count() == 19


# --------------------------- true-contention races (6-thread harness)


def test_concurrent_appends_and_merges_disjoint_all_land(spark, tmp_path):
    """SIX writer threads racing on one table — three blind appends on
    fresh key ranges and three MERGEs whose pruned file sets and key
    ranges are mutually disjoint (real _commit races, nothing
    monkeypatched). Every writer must land exactly once: appends
    commute with merges whose updates they provably miss, and merges
    on disjoint file sets commute with each other."""
    t = str(tmp_path / "t")
    # three seed files with tight, disjoint key ranges
    for lo in (0, 100, 200):
        append(_kv(spark, lo, lo + 10, 1).coalesce(1), t, stats_col="k")
    errs: list = []

    def appender(i):
        try:
            tl.append(
                _kv(spark, 1000 + 10 * i, 1000 + 10 * i + 5, 2),
                t,
                stats_col="k",
            )
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    def merger(lo):
        try:
            merge_upsert(spark, t, _kv(spark, lo + 2, lo + 5, 7), "k")
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    ths = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    ths += [threading.Thread(target=merger, args=(lo,)) for lo in (0, 100, 200)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert errs == []
    assert latest_version(t) == 8  # 3 seeds + 6 writers, no gaps
    rows = {r.k: r.v for r in read_table(spark, t).collect()}
    want = {}
    for lo in (0, 100, 200):
        for k in range(lo, lo + 10):
            want[k] = 7 if lo + 2 <= k < lo + 5 else 1
    for i in range(3):
        for k in range(1000 + 10 * i, 1000 + 10 * i + 5):
            want[k] = 2
    assert rows == want


def test_concurrent_overlapping_merges_exactly_one_lands(
    spark, tmp_path, monkeypatch
):
    """Two MERGEs racing on the SAME key range, forced to both read
    the v0 snapshot before either commits (a barrier inside staging):
    exactly one commits, the other raises ConcurrentWriteError (the
    winner rewrote its read set), and the table has no duplicate
    keys — never a lost or doubled update."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).coalesce(1), t, stats_col="k")
    orig = tl._stage_files
    barrier = threading.Barrier(2, timeout=120)

    def stage_then_rendezvous(df, table):
        files = orig(df, table)
        barrier.wait()  # both merges staged against the SAME snapshot
        return files

    monkeypatch.setattr(tl, "_stage_files", stage_then_rendezvous)
    results: list = []

    def merger(val):
        try:
            merge_upsert(spark, t, _kv(spark, 2, 6, val), "k")
            results.append(("ok", val))
        except ConcurrentWriteError:
            results.append(("conflict", val))

    ths = [threading.Thread(target=merger, args=(v,)) for v in (7, 8)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert sorted(tag for tag, _ in results) == ["conflict", "ok"]
    monkeypatch.setattr(tl, "_stage_files", orig)
    df = read_table(spark, t)
    assert df.count() == 10
    assert df.select("k").distinct().count() == 10
    winner = next(val for tag, val in results if tag == "ok")
    got = {r.k: r.v for r in df.collect()}
    assert got == {k: (winner if 2 <= k < 6 else 1) for k in range(10)}


# ------------------- per-file bloom columns / typed schema drift


def test_bloom_cross_column_probe_never_prunes_matches(spark, tmp_path):
    """A table whose commits bloomed DIFFERENT columns: a file bloomed
    on column `a` must NOT be probed with column-`b` keys (it would be
    wrongly pruned and its matching rows silently dropped — Spark's
    re-applied filter cannot recover a skipped file)."""
    from pyspark.sql.datasource import EqualTo

    from trace_parquet_spark.sources import tablelog_source
    from trace_parquet_spark.sources.tablelog import append_with_bloom
    from trace_parquet_spark.sources.tablelog_source import (
        TableLogBatchReader,
    )

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    # file A: a in [1000, 1010), b = 5 everywhere — bloomed on `a`
    append_with_bloom(
        spark.range(1000, 1010)
        .select(F.col("id").alias("a"), F.lit(5).alias("b"))
        .coalesce(1),
        t,
        bloom_col="a",
    )
    # file B: a in [2000, 2010), b = 7 — bloomed on `b` (last writer)
    append_with_bloom(
        spark.range(2000, 2010)
        .select(F.col("id").alias("a"), F.lit(7).alias("b"))
        .coalesce(1),
        t,
        bloom_col="b",
    )
    # probing b=5 must keep file A (its bloom is on `a`, not `b`)
    r = TableLogBatchReader({"path": t})
    list(r.pushFilters([EqualTo(("b",), 5)]))
    assert len(r.partitions()) >= 1
    got = (
        spark.read.format("tablelog")
        .option("path", t)
        .load()
        .filter(F.col("b") == 5)
        .collect()
    )
    assert sorted(x.a for x in got) == list(range(1000, 1010))
    # same-column probes still prune: b=7 skips file A via its... no,
    # file A is bloomed on `a` so it is conservatively kept; but a
    # b-probe with a value in NEITHER file prunes file B via its bloom
    r2 = TableLogBatchReader({"path": t})
    list(r2.pushFilters([EqualTo(("b",), 12345)]))
    assert len(r2.partitions()) == 1  # only the a-bloomed file stays


def test_point_lookup_scans_foreign_column_bloomed_files(spark, tmp_path):
    """read_table_point_lookup probes the latest committed bloom_col;
    files whose own bloom was built on a DIFFERENT column must be
    conservatively scanned, never probed cross-column."""
    from trace_parquet_spark.sources.tablelog import (
        append_with_bloom,
        read_table_point_lookup,
    )

    t = str(tmp_path / "t")
    append_with_bloom(
        spark.range(1000, 1010)
        .select(F.col("id").alias("a"), F.lit(5).alias("b"))
        .coalesce(1),
        t,
        bloom_col="a",
    )
    append_with_bloom(
        spark.range(2000, 2010)
        .select(F.col("id").alias("a"), F.lit(7).alias("b"))
        .coalesce(1),
        t,
        bloom_col="b",
    )
    df, scanned, total = read_table_point_lookup(spark, t, [5])
    assert total == 2
    # the b-bloomed file is rightly pruned (holds only b=7); the
    # a-bloomed file is conservatively scanned, NEVER probed with
    # b-keys against its a-bloom (which would have pruned it too and
    # silently dropped every matching row)
    assert scanned == 1
    assert sorted(r.a for r in df.collect()) == list(range(1000, 1010))


def test_stream_fails_loudly_on_mid_stream_type_change(spark, tmp_path):
    """A commit that keeps every column NAME but changes a TYPE must
    trip the same loud schema-change failure as a rename — not surface
    as a worker-side Arrow cast error or silently coerce values."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    append(spark.range(3).select("id", (F.col("id") * 10).alias("v")), t)
    q = (
        spark.readStream.format("tablelog")
        .option("path", t)
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    assert (2, 20) in seen
    # same names, but v becomes a string
    append(
        spark.range(3, 5).select(
            "id", (F.col("id") * 10).cast("string").alias("v")
        ),
        t,
    )
    with pytest.raises(
        StreamingQueryException, match="schema changed mid-stream"
    ):
        q.processAllAvailable()
        q.awaitTermination(60)


# --------------------------------- auto-checkpoint cadence (Delta: 10)


def test_auto_checkpoint_bounds_replay_over_commit_stream(
    spark, tmp_path, monkeypatch
):
    """An unbounded append stream must keep plan-time replay O(interval):
    every Nth commit publishes a checkpoint automatically (Delta's
    delta.checkpointInterval=10 behavior), so _snapshot seeks the
    newest checkpoint and replays only the JSON tail — never the whole
    history. Pinned by counting _load_commit calls during a read."""
    from trace_parquet_spark.sources.tablelog import _checkpoints

    monkeypatch.setattr(tl, "AUTO_CHECKPOINT_EVERY", 5)
    t = str(tmp_path / "t")
    one = spark.range(1).select(F.col("id").alias("k")).coalesce(1)
    for _ in range(23):
        append(one, t)
    # commits 5, 10, 15, 20 carried checkpoints — no manual call made
    assert _checkpoints(t) == [5, 10, 15, 20]
    real = tl._load_commit
    calls = {"n": 0}

    def counting(table, v):
        calls["n"] += 1
        return real(table, v)

    monkeypatch.setattr(tl, "_load_commit", counting)
    files = tl._snapshot(t, None).files
    # tail replay: versions 21, 22 only (base checkpoint at 20)
    assert calls["n"] <= 5
    assert len(files) == 23
    assert read_table(spark, t).count() == 23
    # interval is configurable; 0 disables the cadence entirely
    monkeypatch.setattr(tl, "AUTO_CHECKPOINT_EVERY", 0)
    append(one, t)
    append(one, t)
    assert _checkpoints(t) == [5, 10, 15, 20]


# --------------------- vacuum/expire under a concurrent slow reader


def test_expire_under_planned_reader_fails_loudly_never_partial(
    spark, tmp_path, monkeypatch
):
    """A slow reader that resolved the log at version V while
    expire_snapshots deleted files referenced only below keep_from
    must either read V consistently (V kept) or fail LOUDLY at scan
    time (V expired) — never silently return a subset of V's rows.
    The expire is injected right after the reader's log resolution,
    the worst possible interleave."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).repartition(2), t)       # v0: files A
    tl.overwrite(_kv(spark, 20, 25, 2), t)               # v1: replaces A

    real_snapshot = tl._snapshot
    fire = {"armed": False}

    def snapshot_then_expire(table, as_of=None):
        res = real_snapshot(table, as_of)
        if fire["armed"]:
            fire["armed"] = False
            tl.expire_snapshots(t, keep_from=1)  # deletes v0-only files
        return res

    monkeypatch.setattr(tl, "_snapshot", snapshot_then_expire)

    # reader at an EXPIRED version: its log resolution succeeded (v0
    # was visible), the files vanish before the scan plans — loud
    # failure (PATH_NOT_FOUND at analysis or FileNotFound at scan),
    # zero rows out, NEVER a silent subset
    fire["armed"] = True
    with pytest.raises(Exception) as ei:
        rows = read_table(spark, t, as_of=0).collect()
        # reaching here means Spark returned a result set: it must be
        # COMPLETE (10 rows), else rows were silently dropped
        assert len(rows) == 10, "silent partial read of expired version"
        pytest.fail("expired-version read returned instead of failing")
    msg = str(ei.value)
    assert (
        "does not exist" in msg
        or "FileNotFound" in msg
        or "PATH_NOT_FOUND" in msg
    )

    # reader at a KEPT version with the same interleave: consistent
    fire["armed"] = True
    kept = read_table(spark, t)  # resolves v1, expire fires mid-plan
    got = sorted((r.k, r.v) for r in kept.collect())
    assert got == [(k, 2) for k in range(20, 25)]

    # time travel below keep_from now refuses at plan time (retention
    # contract) rather than planning ghost files
    monkeypatch.setattr(tl, "_snapshot", real_snapshot)
    with pytest.raises(Exception):
        read_table(spark, t, as_of=0).collect()


def test_vacuum_never_touches_files_of_any_logged_version(
    spark, tmp_path, monkeypatch
):
    """Plain vacuum (no expire) with a reader planned at an OLD
    version: every logged version's files are protected, so the old
    snapshot still reads completely after vacuum — only true orphans
    (failed writers' staged files) are deleted."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 10, 1).repartition(2), t)   # v0
    tl.overwrite(_kv(spark, 20, 25, 2), t)           # v1: v0 files now
    # referenced only by v0 — still a logged version, still protected
    old = read_table(spark, t, as_of=0)
    # orphan a staged file (failed writer) so vacuum has real work
    import os as _os

    orphan = None
    for root, _dirs, names in _os.walk(t):
        for n in names:
            if n.startswith("part-") and n.endswith(".parquet"):
                orphan = _os.path.join(root, "part-orphan-test.parquet")
                import shutil as _sh

                _sh.copyfile(_os.path.join(root, n), orphan)
                break
        if orphan:
            break
    doomed = tl.vacuum(t)
    assert [d for d in doomed if "orphan" in d]  # the orphan went
    got = sorted((r.k, r.v) for r in old.collect())
    assert got == [(k, 1) for k in range(10)]  # old snapshot complete


# ------------------------- exact-anchor scale hints (WindowScaleHint)


def test_exact_anchors_hint_at_their_approx_twins(
    spark, sf_dir, monkeypatch
):
    """The three exact anchors keep data-sized rank windows by design;
    above the row threshold each must emit a WindowScaleHint naming
    its registered *_approx twin (the silent 100x cliff becomes an
    operator hint), and below the threshold stay silent."""
    import warnings as w

    from trace_parquet_spark.operators import scale_hints
    from trace_parquet_spark.operators.hygiene import ccnet_quality_buckets
    from trace_parquet_spark.plans.analytics_more import (
        equi_depth_price_buckets,
    )
    from trace_parquet_spark.plans.funnels import lift_table_deciles

    cases = [
        (ccnet_quality_buckets, "ccnet_quality_buckets_approx"),
        (equi_depth_price_buckets, "equi_depth_price_buckets_approx"),
        (lift_table_deciles, "lift_table_deciles_approx"),
    ]
    # tiny threshold: every anchor's window is "too big" at test SF
    monkeypatch.setattr(scale_hints, "SCALE_HINT_ROWS", 1)
    for fn, twin in cases:
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            fn(spark, sf_dir).collect()
        hints = [
            c for c in caught if issubclass(c.category, scale_hints.WindowScaleHint)
        ]
        assert hints, f"{fn.__name__} emitted no WindowScaleHint"
        assert twin in str(hints[0].message)
    # default threshold: silent at bench SF (no noise in normal runs)
    monkeypatch.setattr(scale_hints, "SCALE_HINT_ROWS", 5_000_000)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        equi_depth_price_buckets(spark, sf_dir).collect()
    assert not [
        c for c in caught if issubclass(c.category, scale_hints.WindowScaleHint)
    ]


# ----------------- conflict-matrix model check (no Spark required)


def test_rewrite_conflict_matrix_model(tmp_path):
    """Property-style model check of _interleaved_blocks_rewrite over
    synthetic commit logs (pure JSON, no Spark session): across many
    seeded random interleave scenarios the matrix must block EXACTLY
    when Delta section-5 semantics require — an interleaved remove/dv
    touching the read set, a metadata commit, a schema-shape change,
    or (merge mode) an added file overlapping the update-key range or
    carrying no usable range. Disjoint ranged adds, empty adds, and
    remove/dv outside the read set must commute."""
    import json as _json
    import random

    SCHEMA = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    SCHEMA2 = (
        '{"type":"struct","fields":[{"name":"k","type":"string",'
        '"nullable":true,"metadata":{}}]}'
    )
    rng = random.Random(411)
    read_files = {"data/a.parquet", "data/b.parquet"}
    key_range = (100, 200)

    for case in range(300):
        t = str(tmp_path / f"m{case}")
        # base commit the rewrite snapshotted at (v0)
        tl._commit(
            t, 0, {"add": sorted(read_files), "remove": [], "schema": SCHEMA}
        )
        kinds = [
            rng.choice(
                [
                    "add_disjoint",
                    "add_overlap",
                    "add_unranged",
                    "add_empty",
                    "remove_read",
                    "remove_other",
                    "dv_read",
                    "dv_other",
                    "dv_clear_read",
                    "col_mapping",
                    "constraints",
                    "schema_change",
                ]
            )
            for _ in range(rng.randint(1, 4))
        ]
        must_block = False
        for i, kind in enumerate(kinds):
            v = i + 1
            f = f"data/x{v}.parquet"
            c: dict = {"add": [], "remove": [], "schema": SCHEMA}
            if kind == "add_disjoint":
                c["add"] = [f]
                c["stats"] = {f: [300 + v, 400 + v]}
                c["stats_col"] = "k"
                c["rows"] = {f: 5}
            elif kind == "add_overlap":
                c["add"] = [f]
                c["stats"] = {f: [150, 160]}
                c["stats_col"] = "k"
                c["rows"] = {f: 5}
                must_block = True
            elif kind == "add_unranged":
                c["add"] = [f]
                c["rows"] = {f: 5}
                must_block = True
            elif kind == "add_empty":
                c["add"] = [f]
                c["rows"] = {f: 0}  # empty part file: carries no keys
            elif kind == "remove_read":
                c["remove"] = ["data/a.parquet"]
                must_block = True
            elif kind == "remove_other":
                c["remove"] = [f"data/gone{v}.parquet"]
            elif kind == "dv_read":
                c["dv"] = {"data/b.parquet": f"dv/{v}"}
                must_block = True
            elif kind == "dv_other":
                c["dv"] = {f"data/gone{v}.parquet": f"dv/{v}"}
            elif kind == "dv_clear_read":
                c["dv_clear"] = ["data/a.parquet"]
                must_block = True
            elif kind == "col_mapping":
                c["col_mapping"] = {"k": "k"}
                must_block = True
            elif kind == "constraints":
                c["constraints"] = {"pos": "k > 0"}
                must_block = True
            elif kind == "schema_change":
                c["schema"] = SCHEMA2
                must_block = True
            tl._commit(t, v, c)
        blocker = tl._interleaved_blocks_rewrite(
            t,
            0,
            len(kinds),
            SCHEMA,
            read_files=read_files,
            key="k",
            key_range=key_range,
        )
        assert (blocker is not None) == must_block, (
            f"case {case}: kinds={kinds} -> blocker={blocker}"
        )
        # whole-snapshot mode (OPTIMIZE): ANY remove/dv blocks, adds
        # always commute, metadata still blocks
        whole_block = any(
            k
            in (
                "remove_read",
                "remove_other",
                "dv_read",
                "dv_other",
                "dv_clear_read",
                "col_mapping",
                "constraints",
                "schema_change",
            )
            for k in kinds
        )
        blocker2 = tl._interleaved_blocks_rewrite(
            t, 0, len(kinds), SCHEMA, read_files=None
        )
        assert (blocker2 is not None) == whole_block, (
            f"case {case}: kinds={kinds} -> whole-snapshot {blocker2}"
        )
    # never-blocked sanity: pure disjoint appends, both modes commute
    t = str(tmp_path / "clean")
    tl._commit(t, 0, {"add": ["data/a.parquet"], "remove": [], "schema": SCHEMA})
    tl._commit(
        t,
        1,
        {
            "add": ["data/c.parquet"],
            "remove": [],
            "schema": SCHEMA,
            "stats": {"data/c.parquet": [900, 950]},
            "stats_col": "k",
            "rows": {"data/c.parquet": 7},
        },
    )
    assert (
        tl._interleaved_blocks_rewrite(
            t, 0, 1, SCHEMA, read_files={"data/a.parquet"},
            key="k", key_range=(0, 10),
        )
        is None
    )
    assert (
        tl._interleaved_blocks_rewrite(t, 0, 1, SCHEMA, read_files=None)
        is None
    )


def test_merge_rebases_across_multiple_interleaved_appends(
    spark, tmp_path, monkeypatch
):
    """THREE disjoint ranged appends land while a merge stages: the
    merge must rebase across all of them (conflict window re-checked
    per rebase attempt) and commit at head+1 with every append's rows
    intact."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 5, 1), t, stats_col="k")
    orig = tl._stage_files
    state = {"armed": True}

    def three_appends_mid_merge(df, table):
        files = orig(df, table)
        if state["armed"]:
            state["armed"] = False
            for lo in (100, 200, 300):
                tl.append(_kv(spark, lo, lo + 3, 9), table, stats_col="k")
        return files

    monkeypatch.setattr(tl, "_stage_files", three_appends_mid_merge)
    out = merge_upsert(spark, t, _kv(spark, 2, 4, 7), "k")
    assert out["version"] == 4  # v1..v3 appends, merge rebased to v4
    rows = {r.k: r.v for r in read_table(spark, t).collect()}
    want = {0: 1, 1: 1, 2: 7, 3: 7, 4: 1}
    for lo in (100, 200, 300):
        want.update({k: 9 for k in range(lo, lo + 3)})
    assert rows == want


def test_concurrent_optimize_and_appends_all_land(spark, tmp_path):
    """OPTIMIZE racing three blind appenders (real _commit races): the
    rewrite must rebase across whichever appends land mid-flight and
    commit exactly once; every append survives (their files stay
    live, uncompacted) and the compacted content is byte-equal to the
    snapshot OPTIMIZE read."""
    t = str(tmp_path / "t")
    append(_kv(spark, 0, 20, 1).repartition(4), t, stats_col="k")
    errs: list = []

    def appender(i):
        try:
            tl.append(
                _kv(spark, 1000 + 10 * i, 1000 + 10 * i + 5, 2),
                t,
                stats_col="k",
            )
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    def optimizer():
        try:
            tl.optimize_table(spark, t, target_files=1)
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    ths = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    ths.append(threading.Thread(target=optimizer))
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert errs == []
    assert latest_version(t) == 4  # seed + 3 appends + optimize, no gaps
    rows = {r.k: r.v for r in read_table(spark, t).collect()}
    want = {k: 1 for k in range(20)}
    for i in range(3):
        want.update({k: 2 for k in range(1000 + 10 * i, 1000 + 10 * i + 5)})
    assert rows == want
