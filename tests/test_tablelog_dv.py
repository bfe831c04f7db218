"""Merge-on-read deletion vectors (sources/tablelog.py): row-level
DELETE without rewriting files — snapshot/time-travel semantics,
cumulative vectors, interplay with MERGE/OPTIMIZE/vacuum/checkpoints,
and the metadata-count path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trace_parquet_spark.sources.tablelog import (
    append,
    change_feed,
    delete_where,
    latest_version,
    merge_upsert,
    optimize_table,
    read_table,
    stats_only_totals,
    vacuum,
    write_checkpoint,
)


def _ids(df):
    return sorted(r.id for r in df.collect())


def _seed(spark, t, n=20, parts=2):
    append(
        spark.range(n).repartitionByRange(parts, "id"), t, stats_col="id"
    )


def test_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    files_before = {
        f
        for root, _d, names in os.walk(t)
        for f in names
        if f.endswith(".parquet")
    }
    res = delete_where(spark, t, "id % 5 = 0")
    assert res["rows_deleted"] == 4 and res["version"] == 1
    assert _ids(read_table(spark, t)) == [
        i for i in range(20) if i % 5 != 0
    ]
    # no DATA file was rewritten or removed — only a dv sidecar added
    files_after = {
        f
        for root, _d, names in os.walk(t)
        for f in names
        if f.endswith(".parquet")
    }
    assert files_before <= files_after
    # time travel still sees the deleted rows
    assert _ids(read_table(spark, t, as_of=0)) == list(range(20))


def test_second_delete_is_cumulative(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id < 4")
    delete_where(spark, t, F.col("id") >= 16)
    assert _ids(read_table(spark, t)) == list(range(4, 16))
    # deleting already-deleted rows matches nothing
    with pytest.raises(ValueError, match="matched no rows"):
        delete_where(spark, t, "id < 2")
    # snapshots at each dv commit are distinct and correct
    assert _ids(read_table(spark, t, as_of=1)) == list(range(4, 20))


def test_merge_does_not_resurrect_deleted_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id % 2 = 1")  # odds gone
    updates = spark.createDataFrame([(2,), (100,)], ["id"])
    merge_upsert(spark, t, updates, "id")
    got = _ids(read_table(spark, t))
    assert got == sorted(set(range(0, 20, 2)) | {100})
    # deleted odds stayed gone through the rewrite of touched files
    assert 1 not in got and 3 not in got


def test_optimize_folds_vectors_away(spark, tmp_path):
    from trace_parquet_spark.sources.tablelog import _snapshot

    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id >= 10")
    assert _snapshot(t).dv
    optimize_table(spark, t, target_files=1)
    assert _snapshot(t).dv == {}  # mappings dropped with the files
    assert _ids(read_table(spark, t)) == list(range(10))
    # metadata-only MIN/MAX is exact again post-OPTIMIZE
    n, lo, hi = stats_only_totals(t)
    assert (n, lo, hi) == (10, 0, 9)


def test_stats_only_counts_subtract_dv_and_minmax_refuses(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    n, lo, hi = stats_only_totals(t)
    assert (n, lo, hi) == (20, 0, 19)
    delete_where(spark, t, "id >= 15")
    with pytest.raises(ValueError, match="deletion vector"):
        stats_only_totals(t)


def test_vacuum_keeps_referenced_sidecars(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id = 7")
    assert vacuum(t) == []  # the sidecar is referenced, not an orphan
    assert _ids(read_table(spark, t)) == [i for i in range(20) if i != 7]


def test_checkpoint_carries_dv_state(spark, tmp_path):
    from trace_parquet_spark.sources.tablelog import _snapshot

    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id < 5")
    v = write_checkpoint(t)
    # replay THROUGH the checkpoint (no tail) reproduces the dv state
    assert _snapshot(t, v).dv and sum(_snapshot(t, v).dv_counts.values()) == 5
    assert _ids(read_table(spark, t, as_of=v)) == list(range(5, 20))


def test_change_feed_refuses_dv_range(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    delete_where(spark, t, "id = 0")
    with pytest.raises(ValueError, match="deletion vector"):
        change_feed(spark, t, 0, latest_version(t), "id")


def test_expire_snapshots_keeps_live_dv_sidecars(spark, tmp_path):
    """Round-6 advice (high): expire_snapshots built keep_files from
    data-file adds only, so the walk deleted still-mapped dv sidecars
    and read_table broke (or deletes were lost) after
    delete_where + expire_snapshots."""
    from trace_parquet_spark.sources.tablelog import expire_snapshots

    t = str(tmp_path / "t")
    _seed(spark, t)                       # v0
    append(spark.range(20, 30), t)        # v1
    delete_where(spark, t, "id % 5 = 0")  # v2: dv commit
    expire_snapshots(t, keep_from=2)
    got = _ids(read_table(spark, t))
    assert got == [i for i in range(30) if i % 5 != 0]
    # time travel at the retention boundary also still applies the dv
    assert _ids(read_table(spark, t, as_of=2)) == got


def test_vacuum_protects_sidecar_known_only_to_checkpoint(spark, tmp_path):
    """Round-6 advice (medium): once the dv commit's log JSON is
    expired (the mapping survives only in the checkpoint), vacuum
    derived protection only from remaining commit JSONs and deleted
    the still-referenced sidecar."""
    from trace_parquet_spark.sources.tablelog import expire_snapshots

    t = str(tmp_path / "t")
    _seed(spark, t)                       # v0
    delete_where(spark, t, "id = 7")      # v1: dv commit
    append(spark.range(20, 25), t)        # v2
    expire_snapshots(t, keep_from=2)      # v1's JSON is gone; cp has dv
    vacuum(t)
    got = _ids(read_table(spark, t))
    assert got == [i for i in range(25) if i != 7]


def test_delete_where_on_table_with_base_pos_file_columns(spark, tmp_path):
    """Round-6 advice (low): delete_where's internal tagging columns
    were named base/pos and collided with same-named user columns."""
    t = str(tmp_path / "t")
    df = spark.range(12).select(
        F.col("id"),
        (F.col("id") * 2).alias("base"),
        (F.col("id") + 100).alias("pos"),
        F.concat(F.lit("f"), F.col("id")).alias("file"),
    )
    append(df.repartitionByRange(2, "id"), t, stats_col="id")
    res = delete_where(spark, t, "base >= 10 AND pos < 108")
    assert res["rows_deleted"] == 3  # ids 5,6,7
    assert _ids(read_table(spark, t)) == [0, 1, 2, 3, 4, 8, 9, 10, 11]
    # cumulative second delete over the collision schema
    delete_where(spark, t, F.col("id") == 0)
    assert _ids(read_table(spark, t)) == [1, 2, 3, 4, 8, 9, 10, 11]


def _brute_diff(spark, t, v0, v1):
    """Ground truth: full snapshot diff by key between two versions."""
    old = {r.id: tuple(sorted(r.asDict().items()))
           for r in read_table(spark, t, as_of=v0).collect()}
    new = {r.id: tuple(sorted(r.asDict().items()))
           for r in read_table(spark, t, as_of=v1).collect()}
    out = {}
    for k in old.keys() | new.keys():
        if k not in new:
            out[k] = ("delete", old[k])
        elif k not in old:
            out[k] = ("insert", new[k])
        elif old[k] != new[k]:
            out[k] = ("update", new[k])
    return out


def test_change_feed_dv_equals_snapshot_diff(spark, tmp_path):
    """change_feed_dv must equal a brute-force snapshot diff across an
    op mix of appends, cumulative dv deletes, and a MERGE that both
    resurrects dv-deleted keys and folds vectors into rewrites
    (round-6 verdict item 6)."""
    from trace_parquet_spark.sources.tablelog import change_feed_dv

    t = str(tmp_path / "t")
    df0 = spark.range(20).select(
        "id", (F.col("id") * 10).alias("val")
    )
    append(df0.repartitionByRange(3, "id"), t, stats_col="id")    # v0
    delete_where(spark, t, "id % 4 = 0")                          # v1 (dv)
    append(
        spark.range(20, 26).select("id", (F.col("id") * 10).alias("val")),
        t, stats_col="id",
    )                                                             # v2
    delete_where(spark, t, "id % 5 = 0")                          # v3 (dv, cumulative)
    updates = spark.createDataFrame(
        [(4, 999), (7, 777), (100, 1000)], ["id", "val"]
    )  # 4 was dv-deleted (resurrect), 7 is live (update), 100 is new
    merge_upsert(spark, t, updates, "id")                         # v4
    delete_where(spark, t, "id = 22")                             # v5 (dv)

    vmax = latest_version(t)
    for v0 in range(0, vmax):
        for v1 in range(v0 + 1, vmax + 1):
            feed = {
                r.id: (
                    r.change_type,
                    tuple(sorted({"id": r.id, "val": r.val}.items())),
                )
                for r in change_feed_dv(spark, t, v0, v1, "id").collect()
            }
            brute = _brute_diff(spark, t, v0, v1)
            # delete rows carry the pre-image; align brute accordingly
            for k, (ct, img) in list(brute.items()):
                if ct == "delete":
                    pre = {
                        r.id: tuple(sorted(r.asDict().items()))
                        for r in read_table(spark, t, as_of=v0).collect()
                    }[k]
                    brute[k] = (ct, pre)
            assert feed == brute, (v0, v1)


def test_change_feed_dv_matches_plain_feed_on_dv_free_range(spark, tmp_path):
    """On a range with no deletion vectors the dv-aware feed must be
    exactly the plain change_feed."""
    from trace_parquet_spark.sources.tablelog import change_feed_dv

    t = str(tmp_path / "t")
    append(spark.range(10).select("id", (F.col("id") + 1).alias("v")), t)
    merge_upsert(
        spark, t,
        spark.createDataFrame([(3, 30), (50, 51)], ["id", "v"]),
        "id",
    )
    a = sorted(
        tuple(r) for r in change_feed(spark, t, 0, 1, "id").collect()
    )
    b = sorted(
        tuple(r) for r in change_feed_dv(spark, t, 0, 1, "id").collect()
    )
    assert a == b and len(a) == 2


def test_stats_hybrid_matches_full_scan(spark, tmp_path):
    """Hybrid dv-aware COUNT/MIN/MAX must equal a full recompute on
    every snapshot; without vectors it must agree with the pure
    metadata path."""
    from trace_parquet_spark.sources.tablelog import (
        stats_hybrid_totals,
        stats_only_totals,
    )

    t = str(tmp_path / "t")
    _seed(spark, t, n=40, parts=4)
    # no dv yet: hybrid == metadata-only
    assert stats_hybrid_totals(spark, t, "id") == stats_only_totals(t)
    delete_where(spark, t, "id < 6")          # low range (min moves)
    delete_where(spark, t, "id >= 37")        # high range (max moves)
    delete_where(spark, t, "id % 9 = 0")      # scattered
    for v in range(latest_version(t) + 1):
        snap = read_table(spark, t, as_of=v)
        expect = (
            snap.count(),
            snap.agg(F.min("id")).collect()[0][0],
            snap.agg(F.max("id")).collect()[0][0],
        )
        assert stats_hybrid_totals(spark, t, "id", as_of=v) == expect, v
    # the refusal path is unchanged for MIN/MAX safety callers
    import pytest as _pytest

    with _pytest.raises(ValueError, match="deletion vector"):
        stats_only_totals(t)


def test_point_lookup_applies_deletion_vectors(spark, tmp_path):
    """The bloom point lookup returns what read_table returns for the
    same key, including after a merge-on-read delete of that key, and
    time travel before the delete still finds it."""
    from trace_parquet_spark.sources.tablelog import (
        append_with_bloom,
        read_table_point_lookup,
    )

    t = str(tmp_path / "t")
    append_with_bloom(spark.range(100), t, bloom_col="id")
    delete_where(spark, t, "id = 7")
    assert _ids(read_table(spark, t).filter("id = 7")) == []
    got, _scanned, _total = read_table_point_lookup(spark, t, [7])
    assert _ids(got) == []
    assert _ids(read_table_point_lookup(spark, t, [7, 8])[0]) == [8]
    assert _ids(read_table_point_lookup(spark, t, [7], as_of=0)[0]) == [7]
