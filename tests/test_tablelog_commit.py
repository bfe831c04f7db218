"""The tablelog commit protocol (sources/tablelog.py ``_publish``): one
conflict table for every data write, the lost-delete race, and
commits whose footer stats JSON cannot carry.

Each write below loses its version race to an interleaved commit
(``latest_version`` returns the head from before the interleave, so
the first commit attempt hits a taken version). Expected outcome:

============================  ===================  ====================
operation                     lost the race to a   lost the race to a
                              blind append         rename_column
============================  ===================  ====================
append                        rebase               ConcurrentWriteError
append_with_bloom             rebase               ConcurrentWriteError
commit_staged_files (append)  rebase               ConcurrentWriteError
merge_upsert (disjoint keys)  rebase               ConcurrentWriteError
optimize_table                rebase               ConcurrentWriteError
optimize_table_zorder         rebase               ConcurrentWriteError
delete_where                  rebase               ConcurrentWriteError
overwrite                     ConcurrentWriteError ConcurrentWriteError
commit_staged_files           ConcurrentWriteError ConcurrentWriteError
(overwrite)
append_stream_batch           ConcurrentWriteError ConcurrentWriteError
============================  ===================  ====================
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

import trace_parquet_spark.session as session
import trace_parquet_spark.sources.tablelog as tl
from trace_parquet_spark.schemas import TRACE_PARAM_SCHEMA
from trace_parquet_spark.sources.tablelog import ConcurrentWriteError


def _kv(spark, lo, hi, v):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    )


def _rows(spark, t):
    return {r.k: r.v for r in tl.read_table(spark, t).collect()}


def _staged(overwrite):
    def run(spark, t):
        df = _kv(spark, 20, 25, 2)
        snap = tl.latest_version(t)
        files = tl._stage_files(df, t)
        return tl.commit_staged_files(
            t, files, df.schema.json(), snap, overwrite=overwrite
        )

    return run


def _appended(rows):
    return all(rows.get(k) == 2 for k in range(20, 25))


# (name, write, latest_version calls up to and including the head
# read that picks the commit version, lost-race-to-append outcome,
# check of the write's own effect after a rebase)
WRITES = [
    (
        "append",
        lambda spark, t: tl.append(_kv(spark, 20, 25, 2), t, stats_col="k"),
        2,
        "rebase",
        _appended,
    ),
    (
        "append_with_bloom",
        lambda spark, t: tl.append_with_bloom(
            _kv(spark, 20, 25, 2), t, bloom_col="v", stats_col="k"
        ),
        2,
        "rebase",
        _appended,
    ),
    ("commit_staged_files_append", _staged(False), 2, "rebase", _appended),
    (
        "merge_upsert",
        lambda spark, t: tl.merge_upsert(spark, t, _kv(spark, 2, 4, 7), "k"),
        2,
        "rebase",
        lambda rows: rows[2] == rows[3] == 7 and rows[4] == 1,
    ),
    (
        "optimize_table",
        lambda spark, t: tl.optimize_table(spark, t, target_files=1),
        2,
        "rebase",
        lambda rows: all(rows[k] == 1 for k in range(10)),
    ),
    (
        "optimize_table_zorder",
        lambda spark, t: tl.optimize_table_zorder(spark, t, 1, ("k", "v")),
        2,
        "rebase",
        lambda rows: all(rows[k] == 1 for k in range(10)),
    ),
    (
        "delete_where",
        lambda spark, t: tl.delete_where(spark, t, F.col("k") == 3),
        2,
        "rebase",
        lambda rows: 3 not in rows and rows[4] == 1,
    ),
    (
        "overwrite",
        lambda spark, t: tl.overwrite(_kv(spark, 20, 25, 2), t),
        2,
        "raise",
        None,
    ),
    ("commit_staged_files_overwrite", _staged(True), 2, "raise", None),
    (
        "append_stream_batch",
        lambda spark, t: tl.append_stream_batch(
            _kv(spark, 20, 25, 2), t, "app", 0
        ),
        3,  # txn_committed reads the head first
        "raise",
        None,
    ),
]


def _lose_race_at(monkeypatch, call, interleave):
    """Run ``interleave`` at the ``call``-th latest_version call and
    return the head from before it, so the caller's commit version is
    already taken."""
    real = tl.latest_version
    state = {"n": 0}

    def stale_head(table):
        head = real(table)
        state["n"] += 1
        if state["n"] == call:
            interleave(table)
        return head

    monkeypatch.setattr(tl, "latest_version", stale_head)


@pytest.mark.parametrize("interleaved", ["blind_append", "rename_column"])
@pytest.mark.parametrize(
    "write,call,on_append,check",
    [pytest.param(*w[1:], id=w[0]) for w in WRITES],
)
def test_lost_race_outcome(
    spark, tmp_path, monkeypatch, write, call, on_append, check, interleaved
):
    t = str(tmp_path / "t")
    tl.append(_kv(spark, 0, 10, 1).coalesce(1), t, stats_col="k")  # v0

    if interleaved == "blind_append":
        def interleave(table):
            tl.append(_kv(spark, 1000, 1005, 9), table, stats_col="k")
    else:
        def interleave(table):
            tl.rename_column(table, "v", "w")

    _lose_race_at(monkeypatch, call, interleave)
    if interleaved == "blind_append" and on_append == "rebase":
        write(spark, t)
        monkeypatch.undo()
        assert tl.latest_version(t) == 2  # rebased over the append at v1
        rows = _rows(spark, t)
        assert all(rows[k] == 9 for k in range(1000, 1005))
        assert check(rows)
    else:
        with pytest.raises(ConcurrentWriteError):
            write(spark, t)
        monkeypatch.undo()
        assert tl.latest_version(t) == 1  # only the interleaved commit
        if interleaved == "blind_append":
            assert set(_rows(spark, t)) == set(range(10)) | set(
                range(1000, 1005)
            )


def test_delete_where_raises_when_optimize_lands_mid_delete(
    spark, tmp_path, monkeypatch
):
    """An OPTIMIZE committed between the delete's read and its commit
    removed every file the delete matched rows in; committing the
    deletion vector onto those dead files would report the rows
    deleted while they stay visible in the compacted files."""
    t = str(tmp_path / "t")
    tl.append(_kv(spark, 0, 10, 1).repartition(4), t, stats_col="k")
    orig = session.track_cache
    state = {"armed": True}

    def optimize_lands_mid_delete(df):
        out = orig(df)
        if state["armed"]:
            state["armed"] = False
            tl.optimize_table(spark, t, target_files=1)
        return out

    monkeypatch.setattr(session, "track_cache", optimize_lands_mid_delete)
    with pytest.raises(ConcurrentWriteError, match="removed_read_file@1"):
        tl.delete_where(spark, t, F.col("k") < 5)
    monkeypatch.undo()
    # no accepted commit claims the rows deleted: the head is the
    # optimize and every row is still there
    assert tl.latest_version(t) == 1
    assert sorted(_rows(spark, t)) == list(range(10))
    # re-run on the new snapshot: the matched rows really disappear
    assert tl.delete_where(spark, t, F.col("k") < 5)["rows_deleted"] == 5
    assert sorted(_rows(spark, t)) == list(range(5, 10))


def test_timestamp_stats_col_commits_and_prunes(spark, tmp_path):
    """Footer min/max of a timestamp column cannot ride commit JSON:
    it is recorded as [None, None] (never prunable), the commit lands,
    and key_range reads still return exactly the matching rows."""
    base = datetime(2024, 1, 1)
    data = [
        (i % 3, base + timedelta(hours=i), base + timedelta(hours=i + 1), b"x")
        for i in range(12)
    ]
    df = spark.createDataFrame(data, TRACE_PARAM_SCHEMA).repartition(3)
    t = str(tmp_path / "t")
    assert tl.append(df, t, stats_col="startTime") == 0
    assert tl.overwrite(df, t, stats_col="startTime") == 1
    for v in (0, 1):
        stats = tl._load_commit(t, v)["stats"]
        assert stats and all(r == [None, None] for r in stats.values())
    lo, hi = base + timedelta(hours=2), base + timedelta(hours=5)
    got = tl.read_table(spark, t, key_range=(lo, hi)).collect()
    assert sorted(r.startTime for r in got) == [
        base + timedelta(hours=h) for h in range(2, 6)
    ]
    assert not [
        f for f in os.listdir(os.path.join(t, "_log")) if f.startswith(".tmp-")
    ]


def test_unserializable_commit_leaves_no_tmp_file(tmp_path):
    t = str(tmp_path / "t")
    os.makedirs(os.path.join(t, "_log"))
    with pytest.raises(TypeError):
        tl._commit(t, 0, {"add": [], "when": datetime(2024, 1, 1)})
    assert os.listdir(os.path.join(t, "_log")) == []
