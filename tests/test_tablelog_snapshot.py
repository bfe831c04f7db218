"""One snapshot replay (``tablelog._snapshot``) and one file planner
(``tablelog._plan_files``) behind every tablelog read: ranges belong to
the column that recorded them, the stats column and the blooms survive
log expiry, and every pruned read equals the full read plus the exact
filter over mixed op sequences."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import trace_parquet_spark.sources.tablelog as tl
from trace_parquet_spark.sources.tablelog_source import register


def _ab(spark, lo, n, b0):
    """{a: lo..lo+n-1, b: b0..b0+n-1}, one file."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias("a"), (F.col("id") - lo + b0).alias("b")
    ).coalesce(1)


def _pairs(df):
    return sorted((r.a, r.b) for r in df.collect())


def test_merge_on_a_key_other_than_stats_col_replaces_the_row(spark, tmp_path):
    """The manifest prunes on the merge key's own ranges: the ``a``
    ranges of a ``stats_col="a"`` append say nothing about ``b``."""
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")
    updates = spark.createDataFrame([(999, 105)], "a long, b long")
    res = tl.merge_upsert(spark, t, updates, key="b")
    assert res["files_rewritten"] == 1
    got = _pairs(tl.read_table(spark, t).filter(F.col("b") == 105))
    assert got == [(999, 105)]
    assert tl.read_table(spark, t).count() == 10


def test_pruning_reads_the_ranges_of_the_column_it_filters(spark, tmp_path):
    """After ``stats_col`` moves from ``a`` to ``b``, the first file's
    ``a`` ranges never prune a ``b`` predicate; ``as_of`` reads prune
    on the stats column of their own version."""
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")  # v0
    tl.append(_ab(spark, 10, 10, 200), t, stats_col="b")  # v1
    got = tl.read_table(spark, t, key_range=(100, 109))
    assert _pairs(got) == [(a, a + 100) for a in range(10)]
    assert len(tl.files_overlapping(t, {"b": (100, 109)})) == 1
    # v1's file recorded no ``a`` range: kept, never pruned by a guess
    assert len(tl.files_overlapping(t, {"a": (0, 4)})) == 2
    assert len(tl.files_overlapping(t, {"a": (50, 60)})) == 1
    # v0 declared stats_col="a": the key range is an ``a`` range there
    old = tl.read_table(spark, t, as_of=0, key_range=(0, 4))
    assert _pairs(old) == [(a, a + 100) for a in range(5)]


def test_ranges_follow_a_rename_and_go_with_a_drop(spark, tmp_path):
    """Ranges belong to the physical column they were read from: after
    ``rename_column`` they prune under the new name, through a
    checkpoint too, and a dropped column's ranges are gone."""
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")
    tl.append(_ab(spark, 10, 10, 200), t, stats_col="a")
    tl.analyze_table(t, ["b"])
    tl.rename_column(t, "a", "aa")
    assert len(tl.files_overlapping(t, {"aa": (0, 4)})) == 1
    got = tl.read_table(spark, t, key_range=(12, 13))
    assert sorted((r.aa, r.b) for r in got.collect()) == [(12, 202), (13, 203)]
    tl.write_checkpoint(t)
    assert set(tl._snapshot(t).ranges) == {"aa", "b"}
    tl.drop_column(t, "b")
    assert set(tl._snapshot(t).ranges) == {"aa"}


def test_stats_col_and_blooms_survive_expiry(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")  # v0
    tl.append(_ab(spark, 10, 10, 200), t)  # v1
    tl.append(_ab(spark, 20, 10, 300), t)  # v2
    tl.expire_snapshots(t, keep_from=2)
    got = tl.read_table(spark, t, key_range=(3, 5))
    assert _pairs(got) == [(3, 103), (4, 104), (5, 105)]
    # OPTIMIZE still range-partitions on the stats column and records it
    v = tl.optimize_table(spark, t, target_files=2)["version"]
    commit = tl._load_commit(t, v)
    assert commit["stats_col"] == "a" and len(commit["stats"]) == 2

    b = str(tmp_path / "b")
    for lo in (0, 10, 20):
        tl.append_with_bloom(_ab(spark, lo, 10, 100 + lo), b, bloom_col="b")
    tl.expire_snapshots(b, keep_from=2)
    df, scanned, total = tl.read_table_point_lookup(spark, b, [103])
    assert (scanned, total) == (1, 3)
    assert _pairs(df) == [(3, 103)]


def test_untagged_checkpoint_ranges_never_prune(spark, tmp_path):
    """A checkpoint written before it carried the ``stats_col`` tag
    holds ``stats`` without naming their column: they are kept out of
    the planner, so the files they cover are always scanned."""
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")  # v0
    tl.append(_ab(spark, 10, 10, 200), t, stats_col="a")  # v1
    v = tl.write_checkpoint(t)
    path = tl._checkpoint_path(t, v)
    with open(path) as fh:
        body = json.load(fh)
    body["stats"] = body.pop("col_stats")["a"]  # the untagged layout
    del body["stats_col"]
    with open(path, "w") as fh:
        json.dump(body, fh)
    tl._COMMIT_CACHE.clear()
    tl.expire_snapshots(t, keep_from=v)  # keeps the rewritten checkpoint
    with pytest.raises(ValueError, match="no stats_col"):
        tl.read_table(spark, t, key_range=(3, 5))
    assert tl._snapshot(t).ranges == {}
    tl.append(_ab(spark, 20, 10, 300), t, stats_col="a")  # v2
    # v0 and v1's files have no usable range: kept, never guessed
    assert len(tl.files_overlapping(t, {"a": (20, 29)})) == 3
    got = tl.read_table(spark, t, key_range=(3, 5))
    assert _pairs(got) == [(3, 103), (4, 104), (5, 105)]


# ------------------------------------------------ op-sequence equivalence

KEYS = ("k", "b")  # unique keys: b = k + 1000 on every row


def _rows(spark, lo, n, names, v):
    return spark.range(lo, lo + n).select(
        F.col("id").alias(names["k"]),
        (F.col("id") + 1000).alias(names["b"]),
        F.lit(v).cast("long").alias(names["v"]),
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _run(spark, t, ops):
    """Apply ``ops``; returns {version: (names, stats column, bloom
    column)} of the versions they committed, as the ops declared them."""
    names = {c: c for c in ("k", "b", "v")}
    stats_col = bloom_col = None
    at: dict[int, tuple] = {}
    fresh = 0  # next unused key
    for op in ops:
        kind = op[0]
        if kind == "append":
            _, n, stats, bloom = op
            sc = names[stats] if stats else None
            df = _rows(spark, fresh, n, names, fresh % 5)
            fresh += n
            if bloom:
                tl.append_with_bloom(df, t, bloom_col=names["b"], stats_col=sc)
                bloom_col = names["b"]
            else:
                tl.append(df, t, stats_col=sc)
            stats_col = sc or stats_col
        elif kind == "merge":
            _, key, lo, n = op
            tl.merge_upsert(spark, t, _rows(spark, lo, n, names, 7), names[key])
            stats_col = names[key]
            fresh = max(fresh, lo + n)
            whole = tl.read_table(spark, t)
            for c in KEYS:  # each key once
                assert whole.select(names[c]).distinct().count() == whole.count()
        elif kind == "delete":
            try:
                tl.delete_where(spark, t, F.col(names["v"]) == op[1])
            except ValueError as exc:
                assert "matched no rows" in str(exc)
        elif kind == "optimize":
            tl.optimize_table(spark, t, target_files=op[1])
        elif kind == "rename":
            old = names[op[1]]
            names[op[1]] = old + "x"
            tl.rename_column(t, old, names[op[1]])
            stats_col = names[op[1]] if stats_col == old else stats_col
        elif kind == "checkpoint":
            tl.write_checkpoint(t)
        elif kind == "expire":
            tl.expire_snapshots(t, keep_from=tl.latest_version(t))
        at[tl.latest_version(t)] = (dict(names), stats_col, bloom_col)
    return at


def _check(spark, t, v, declared, renamed, lo, hi, probes):
    names, stats_col, bloom_col = declared
    k, b = names["k"], names["b"]
    full = tl.read_table(spark, t, as_of=v)

    def exact(cond):
        return _sorted(full.filter(cond))

    box = {k: (lo, hi), b: (lo + 1000, hi + 1010)}
    assert _sorted(tl.read_table_box(spark, t, box, as_of=v)) == exact(
        F.col(k).between(lo, hi) & F.col(b).between(lo + 1000, hi + 1010)
    )
    if stats_col is None:
        with pytest.raises(ValueError, match="no stats_col"):
            tl.read_table(spark, t, as_of=v, key_range=(lo, hi))
    else:
        got = tl.read_table(spark, t, as_of=v, key_range=(lo, hi))
        assert _sorted(got) == exact(F.col(stats_col).between(lo, hi))
    if bloom_col is not None and not renamed:  # lookups refuse mapped tables
        df, _scanned, _total = tl.read_table_point_lookup(spark, t, probes, as_of=v)
        assert _sorted(df) == exact(F.col(bloom_col).isin(probes))
    ds = spark.read.format("tablelog").option("path", t).option("as_of", v).load()
    in_probes = f"{b} IN ({', '.join(map(str, probes))})"
    for where in (f"{k} BETWEEN {lo} AND {hi}", f"{k} >= {lo} AND {in_probes}"):
        assert _sorted(ds.where(where)) == _sorted(full.where(where))


def test_pruned_reads_equal_full_read_plus_exact_filter(spark, tmp_path):
    """Over op sequences mixing appends with and without stats_col or
    bloom, delete_where, optimize_table, rename_column,
    write_checkpoint and expire_snapshots, every pruned read — the
    library's key_range, box and point lookup, and the DataSource's
    pushed filters — equals read_table plus the exact filter, at the
    head and at an earlier version; after each merge_upsert every key
    is there once. The examples are fixed (derandomized) and capped to
    keep the run near a minute."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    register(spark)
    append = st.tuples(
        st.just("append"),
        st.integers(1, 12),
        st.sampled_from([None, "k", "b"]),
        st.booleans(),
    )
    op = st.one_of(
        append,
        st.tuples(st.just("merge"), st.sampled_from(KEYS), st.integers(0, 30), st.integers(1, 8)),
        st.tuples(st.just("delete"), st.integers(0, 4)),
        st.tuples(st.just("optimize"), st.integers(1, 3)),
        st.tuples(st.just("rename"), st.sampled_from(["k", "b", "v"])),
        st.just(("checkpoint",)),
        st.just(("expire",)),
    )
    runs = iter(range(1000))

    @settings(
        max_examples=4,
        deadline=None,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        first=append,
        ops=st.lists(op, min_size=2, max_size=6),
        lo=st.integers(0, 30),
        width=st.integers(0, 10),
        probes=st.lists(st.integers(1000, 1040), min_size=1, max_size=3),
    )
    @example(
        first=("append", 10, "k", True),
        ops=[
            ("delete", 2),
            ("rename", "k"),
            ("checkpoint",),
            ("append", 6, "b", False),
            ("merge", "b", 4, 6),
            ("optimize", 2),
        ],
        lo=3,
        width=6,
        probes=[1002, 1009, 1013],
    )
    @example(
        first=("append", 8, None, False),
        ops=[
            ("append", 6, "b", True),
            ("delete", 0),
            ("rename", "v"),
            ("checkpoint",),
            ("expire",),
            ("append", 5, "k", False),
        ],
        lo=5,
        width=5,
        probes=[1001, 1012],
    )
    def run(first, ops, lo, width, probes):
        t = str(tmp_path / f"t{next(runs)}")
        at = _run(spark, t, [first] + ops)
        renamed = any(o[0] == "rename" for o in ops)
        mid = max(min(tl._versions(t)), min(at) + len(at) // 2)
        for v in sorted({max(at), mid}):
            declared = at[max(u for u in at if u <= v)]
            _check(spark, t, v, declared, renamed, lo, lo + width, probes)

    run()


def test_read_with_every_file_pruned_and_bloom_after_rename(spark, tmp_path):
    """A DataSource read whose filters prune every file plans Spark's
    single ``None`` partition and returns no rows; a bloom append after
    a rename hashes the column under its physical name."""
    register(spark)
    t = str(tmp_path / "t")
    tl.append(_ab(spark, 0, 10, 100), t, stats_col="a")
    ds = spark.read.format("tablelog").option("path", t).load()
    assert ds.where("a > 100").count() == 0
    tl.rename_column(t, "b", "bb")
    renamed = _ab(spark, 10, 10, 200).withColumnRenamed("b", "bb")
    tl.append_with_bloom(renamed, t, bloom_col="bb")
    got = spark.read.format("tablelog").option("path", t).load().where("bb IN (203)")
    assert [tuple(r) for r in got.collect()] == [(13, 203)]
