"""Round-9 hardening pins: zorder preconditions, restore commit
self-description, commit-JSON cache safety, and the coverage-diff
gate in tools/check_oracle.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from trace_parquet_spark.sources.tablelog import (
    _COMMIT_CACHE,
    _load_commit,
    _log_dir,
    _snapshot,
    append,
    latest_version,
    optimize_table_zorder,
    read_table,
    rename_column,
    restore_table,
)


def test_zorder_rejects_non_integral_key(spark, tmp_path):
    t = str(tmp_path / "t")
    append(
        spark.range(10).select(
            "id",
            (F.col("id") * 1.5).alias("price"),
            (F.col("id") % 3).alias("k"),
        ),
        t,
    )
    with pytest.raises(ValueError, match="integral type"):
        optimize_table_zorder(spark, t, 2, ("id", "price"))
    with pytest.raises(ValueError, match="not in table schema"):
        optimize_table_zorder(spark, t, 2, ("id", "nope"))


def test_zorder_rejects_null_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    append(
        spark.range(10).select(
            "id",
            F.when(F.col("id") % 4 == 0, None)
            .otherwise(F.col("id") % 7)
            .cast("long")
            .alias("k"),
        ),
        t,
    )
    with pytest.raises(ValueError, match="non-null"):
        optimize_table_zorder(spark, t, 2, ("id", "k"))


def test_zorder_still_clusters_valid_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    append(
        spark.range(100).select(
            "id", (F.col("id") * 37 % 100).alias("k")
        ),
        t,
    )
    res = optimize_table_zorder(spark, t, 4, ("id", "k"))
    assert res["files_after"] == 4
    got = sorted(r.id for r in read_table(spark, t).collect())
    assert got == list(range(100))


def test_restore_commit_is_self_describing_for_column_mapping(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    append(spark.range(5).select("id", (F.col("id") + 1).alias("v")), t)
    rename_column(t, "v", "w")
    append(spark.range(5, 8).select("id", (F.col("id") + 1).alias("w")), t)
    restore_table(t, 1)  # restore to the post-rename, pre-append state
    rv = latest_version(t)
    commit = _load_commit(t, rv)
    # the restore carries a non-empty col_mapping, so it must stamp
    # the reader feature itself — not rely on the rename commit or a
    # checkpoint surviving expiry
    assert commit["col_mapping"]
    assert "column_mapping" in commit.get("reader_features", [])
    assert _snapshot(t).col_mapping == {"id": "id", "w": "v"}


def test_commit_cache_never_serves_stale_content(spark, tmp_path):
    t = str(tmp_path / "t")
    append(spark.range(3), t)
    c0 = _load_commit(t, 0)
    assert _load_commit(t, 0) is c0  # cache hit
    # same path recycled with different bytes (the tmpdir-reuse
    # hazard): the (path, mtime_ns, size) key must miss
    path = os.path.join(_log_dir(t), f"{0:020d}.json")
    body = dict(c0)
    body["marker"] = "rewritten"
    os.remove(path)
    with open(path, "w") as fh:
        json.dump(body, fh)
    assert _load_commit(t, 0).get("marker") == "rewritten"
    assert isinstance(_COMMIT_CACHE, dict)


def test_check_constraints_enforced_on_all_write_paths(spark, tmp_path):
    from trace_parquet_spark.sources.tablelog import (
        ConstraintViolationError,
        add_check_constraint,
        drop_check_constraint,
        merge_upsert,
        overwrite,
    )

    t = str(tmp_path / "t")
    append(spark.range(5).select("id", (F.col("id") * 10).alias("v")), t)
    add_check_constraint(spark, t, "v_nonneg", "v >= 0")
    # clean append passes; dirty append rejected with NO commit and
    # NO orphan-visible rows
    append(spark.range(5, 7).select("id", (F.col("id") * 10).alias("v")), t)
    lv = latest_version(t)
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        append(spark.range(7, 9).select("id", F.lit(-1).alias("v")), t)
    assert latest_version(t) == lv
    assert read_table(spark, t).count() == 7
    # merge enforcement: an upsert that writes a violating value dies
    with pytest.raises(ConstraintViolationError):
        merge_upsert(
            spark,
            t,
            spark.range(1).select("id", F.lit(-5).alias("v")),
            "id",
        )
    # overwrite enforcement
    with pytest.raises(ConstraintViolationError):
        overwrite(spark.range(2).select("id", F.lit(-1).alias("v")), t)
    assert read_table(spark, t).count() == 7
    # NULL satisfies CHECK (SQL semantics)
    append(
        spark.range(9, 10).select(
            "id", F.lit(None).cast("long").alias("v")
        ),
        t,
    )
    assert read_table(spark, t).count() == 8
    # drop -> violating write accepted again
    drop_check_constraint(t, "v_nonneg")
    assert _snapshot(t).constraints == {}
    append(spark.range(10, 11).select("id", F.lit(-1).alias("v")), t)
    assert read_table(spark, t).count() == 9


def test_check_constraint_survives_checkpoint_and_reverts_on_restore(
    spark, tmp_path
):
    from trace_parquet_spark.sources.tablelog import (
        ConstraintViolationError,
        add_check_constraint,
        expire_snapshots,
        restore_table,
        write_checkpoint,
    )

    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    add_check_constraint(spark, t, "pos", "v > 0")
    append(spark.range(3, 5).select("id", (F.col("id") + 1).alias("v")), t)
    # expire history below the checkpoint: enforcement must survive
    # via the checkpoint body, not the (expired) declaring commit
    write_checkpoint(t)
    expire_snapshots(t, latest_version(t))
    assert _snapshot(t).constraints == {"pos": "v > 0"}
    with pytest.raises(ConstraintViolationError):
        append(spark.range(1).select("id", F.lit(0).alias("v")), t)
    # restore BELOW the declaration resets the constraint map
    t2 = str(tmp_path / "t2")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t2)
    add_check_constraint(spark, t2, "pos", "v > 0")
    restore_table(t2, 0)
    assert _snapshot(t2).constraints == {}
    append(spark.range(1).select("id", F.lit(-9).alias("v")), t2)  # ok now


def test_append_rebases_after_losing_race_to_data_commit(
    spark, tmp_path, monkeypatch
):
    import trace_parquet_spark.sources.tablelog as tl

    t = str(tmp_path / "t")
    append(spark.range(3), t)  # v0
    real_lv = tl.latest_version
    state = {"n": 0}

    # stale on the SECOND call: append now reads latest_version twice
    # (a pre-staging metadata snapshot, then the commit-version read);
    # only a stale commit-version read exercises the rebase loop
    def stale_second(table):
        v = real_lv(table)
        state["n"] += 1
        if state["n"] == 2:
            return None if v == 0 else v - 1  # pretend head unseen
        return v

    monkeypatch.setattr(tl, "latest_version", stale_second)
    # first _commit attempt targets the already-taken version ->
    # EEXIST -> rebase onto the real head and succeed
    v = tl.append(spark.range(3, 6), t)
    assert v == 1
    assert sorted(r.id for r in read_table(spark, t).collect()) == list(
        range(6)
    )


def test_append_refuses_rebase_across_metadata_commit(
    spark, tmp_path, monkeypatch
):
    import trace_parquet_spark.sources.tablelog as tl
    from trace_parquet_spark.sources.tablelog import ConcurrentWriteError

    t = str(tmp_path / "t")
    append(spark.range(3).select("id", (F.col("id") + 1).alias("v")), t)
    rename_column(t, "v", "w")  # v1: metadata commit
    real_lv = tl.latest_version
    state = {"n": 0}

    def stale_second(table):
        v = real_lv(table)
        state["n"] += 1
        if state["n"] == 2:
            return v - 1  # race: the rename lands between read and commit
        return v

    monkeypatch.setattr(tl, "latest_version", stale_second)
    with pytest.raises(ConcurrentWriteError, match="col_mapping"):
        tl.append(
            spark.range(3, 5).select("id", (F.col("id") + 1).alias("w")), t
        )


def test_analyze_backfills_zone_maps_and_datasource_prunes(
    spark, tmp_path
):
    from trace_parquet_spark.sources.tablelog import (
        analyze_table,
        files_overlapping,
    )
    from trace_parquet_spark.sources.tablelog_source import (
        TableLogBatchReader,
    )
    from pyspark.sql.datasource import EqualTo

    t = str(tmp_path / "t")
    for lo in (0, 100, 200):  # disjoint ranges, NO stats declared
        append(
            spark.range(lo, lo + 50).select(F.col("id").alias("k")).coalesce(1),
            t,
        )
    # without stats nothing prunes
    assert len(files_overlapping(t, {"k": (110, 120)})) == 3
    res = analyze_table(t, ["k"])
    assert res["files_analyzed"] == 3
    assert len(files_overlapping(t, {"k": (110, 120)})) == 1
    # re-analyze is a no-op (already covered)
    assert analyze_table(t, ["k"])["files_analyzed"] == 0
    # the DataSource's pushFilters pruning now plans 1 partition
    r = TableLogBatchReader({"path": t})
    list(r.pushFilters([EqualTo(("k",), 115)]))
    assert len(r.partitions()) == 1
    # snapshot content unchanged
    assert read_table(spark, t).count() == 150


def test_verify_coverage_gate(tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "check_oracle.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    import __spark_entry__ as entry_mod

    names = list(entry_mod.queries())
    full = {
        n: {"values_match": True, "err": None} for n in names
    }
    ok = str(tmp_path / "ok.json")
    with open(ok, "w") as fh:
        json.dump(full, fh)
    assert mod.verify_coverage([ok]) == 0
    # drop one entry -> nonzero
    short = dict(full)
    short.pop(names[0])
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as fh:
        json.dump(short, fh)
    assert mod.verify_coverage([bad]) == 1
    # a red row -> nonzero
    red = dict(full)
    red[names[0]] = {"values_match": False, "err": None}
    redp = str(tmp_path / "red.json")
    with open(redp, "w") as fh:
        json.dump(red, fh)
    assert mod.verify_coverage([redp]) == 1
