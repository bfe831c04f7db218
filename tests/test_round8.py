"""Round-8 additions: iterative BPE training replay pin."""

from __future__ import annotations

import collections
import os

import duckdb

from tests.conftest import SF_DIR


def _python_bpe_train(word_freqs: dict[str, int], rounds: int):
    """Reference BPE trainer (Sennrich et al. 2016), dict-based: count
    adjacent symbol pairs weighted by word frequency, merge the most
    frequent (ties → smallest pair), re-segment, repeat. Symbols are
    single code points; merges rewrite to private-use sentinels so the
    greedy left-to-right ``str.replace`` matches the engine exactly."""
    base = 0xE000
    vocab = dict(word_freqs)
    expansions: list[str] = []
    merges: list[tuple[int, str, int]] = []
    for r in range(rounds):
        counts: collections.Counter[str] = collections.Counter()
        for s, f in vocab.items():
            for i in range(len(s) - 1):
                counts[s[i : i + 2]] += f
        if not counts:
            break
        best, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expanded = "".join(
            expansions[ord(c) - base] if ord(c) >= base else c for c in best
        )
        expansions.append(expanded)
        merges.append((r + 1, expanded, int(n)))
        sent = chr(base + r)
        nxt: dict[str, int] = {}
        for s, f in vocab.items():
            ns = s.replace(best, sent)
            nxt[ns] = nxt.get(ns, 0) + f
        vocab = nxt
    return merges


def test_bpe_train_merges_matches_python_replay(spark, sf_dir):
    from trace_parquet_spark.operators.packing import (
        N_TRAIN_ROUNDS,
        bpe_train_merges,
    )

    con = duckdb.connect()
    wf = con.execute(
        f"""
        WITH words AS (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM read_parquet('{SF_DIR}/documents.parquet')
        )
        SELECT w, count(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w
        """
    ).fetchall()
    expected = _python_bpe_train({w: f for w, f in wf}, N_TRAIN_ROUNDS)

    got = [
        (r["rank"], r["pair"], r["n"])
        for r in bpe_train_merges(spark, sf_dir).collect()
    ]
    assert got == expected
    # iteration is doing real work: later merges must build on earlier
    # merged symbols (an expansion longer than 2 chars is impossible
    # for the one-shot pair counter)
    assert any(len(p) > 2 for _, p, _ in got), got


def test_zorder_optimize_prunes_box_queries(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER must make 2-key box pruning effective: the
    hash-scattered seed layout overlaps every file, the z-clustered
    rewrite overlaps strictly fewer — and content is untouched."""
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources.registry import load_table
    from trace_parquet_spark.sources import tablelog as tl

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 1)
        .select("l_orderkey", "l_partkey",
                F.col("l_quantity").cast("long").alias("qty"))
    )
    t = str(tmp_path / "ztab")
    tl.append(li.repartition(16, "l_partkey"), t, stats_col="l_orderkey")
    b = li.agg(
        F.min("l_orderkey").alias("olo"), F.max("l_orderkey").alias("ohi"),
        F.min("l_partkey").alias("plo"), F.max("l_partkey").alias("phi"),
    ).collect()[0]
    preds = {
        "l_orderkey": (b.olo + (b.ohi - b.olo) // 4,
                       b.olo + (b.ohi - b.olo) // 2),
        "l_partkey": (b.plo + (b.phi - b.plo) // 4,
                      b.plo + (b.phi - b.plo) // 2),
    }
    pre_files = tl.files_overlapping(t, preds)
    pre = tl.read_table_box(spark, t, preds).orderBy(
        "l_orderkey", "l_partkey", "qty"
    ).collect()

    res = tl.optimize_table_zorder(spark, t, 16, ("l_orderkey", "l_partkey"))
    assert res["files_before"] == 16

    post_files = tl.files_overlapping(t, preds)
    post = tl.read_table_box(spark, t, preds).orderBy(
        "l_orderkey", "l_partkey", "qty"
    ).collect()

    # identical reads pre/post — layout changed, content did not
    assert post == pre and len(pre) > 0
    # hash scatter ⇒ every file overlaps the box; zorder ⇒ strictly
    # fewer stats-overlapping files for the same 2-key predicate
    assert len(pre_files) == 16
    assert len(post_files) < len(pre_files), (pre_files, post_files)
    # the zorder commit recorded per-file ranges for BOTH keys
    cs = tl._snapshot(t).ranges
    assert set(cs) == {"l_orderkey", "l_partkey"}
    live = tl._snapshot(t).files
    assert all(f in cs["l_orderkey"] and f in cs["l_partkey"] for f in live)
    # plain full read agrees with the exact-filter path (pruning is
    # never a correctness dependency)
    full = (
        tl.read_table(spark, t)
        .filter(F.col("l_orderkey").between(*preds["l_orderkey"]))
        .filter(F.col("l_partkey").between(*preds["l_partkey"]))
        .orderBy("l_orderkey", "l_partkey", "qty")
        .collect()
    )
    assert full == post
    # col_stats survive checkpointing (expire keeps box pruning alive)
    tl.write_checkpoint(t)
    assert set(tl._snapshot(t).ranges) == {"l_orderkey", "l_partkey"}


def test_release_caches_spares_foreign_checkpoints(spark):
    """The round-7 ADVICE medium: release_caches() used to blanket-
    unpersist EVERY persistent RDD, including localCheckpoint RDDs it
    did not create — after which the checkpointed plan could never
    recompute (lineage truncated) and a later collect failed with
    block-not-found. Now the sweep targets only ids registered by
    tracked_local_checkpoint: a CALLER-owned checkpoint must survive
    the sweep and stay collectible."""
    from pyspark.sql import functions as F

    from trace_parquet_spark.session import (
        release_caches,
        tracked_local_checkpoint,
    )

    foreign = spark.range(1000).withColumn(
        "v", F.col("id") * 2
    ).localCheckpoint(eager=True)  # caller-owned, NOT tracked

    ours = tracked_local_checkpoint(spark.range(500))
    assert ours.count() == 500

    released = release_caches()
    assert released >= 1  # swept at least the tracked checkpoint

    # the foreign checkpoint is untouched: still collectible (an
    # unpersisted checkpoint RDD would raise block-not-found here)
    assert foreign.agg(F.sum("v")).collect()[0][0] == 999 * 1000
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(list(jmap.keys())) >= 1  # foreign RDD still persistent
    foreign.unpersist()


def test_restore_resets_deletion_vectors(spark, tmp_path):
    """RESTORE must reset dv state to the target version exactly:
    rows deleted AFTER v are resurrected (dv_clear on kept files),
    rows deleted BEFORE v stay deleted (v's mappings re-declared),
    and the restore itself remains time-travelable history."""
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog as tl

    t = str(tmp_path / "rtab")
    df = (
        spark.range(100)
        .repartitionByRange(4, "id")  # the two deletes hit DIFFERENT files
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    )
    tl.append(df, t)  # v0: 100 rows
    tl.delete_where(spark, t, "k < 10")  # v1: 90 live
    assert tl.read_table(spark, t).count() == 90
    tl.delete_where(spark, t, "k >= 90")  # v2: 80 live
    assert tl.read_table(spark, t).count() == 80

    res = tl.restore_table(t, 1)  # roll back the second delete
    # the k>=90 file gained its dv AFTER v1 → cleared outright; the
    # k<10 file's mapping is re-declared at v1's sidecar
    assert res["dvs_cleared"] == 1
    got = tl.read_table(spark, t)
    assert got.count() == 90
    ks = {r.k for r in got.select("k").collect()}
    assert min(ks) == 10 and max(ks) == 99  # first delete kept, second undone

    # the rolled-back state is still travelable
    assert tl.read_table(spark, t, as_of=2).count() == 80

    # restore to v0 resurrects everything — the kept file's dv must
    # be cleared outright (no mapping existed at v0)
    res0 = tl.restore_table(t, 0)
    assert res0["dvs_cleared"] == 1
    assert tl.read_table(spark, t).count() == 100


def test_shallow_clone_isolated_lifecycle(spark, sf_dir, tmp_path):
    """Clone lifecycle beyond the gated entry: clone-side OPTIMIZE
    folds the absolute source references into clone-owned files (and
    applies the clone's dvs), source vacuum/expire never reap files
    the SOURCE still references, and the clone read stays correct
    throughout."""
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog as tl

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = (
        spark.range(200)
        .repartitionByRange(4, "id")
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    )
    tl.append(df, src)
    tl.delete_where(spark, src, "k < 20")  # src dv BEFORE the clone
    tl.shallow_clone(src, dst)
    assert tl.read_table(spark, dst).count() == 180  # dv carried

    # clone-side delete — source must not move
    tl.delete_where(spark, dst, "k >= 150")
    assert tl.read_table(spark, dst).count() == 130
    assert tl.read_table(spark, src).count() == 180

    # OPTIMIZE the clone: absolute refs fold into clone-owned files
    res = tl.optimize_table(spark, dst, 2)
    live = tl._snapshot(dst).files
    assert res["files_after"] == len(live)
    assert all(not os.path.isabs(f) for f in live)  # clone owns its data now
    assert tl.read_table(spark, dst).count() == 130
    assert tl._snapshot(dst).dv == {}  # dvs folded away by the rewrite

    # source untouched by any of it
    assert tl.read_table(spark, src).count() == 180
    # source vacuum reaps nothing the source references
    assert tl.vacuum(src) == []
    assert tl.read_table(spark, src).count() == 180


def test_append_stream_auto_compaction_bounds_files(spark, tmp_path):
    """Auto compaction keeps an unbounded append stream's live file
    count bounded while preserving exactly-once content and history:
    8 single-file micro-batches with a 4-file threshold must end well
    under 8 live files, contain every input row exactly once, and
    keep every version time-travelable."""
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog as tl

    src = str(tmp_path / "src")
    table = str(tmp_path / "tab")
    ckpt = str(tmp_path / "ckpt")
    schema = "k bigint, v bigint"
    total = 0
    for b in range(8):
        spark.range(b * 10, b * 10 + 10).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
        total += 10

    q = tl.run_append_stream(
        spark,
        src,
        schema,
        table,
        ckpt,
        auto_compact_files=4,
        compact_target=2,
    )
    q.processAllAvailable()
    q.stop()

    live = tl._snapshot(table).files
    assert len(live) <= 4, live  # bounded despite 8 appended batches
    got = tl.read_table(spark, table)
    assert got.count() == total
    assert got.select("k").distinct().count() == total  # exactly once
    # compaction commits interleave with appends — every version
    # (append or optimize) stays readable
    for v in range(tl.latest_version(table) + 1):
        assert tl.read_table(spark, table, as_of=v).count() <= total
    # idle-trigger path: threshold not exceeded → no-op
    assert tl.maybe_auto_compact(spark, table, 64, 2) is None


def test_reader_feature_protocol_gates_unknown_features(spark, tmp_path):
    """Delta-style table-features protocol: a log stamped with a
    reader feature this engine doesn't implement must REFUSE to
    replay (silently ignoring unknown semantics is how old readers
    resurrect dv-deleted rows); known features pass; the feature set
    survives checkpoint + expiration."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog as tl

    t = str(tmp_path / "ftab")
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tl.append(df, t)
    tl.delete_where(spark, t, "k < 5")  # stamps deletion_vectors
    assert tl.read_table(spark, t).count() == 45  # known feature: fine

    # feature set survives checkpointing
    tl.write_checkpoint(t)
    cp = tl._checkpoint_path(t, tl.latest_version(t))
    body = json.load(open(cp))
    assert body["reader_features"] == ["deletion_vectors"]

    # an unknown future feature refuses loudly instead of misreading
    v = tl.latest_version(t) + 1
    tl._commit(t, v, {
        "add": [], "remove": [],
        "schema": "", "rows": {},
        "reader_features": ["future_magic_v9"],
    })
    with pytest.raises(tl.UnsupportedTableFeatureError, match="future_magic_v9"):
        tl.read_table(spark, t)
    # time travel BELOW the stamping commit still works
    assert tl.read_table(spark, t, as_of=v - 1).count() == 45


def test_tablelog_datasource_applies_deletion_vectors(spark, tmp_path):
    """The Catalyst-facing DataSource must hide merge-on-read deletes
    exactly like the library reader — before round 8 it read raw
    files and resurrected every dv-deleted row. The streaming source
    must instead FAIL on a dv commit (rows already delivered changed)
    unless ignore_deletes acknowledges it."""
    import pytest
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog as tl
    from trace_parquet_spark.sources import tablelog_source as tls

    tls.register(spark)
    t = str(tmp_path / "dvtab")
    df = (
        spark.range(100)
        .repartitionByRange(4, "id")
        .select(F.col("id").alias("k"), (F.col("id") * 5).alias("v"))
    )
    tl.append(df, t)
    tl.delete_where(spark, t, "k % 10 = 0")  # 10 rows gone

    lib = tl.read_table(spark, t)
    ds = spark.read.format("tablelog").option("path", t).load()
    assert ds.count() == lib.count() == 90
    assert {r.k for r in ds.collect()} == {r.k for r in lib.collect()}
    # time travel pre-delete still shows everything
    ds0 = (
        spark.read.format("tablelog")
        .option("path", t)
        .option("as_of", "0")
        .load()
    )
    assert ds0.count() == 100

    # streaming: the dv commit is a change to delivered rows → loud
    q = (
        spark.readStream.format("tablelog")
        .option("path", t)
        .load()
        .writeStream.format("memory")
        .queryName("dv_stream_sink")
        .outputMode("append")
        .start()
    )
    with pytest.raises(Exception, match="deletion vectors"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
