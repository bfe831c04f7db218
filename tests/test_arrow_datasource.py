"""The custom Python DataSources transfer Arrow RecordBatches, not
per-row tuples (sources/arrowio.py): pins (a) the reader read() output
TYPE for all three connectors — the vectorized path is load-bearing
for 100 TB scans and a silent fallback to tuple yields would be a
10-100× regression Catalyst can't see — and (b) value equivalence
with the library read path under deletion vectors + column mapping,
plus the stream reader's admission control and per-range name
resolution."""

from __future__ import annotations

import gzip
import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from trace_parquet_spark.sources.pydatasource import GzJsonlReader
from trace_parquet_spark.sources.tablelog import (
    append,
    delete_where,
    read_table,
    rename_column,
)
from trace_parquet_spark.sources.tablelog_source import (
    TableLogBatchReader,
    TableLogPartitionedStreamReader,
)
from trace_parquet_spark.sources import tablelog_source
from trace_parquet_spark.sources.warc import WarcReader, write_warc


def _batches(reader, partition):
    out = list(reader.read(partition))
    assert out, "reader yielded nothing"
    for b in out:
        assert isinstance(b, pa.RecordBatch), type(b)
    return pa.Table.from_batches(out)


def _stream_rows(reader, start, end):
    """The rows of the micro-batch (start, end], read as tuples through
    the partitions the stream reader plans for it."""
    return [
        tuple(row.values())
        for p in reader.partitions(start, end)
        for b in reader.read(p)
        for row in b.to_pylist()
    ]


def test_gzjsonl_reader_yields_record_batches(tmp_path):
    d = str(tmp_path)
    with gzip.open(os.path.join(d, "s0.jsonl.gz"), "wt") as fh:
        for i in range(5):
            fh.write(
                json.dumps(
                    {"trace_id": i, "param_index": i % 2, "payload": f"p{i}"}
                )
                + "\n"
            )
    r = GzJsonlReader({"path": d})
    [part] = r.partitions()
    tb = _batches(r, part)
    assert tb.column("trace_id").to_pylist() == [0, 1, 2, 3, 4]
    assert tb.schema.field("trace_id").type == pa.int64()
    assert tb.schema.field("param_index").type == pa.int32()
    # pushdown applies inside the batch build
    r2 = GzJsonlReader({"path": d})
    list(r2.pushFilters([]))
    r2.allowed_params = {1}
    tb2 = _batches(r2, part)
    assert tb2.column("trace_id").to_pylist() == [1, 3]


def test_warc_reader_yields_record_batches(tmp_path):
    path = str(tmp_path / "a.warc.gz")
    write_warc(
        path,
        [
            {
                "record_id": f"<urn:{i}>",
                "warc_type": "response" if i % 2 == 0 else "request",
                "target_uri": f"http://x/{i}",
                "warc_date": "2024-01-01T00:00:00Z",
                "payload": "x" * (i + 1),
            }
            for i in range(6)
        ],
    )
    r = WarcReader({"path": str(tmp_path)})
    [part] = r.partitions()
    tb = _batches(r, part)
    assert tb.num_rows == 6
    assert tb.schema.field("content_length").type == pa.int64()
    r2 = WarcReader({"path": str(tmp_path)})
    r2.allowed_types = {"response"}
    tb2 = _batches(r2, part)
    assert tb2.column("warc_type").to_pylist() == ["response"] * 3


def test_tablelog_reader_batches_match_library_under_dv_and_mapping(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    append(
        spark.range(10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ),
        t,
    )
    delete_where(spark, t, F.col("id") % 3 == 0)
    rename_column(t, "v", "doubled")
    reader = TableLogBatchReader({"path": t})
    parts = reader.partitions()
    batches = [b for p in parts for b in reader.read(p)]
    assert batches
    for b in batches:
        assert isinstance(b, pa.RecordBatch)
    tb = pa.Table.from_batches(batches)
    got = sorted(
        zip(tb.column("id").to_pylist(), tb.column("doubled").to_pylist())
    )
    want = sorted(
        (r.id, r.doubled) for r in read_table(spark, t).collect()
    )
    assert got == want
    assert all(i % 3 != 0 for i, _ in got)  # dv-deleted rows stay dead
    # dv positions were resolved at PLAN time and attached per
    # partition (each task ships only its own file's mask; the reader
    # object itself carries no table-wide dict)
    assert not hasattr(reader, "_dead")
    assert any(p.dead for p in parts)


def test_tablelog_datasource_end_to_end_column_mapping(spark, tmp_path):
    t = str(tmp_path / "t")
    append(
        spark.range(8).select(F.col("id"), (F.col("id") + 100).alias("v")),
        t,
    )
    rename_column(t, "v", "shifted")
    tablelog_source.register(spark)
    df = spark.read.format("tablelog").option("path", t).load()
    assert df.columns == ["id", "shifted"]
    assert sorted(r.shifted for r in df.collect()) == list(range(100, 108))


def test_stream_admission_control_max_commits(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in (0, 10, 20):
        append(spark.range(lo, lo + 10), t)
    r = TableLogPartitionedStreamReader(
        {"path": t, "max_commits_per_trigger": "1"}
    )
    start = r.initialOffset()
    off0 = r.latestOffset()
    assert off0 == {"version": 0}
    assert sorted(row[0] for row in _stream_rows(r, start, off0)) == list(
        range(10)
    )
    off1 = r.latestOffset()
    assert off1 == {"version": 1}
    assert sorted(row[0] for row in _stream_rows(r, off0, off1)) == list(
        range(10, 20)
    )
    off2 = r.latestOffset()
    assert off2 == {"version": 2}
    assert sorted(row[0] for row in _stream_rows(r, off1, off2)) == list(
        range(20, 30)
    )
    # caught up: offset stops advancing, nothing re-delivered
    off3 = r.latestOffset()
    assert off3 == {"version": 2} and _stream_rows(r, off2, off3) == []
    # without the cap, one batch covers the whole backlog
    r2 = TableLogPartitionedStreamReader({"path": t})
    start = r2.initialOffset()
    off = r2.latestOffset()
    assert off == {"version": 2} and len(_stream_rows(r2, start, off)) == 30
    # a cap below one is refused when the reader is built
    for opt in ("max_commits_per_trigger", "max_files_per_trigger"):
        with pytest.raises(ValueError, match=f"{opt} must be >= 1"):
            TableLogPartitionedStreamReader({"path": t, opt: "0"})


def test_batch_reader_pushdown_prunes_partitions_from_log_stats(
    spark, tmp_path
):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

    t = str(tmp_path / "t")
    # three disjoint key ranges, clustered so each file's [min,max]
    # is tight, with stats recorded in the commits
    for lo in (0, 100, 200):
        append(
            spark.range(lo, lo + 50)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1),
            t,
            stats_col="k",
        )
    r0 = TableLogBatchReader({"path": t})
    n_all = len(r0.partitions())
    assert n_all == 3

    r1 = TableLogBatchReader({"path": t})
    back = list(r1.pushFilters([EqualTo(("k",), 120)]))
    assert len(back) == 1  # every filter handed back for re-apply
    parts = r1.partitions()
    assert len(parts) == 1
    vals = [
        v
        for p in parts
        for b in r1.read(p)
        for v in b.column(b.schema.names.index("k")).to_pylist()
    ]
    assert 120 in vals and min(vals) == 100 and max(vals) == 149

    r2 = TableLogBatchReader({"path": t})
    list(r2.pushFilters([GreaterThanOrEqual(("k",), 90), LessThan(("k",), 210)]))
    assert len(r2.partitions()) == 2

    r3 = TableLogBatchReader({"path": t})
    list(r3.pushFilters([In(("k",), (5, 7))]))
    assert len(r3.partitions()) == 1

    # predicate on an UNSTATED column: no pruning, still correct
    r4 = TableLogBatchReader({"path": t})
    list(r4.pushFilters([EqualTo(("v",), 10)]))
    assert len(r4.partitions()) == 3

    # end-to-end through Catalyst with the opt-in: values match the
    # unfiltered scan's subset
    tablelog_source.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("tablelog")
        .option("path", t)
        .load()
        .filter((F.col("k") >= 100) & (F.col("k") < 130))
    )
    assert sorted(row.k for row in df.collect()) == list(range(100, 130))


def test_partitioned_stream_reader_plans_files_and_yields_batches(
    spark, tmp_path
):
    from trace_parquet_spark.sources.tablelog_source import (
        TableLogPartitionedStreamReader,
    )

    t = str(tmp_path / "t")
    append(spark.range(0, 6).select(F.col("id").alias("k")), t)
    append(spark.range(6, 10).select(F.col("id").alias("k")), t)
    r = TableLogPartitionedStreamReader({"path": t})
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}
    parts = r.partitions({"version": -1}, {"version": 1})
    assert parts
    batches = [b for p in parts for b in r.read(p)]
    for b in batches:
        assert isinstance(b, pa.RecordBatch)
    got = sorted(
        v for b in batches for v in b.column(b.schema.names.index("k")).to_pylist()
    )
    assert got == list(range(10))
    # metadata-only range -> one sentinel partition, zero rows
    rename_column(t, "k", "kk")
    sp = r.partitions({"version": 1}, {"version": 2})
    assert len(sp) == 1 and list(r.read(sp[0])) == []


def test_partitioned_stream_admission_control_latest_offset(
    spark, tmp_path
):
    from trace_parquet_spark.sources.tablelog_source import (
        TableLogPartitionedStreamReader,
    )

    t = str(tmp_path / "t")
    for lo in (0, 10, 20):
        append(spark.range(lo, lo + 10), t)
    r = TableLogPartitionedStreamReader(
        {"path": t, "max_commits_per_trigger": "1"}
    )
    r.initialOffset()  # fresh query -> capping from -1 is safe
    # the base advances ONLY when a batch is actually planned
    # (partitions()), never by merely calling latestOffset — engines
    # may call it several times per batch (AvailableNow planning)
    assert r.latestOffset() == {"version": 0}
    assert r.latestOffset() == {"version": 0}
    r.partitions({"version": -1}, {"version": 0})
    assert r.latestOffset() == {"version": 1}
    r.partitions({"version": 0}, {"version": 1})
    assert r.latestOffset() == {"version": 2}
    r.partitions({"version": 1}, {"version": 2})
    assert r.latestOffset() == {"version": 2}  # caught up, stable
    # RESTARTED reader (no initialOffset): first answer must be the
    # true latest, never below an unknown checkpointed start
    r2 = TableLogPartitionedStreamReader(
        {"path": t, "max_commits_per_trigger": "1"}
    )
    assert r2.latestOffset() == {"version": 2}


def test_stream_end_to_end_through_partitioned_reader(spark, tmp_path):
    """readStream.format('tablelog') now routes through the
    executor-parallel Arrow reader (streamReader precedence); the
    exactly-once tail contract must hold across triggers."""
    from trace_parquet_spark.sources import tablelog_source

    tablelog_source.register(spark)
    t = str(tmp_path / "t")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    append(spark.range(0, 4).select(F.col("id").alias("k")), t)
    append(spark.range(4, 9).select(F.col("id").alias("k")), t)

    def run():
        q = (
            spark.readStream.format("tablelog")
            .option("path", t)
            .option("max_commits_per_trigger", "1")
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
    assert got == list(range(9))
    append(spark.range(9, 12).select(F.col("id").alias("k")), t)
    run()
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(12))


def test_stream_replay_resolves_names_as_of_range_end(spark, tmp_path):
    t = str(tmp_path / "t")
    append(spark.range(5).select(F.col("id"), (F.col("id") * 3).alias("v")), t)
    r = TableLogPartitionedStreamReader({"path": t})
    start = r.initialOffset()
    off = r.latestOffset()
    _stream_rows(r, start, off)
    # a rename lands AFTER the batch was planned; deterministic replay
    # of (start=-1, end=0] must still read the files under the names
    # visible at version 0, not today's
    rename_column(t, "v", "tripled")
    rows = sorted(_stream_rows(r, {"version": -1}, off))
    assert rows == [(i, i * 3) for i in range(5)]
