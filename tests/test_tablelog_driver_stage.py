"""How ``tablelog._stage_files`` stages a write: rows that already live
on the driver (a local frame, maybe under projections, filters and
Python UDFs) are collected with ``toArrow()`` and written as one file
by pyarrow; everything else keeps Spark's Parquet job. Both must give
every read path the same rows. Also pins what ``vacuum`` sweeps: a
deleted part's ``.crc`` sidecar and its emptied staging directory."""

from __future__ import annotations

import itertools
import json
import os
from contextlib import contextmanager, nullcontext
from datetime import date, datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trace_parquet_spark.functions.gzip_codec import gzip_compress
from trace_parquet_spark.operators import trace_export
from trace_parquet_spark.operators.trace_export import select_trace_arrow
from trace_parquet_spark.sources import tablelog as tl
from trace_parquet_spark.sources import tablelog_source

UTC = timezone.utc
_GROUPS = itertools.count()

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BinaryType(), True),
        T.StructField("i", T.IntegerType(), True),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _local(spark, rows: list[tuple]):
    """A frame whose rows live on the driver: one LocalRelation."""
    cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA.fields]
    arrow = pa.table(
        {
            "id": pa.array(cols[0], pa.int64()),
            "s": pa.array(cols[1], pa.string()),
            "b": pa.array(cols[2], pa.binary()),
            "i": pa.array(cols[3], pa.int32()),
            "x": pa.array(cols[4], pa.float64()),
            "flag": pa.array(cols[5], pa.bool_()),
            "day": pa.array(cols[6], pa.date32()),
            "ts": pa.array(cols[7], pa.timestamp("us", "UTC")),
        }
    )
    return spark.createDataFrame(arrow, SCHEMA)


def _nulls(spark):
    ts = datetime(2024, 5, 1, 12, tzinfo=UTC)
    return _local(
        spark,
        [
            (1, "a", b"\x00\x01", 7, 1.5, True, date(2024, 5, 1), ts),
            (2, None, None, None, None, None, None, None),
            (3, "", b"", 0, float("-inf"), False, date(1970, 1, 1), ts),
        ],
    )


# (stored, what Spark's TIMESTAMP_MILLIS writer keeps: the floor)
TIMES = [
    (datetime(1969, 12, 31, 23, 59, 59, 999_999, UTC), datetime(1969, 12, 31, 23, 59, 59, 999_000, UTC)),
    (datetime(1969, 12, 31, 23, 59, 59, 1, UTC), datetime(1969, 12, 31, 23, 59, 59, 0, UTC)),
    (datetime(1970, 1, 1, 0, 0, 0, 500, UTC), datetime(1970, 1, 1, tzinfo=UTC)),
    (datetime(1901, 3, 4, 5, 6, 7, 890_123, UTC), datetime(1901, 3, 4, 5, 6, 7, 890_000, UTC)),
    (datetime(2024, 2, 29, 23, 59, 59, 999_999, UTC), datetime(2024, 2, 29, 23, 59, 59, 999_000, UTC)),
]


def _times(spark):
    return _local(
        spark,
        [(k, None, None, None, None, None, None, t) for k, (t, _) in enumerate(TIMES)],
    )


def _empty(spark):
    return _local(spark, [])


def _added(t: str, version: int) -> list[str]:
    return tl._load_commit(t, version)["add"]


def _writers(t: str, version: int) -> set[str]:
    """Which library wrote the files a commit added."""
    return {
        pq.read_metadata(os.path.join(t, f)).created_by.split(" version")[0]
        for f in _added(t, version)
    }


DRIVER, SPARK = "parquet-cpp-arrow", "parquet-mr"


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _both(spark, tmp_path, frame, **kw):
    """Append ``frame`` on the driver path and its ``repartition(4)``
    on Spark's; returns the two tables."""
    a, b = str(tmp_path / "driver"), str(tmp_path / "spark")
    va = tl.append(frame, a, **kw)
    vb = tl.append(frame.repartition(4), b, **kw)
    assert _writers(a, va) == {DRIVER} and len(_added(a, va)) == 1
    assert _writers(b, vb) == {SPARK}
    return a, b


def _jobs(spark, run):
    """(what ``run()`` returned, the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"driver-stage-{next(_GROUPS)}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("frame", [_nulls, _times, _empty])
def test_both_write_paths_give_every_read_path_the_same_rows(spark, tmp_path, frame):
    df = frame(spark)
    a, b = _both(spark, tmp_path, df, stats_col="id")
    more = _local(spark, [(100 + k, "m", None, k, None, True, None, None) for k in range(3)])
    for t, part in ((a, more), (b, more.repartition(4))):
        tl.append_with_bloom(part, t, bloom_col="id", stats_col="id")
    tablelog_source.register(spark)

    def reads(t):
        return {
            "schema": tl.read_table(spark, t).schema,
            "all": _rows(tl.read_table(spark, t)),
            "v0": _rows(tl.read_table(spark, t, as_of=0)),
            "key_range": _rows(tl.read_table(spark, t, key_range=(1, 101))),
            "point": _rows(tl.read_table_point_lookup(spark, t, [2, 101])[0]),
            "source": _rows(spark.read.format("tablelog").option("path", t).load()),
            "feed": _rows(tl.change_feed(spark, t, 0, 1, key="id")),
            "count": tl.read_table(spark, t).count(),
        }

    got = reads(a)
    assert got == reads(b)
    if frame is not _times:
        assert got["v0"] == _rows(df)
    assert [r[0] for r in got["feed"]] == ["insert"] * 3
    # the same Parquet types and repetition: a required id
    first = [pq.read_schema(os.path.join(t, _added(t, 0)[0])) for t in (a, b)]
    assert first[0].equals(first[1]) and not first[0].field("id").nullable
    if frame is _times:
        micros = tl.read_table(spark, a, as_of=0).select(F.unix_micros("ts")).collect()
        epoch = datetime(1970, 1, 1, tzinfo=UTC)
        assert sorted(r[0] for r in micros) == sorted(
            (f - epoch) // timedelta(microseconds=1) for _, f in TIMES
        )


def test_both_write_paths_agree_on_a_column_mapped_table(spark, tmp_path):
    a, b = _both(spark, tmp_path, _nulls(spark))
    later = _times(spark).withColumnRenamed("s", "label")
    for t, part in ((a, later), (b, later.repartition(4))):
        tl.rename_column(t, "s", "label")
        tl.append(part, t)
    assert _writers(a, 2) == {DRIVER}
    # the driver wrote the physical name, as Spark's writer does
    assert "s" in pq.read_schema(os.path.join(a, _added(a, 2)[0])).names
    tablelog_source.register(spark)
    for read in (
        lambda t: tl.read_table(spark, t),
        lambda t: spark.read.format("tablelog").option("path", t).load(),
    ):
        assert read(a).columns == read(b).columns
        assert _rows(read(a)) == _rows(read(b))
    assert {r.label for r in tl.read_table(spark, a).collect()} == {"a", None, ""}


def test_both_write_paths_reject_a_check_violation_and_remove_the_stage(spark, tmp_path):
    a, b = _both(spark, tmp_path, _nulls(spark))
    bad = _local(spark, [(-1, "neg", None, None, None, None, None, None)])
    for t, part in ((a, bad), (b, bad.repartition(4))):
        tl.add_check_constraint(spark, t, "id_positive", "id > 0")
        before = sorted(os.listdir(t))
        with pytest.raises(tl.ConstraintViolationError, match="id_positive"):
            tl.append(part, t)
        assert sorted(os.listdir(t)) == before
        assert tl.latest_version(t) == 1
    assert _rows(tl.read_table(spark, a)) == _rows(tl.read_table(spark, b))


def _trace_frame(spark, seed: int):
    base = int(datetime(2024, 3, 1, tzinfo=UTC).timestamp()) * 10**6
    pdf = pd.DataFrame(
        {
            "paramIndex": [seed * 10 + k % 3 for k in range(30)],
            # sub-millisecond starts, floored on both write paths
            "startTime": pd.to_datetime([base + 60 * 10**6 * k + 700 for k in range(30)], unit="us", utc=True),
            "endTime": pd.to_datetime([base + 60 * 10**6 * k + 5 * 10**6 for k in range(30)], unit="us", utc=True),
            "text": [f'{{"value": {k}}}' for k in range(30)],
        }
    )
    schema = T.StructType(
        [
            T.StructField("paramIndex", T.LongType(), False),
            T.StructField("startTime", T.TimestampType(), True),
            T.StructField("endTime", T.TimestampType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(pdf, schema).select(
        "paramIndex", "startTime", "endTime", gzip_compress("text").alias("traceData")
    )


def test_export_reads_a_driver_staged_append_without_a_spark_job(spark, tmp_path):
    """The ingest path: gzip_compress over a pandas frame, appended,
    then exported. The staged file is one the export reads on the
    driver, and it answers what the Spark-staged table answers."""
    frames = [_trace_frame(spark, s) for s in (1, 2)]
    a, b = str(tmp_path / "driver"), str(tmp_path / "spark")
    for f in frames:
        tl.append(f, a, stats_col="paramIndex")
        tl.append(f.repartition(4), b, stats_col="paramIndex")
    assert _writers(a, 0) == _writers(a, 1) == {DRIVER}
    lo, hi = datetime(2024, 3, 1, 0, 5, tzinfo=UTC), datetime(2024, 3, 1, 0, 20, tzinfo=UTC)
    ids = [10, 12, 21]
    df = tl.read_table(spark, a)
    got, jobs = _jobs(spark, lambda: select_trace_arrow(df, ids, lo, hi))
    assert jobs == 0
    want = select_trace_arrow(tl.read_table(spark, b), ids, lo, hi)
    order = [("paramIndex", "ascending"), ("startTime", "ascending")]
    assert got.num_rows == 16
    assert got.sort_by(order).equals(want.sort_by(order))


def _parquet_scan(spark, tmp_path):
    src = str(tmp_path / "src")
    _nulls(spark).write.parquet(src)
    return spark.read.parquet(src)


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


# (frame, session setting or None): each keeps Spark's writer
DECLINED = {
    "parquet_scan": (_parquet_scan, None),
    "range": (lambda spark, p: spark.range(5), None),
    "repartition": (lambda spark, p: _nulls(spark).repartition(2), None),
    "sort_within_partitions": (lambda spark, p: _nulls(spark).sortWithinPartitions("s"), None),
    "decimal": (lambda spark, p: _nulls(spark).withColumn("x", F.col("i").cast("decimal(10,2)")), None),
    "ntz": (lambda spark, p: _nulls(spark).withColumn("ts", F.col("ts").cast("timestamp_ntz")), None),
    "struct": (lambda spark, p: _nulls(spark).withColumn("st", F.struct("id", "s")), None),
    "int96": (lambda spark, p: _nulls(spark), ("spark.sql.parquet.outputTimestampType", "INT96")),
    "gzip_codec": (lambda spark, p: _nulls(spark), ("spark.sql.parquet.compression.codec", "gzip")),
    "before_1900": (
        lambda spark, p: _local(spark, [(1, None, None, None, None, None, None, datetime(1899, 12, 31, 23, tzinfo=UTC))]),
        None,
    ),
    "old_date": (
        lambda spark, p: _local(spark, [(1, None, None, None, None, None, date(1899, 12, 31), None)]),
        None,
    ),
    "over_max_result_size": (lambda spark, p: _nulls(spark), "max_result_size"),
}


def test_a_local_frame_is_staged_on_the_driver(spark, tmp_path):
    t = str(tmp_path / "t")
    v = tl.append(_nulls(spark).filter("id > 1").withColumn("n", F.length("s")), t)
    assert _writers(t, v) == {DRIVER}
    stage = os.path.dirname(os.path.join(t, _added(t, v)[0]))
    # one file, no _SUCCESS marker or .crc sidecars
    assert [f.startswith("part-00000-") and f.endswith("-c000.snappy.parquet") for f in os.listdir(stage)] == [True]
    md = pq.read_metadata(os.path.join(t, _added(t, v)[0])).metadata
    assert md[b"org.apache.spark.version"] == spark.version.encode()
    assert T.StructType.fromJson(
        json.loads(md[b"org.apache.spark.sql.parquet.row.metadata"])
    ).names == ["id", "s", "b", "i", "x", "flag", "day", "ts", "n"]


@pytest.mark.parametrize("case", sorted(DECLINED))
def test_declined_inputs_keep_sparks_writer(spark, tmp_path, monkeypatch, case):
    build, setting = DECLINED[case]
    df = build(spark, tmp_path)
    want = _rows(df)
    t = str(tmp_path / "t")
    if setting == "max_result_size":
        monkeypatch.setattr(trace_export, "_max_result_bytes", lambda spark: 1)
        setting = None
    with _conf(spark, *setting) if setting else nullcontext():
        v = tl.append(df, t)
    assert _writers(t, v) == {SPARK}
    stage = os.path.dirname(os.path.join(t, _added(t, v)[0]))
    assert "_SUCCESS" in os.listdir(stage)
    assert all(os.path.basename(f).startswith("part-0000") for f in _added(t, v))
    assert _rows(tl.read_table(spark, t)) == want


def _stage_names(t: str) -> set[str]:
    return {d for d in os.listdir(t) if d.startswith("data-")}


def test_vacuum_removes_an_expired_stage_whole(spark, tmp_path):
    """An empty part is dropped with its .crc sidecar, and vacuum after
    expire_snapshots leaves nothing of the expired stage: no sidecar,
    no _SUCCESS marker, no directory."""
    t = str(tmp_path / "t")
    tl.append(spark.range(0, 3, 1, 4), t)
    (first,) = _stage_names(t)
    names = os.listdir(os.path.join(t, first))
    parts = {n for n in names if n.endswith(".parquet")}
    assert len(parts) == 3
    assert {n[1:-4] for n in names if n.endswith(".parquet.crc")} == parts
    tl.overwrite(spark.range(10, 12, 1, 2), t)
    assert tl.expire_snapshots(t, 1)["files_deleted"] == 3
    assert tl.vacuum(t) == []
    assert first not in _stage_names(t)
    assert sorted(r.id for r in tl.read_table(spark, t).collect()) == [10, 11]


def test_vacuum_deletes_an_orphan_stage_with_its_sidecars(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark.range(3), t)
    (live,) = _stage_names(t)
    orphans = tl._stage_files(spark.range(50, 60, 1, 2), t)
    assert sorted(tl.vacuum(t)) == sorted(orphans)
    assert _stage_names(t) == {live}
    assert "_SUCCESS" in os.listdir(os.path.join(t, live))
