"""The HTTP export's response contract, pinned against Spark's own
parquet writer (``export_trace_to_file``) for the same request: schema
and repetition, millisecond timestamps floored like Spark, null
payloads, the 404/500 error bodies, a Spark read-back of the body, and
a body no larger than the Spark-written file."""

from __future__ import annotations

import glob
import gzip
import io
import json
import logging
import os
from datetime import datetime

import pyarrow.parquet as pq
import pytest

from trace_parquet_spark.http_service import export_trace_to_bytes, handle_export
from trace_parquet_spark.operators.trace_export import (
    export_trace,
    export_trace_to_file,
    make_trace_fixture,
)
from trace_parquet_spark.schemas import TRACE_PARAM_SCHEMA

START, END = "2024-01-01T00:00:00", "2024-12-31T00:00:00"
TS_MILLIS_UTC = (
    "Timestamp(isAdjustedToUTC=true, timeUnit=milliseconds, "
    "is_from_converted_type=false, force_set_converted_type=false)"
)


def _columns(pf: pq.ParquetFile) -> list[tuple]:
    """Name, physical type, logical type and repetition of each column."""
    return [
        (
            c.name,
            c.physical_type,
            str(c.logical_type),
            "required" if c.max_definition_level == 0 else "optional",
        )
        for c in pf.schema
    ]


def _spark_file(df, ids, start, end, tmp_path) -> str:
    out = str(tmp_path / "spark_written.parquet")
    export_trace_to_file(df, ids, start, end, out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    return part


def _fixture_source(spark, tmp_path):
    return make_trace_fixture(spark)


def _optional_source(spark, tmp_path):
    path = str(tmp_path / "source.parquet")
    make_trace_fixture(spark).write.parquet(path)
    return spark.read.schema(TRACE_PARAM_SCHEMA).parquet(path)


@pytest.mark.parametrize(
    "source, id_repetition",
    [(_fixture_source, "required"), (_optional_source, "optional")],
)
def test_body_schema_matches_spark_writer(spark, tmp_path, source, id_repetition):
    df = source(spark, tmp_path)
    body = export_trace_to_bytes(df, [1, 2, 3], START, END)
    got = _columns(pq.ParquetFile(io.BytesIO(body)))
    assert got == _columns(pq.ParquetFile(_spark_file(df, [1, 2, 3], START, END, tmp_path)))
    assert got == [
        ("paramIndex", "INT64", "None", id_repetition),
        ("startTime", "INT64", TS_MILLIS_UTC, "optional"),
        ("endTime", "INT64", TS_MILLIS_UTC, "optional"),
        ("traceData", "BYTE_ARRAY", "String", "optional"),
    ]


def test_sub_millisecond_times_floor_like_spark_and_null_payload_passes(spark, tmp_path):
    gz = gzip.compress(b'{"value": 1}', mtime=0)
    rows = [
        # -1500 us and -500 us: Spark floors to -2 ms and -1 ms
        (1, datetime(1969, 12, 31, 23, 59, 59, 998500), datetime(1969, 12, 31, 23, 59, 59, 999500), gz),
        (1, datetime(1970, 1, 1, 0, 0, 0, 1500), datetime(1970, 1, 1, 0, 0, 0, 999), None),
        (2, datetime(2024, 1, 10, 10, 0, 0, 123999), datetime(2024, 1, 10, 10, 0, 5, 500), gz),
    ]
    df = spark.createDataFrame(rows, TRACE_PARAM_SCHEMA)
    lo, hi = "1969-12-31T00:00:00", "2024-12-31T00:00:00"
    body = pq.read_table(io.BytesIO(export_trace_to_bytes(df, [1, 2], lo, hi)))
    written = pq.read_table(_spark_file(df, [1, 2], lo, hi, tmp_path))
    assert body.to_pydict() == written.to_pydict()
    assert body.column("startTime").cast("int64").to_pylist() == [-2, 1, 1704880800123]
    assert body.column("traceData").to_pylist() == ['{"value": 1}', None, '{"value": 1}']


def test_corrupt_payload_returns_uniform_500(spark):
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 10, 10), datetime(2024, 1, 10, 11), b"not a gzip member")],
        TRACE_PARAM_SCHEMA,
    )
    status, headers, body = handle_export(
        df, {"parameterIndices": "1", "startTime": START, "endTime": END}
    )
    err = json.loads(body)
    assert status == 500 and headers["Content-Type"] == "application/json"
    datetime.fromisoformat(err["timestamp"])
    assert (err["status"], err["error"], err["message"], err["path"]) == (
        500, "Internal Server Error", "An internal server error occurred.", None,
    )


def test_500_logs_its_cause(spark, caplog):
    """The 500 body stays generic; the exception behind it is logged."""
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 10, 10), datetime(2024, 1, 10, 11), b"not a gzip member")],
        TRACE_PARAM_SCHEMA,
    )
    with caplog.at_level(logging.ERROR, logger="trace_parquet_spark"):
        status, _, body = handle_export(
            df, {"parameterIndices": "1", "startTime": START, "endTime": END}
        )
    assert status == 500
    assert json.loads(body)["message"] == "An internal server error occurred."
    (record,) = [
        r for r in caplog.records
        if r.name == "trace_parquet_spark" and r.levelno == logging.ERROR
    ]
    assert isinstance(record.exc_info[1], gzip.BadGzipFile)


def test_empty_window_returns_404(spark):
    status, _, body = handle_export(
        make_trace_fixture(spark),
        {"parameterIndices": "1,2,3", "startTime": "2030-01-01T00:00:00", "endTime": "2030-02-01T00:00:00"},
    )
    err = json.loads(body)
    assert status == 404 and err["message"] == "No data found for the given criteria."


def test_spark_reads_body_back_as_the_same_rows(spark, tmp_path):
    df = make_trace_fixture(spark)
    path = tmp_path / "body.parquet"
    path.write_bytes(export_trace_to_bytes(df, [3, 1, 2], START, END))
    assert spark.read.parquet(str(path)).collect() == export_trace(df, [3, 1, 2], START, END).collect()


def test_body_no_larger_than_spark_written_file(spark, tmp_path):
    df = make_trace_fixture(spark)
    body = export_trace_to_bytes(df, [1, 2, 3], START, END)
    assert len(body) <= os.path.getsize(_spark_file(df, [1, 2, 3], START, END, tmp_path))
