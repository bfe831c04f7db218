"""S7 HTTP sink contract tests, mirroring the reference's controller
test (reference: test/.../DataExportControllerTest.java:52-152): exact
status codes, exact error messages, octet-stream + Content-Disposition
headers, and the returned bytes parsing as a valid parquet file with
the reference schema."""

from __future__ import annotations

import io
import json
import urllib.error
import urllib.request

import pyarrow.parquet as pq
import pytest

from trace_parquet_spark.http_service import (
    CONTENT_DISPOSITION,
    TraceExportServer,
    export_trace_to_bytes,
    handle_export,
)
from trace_parquet_spark.errors import NoDataFoundError
from trace_parquet_spark.operators.trace_export import make_trace_fixture


@pytest.fixture(scope="module")
def trace_df(spark):
    return make_trace_fixture(spark)


def _parse(body: bytes):
    return pq.read_table(io.BytesIO(body))


def test_bytes_artifact_parses_with_reference_schema(trace_df):
    body = export_trace_to_bytes(
        trace_df, [1, 2], "2024-01-10T00:00:00", "2024-01-10T23:59:59"
    )
    table = _parse(body)
    assert table.num_rows == 2
    assert [f.name for f in table.schema] == [
        "paramIndex", "startTime", "endTime", "traceData",
    ]
    # reference physical type: timestamp-millis (ParameterRecord.avsc)
    assert "timestamp[ms" in str(table.schema.field("startTime").type)
    cols = table.to_pydict()
    assert cols["paramIndex"] == [1, 2]
    assert json.loads(cols["traceData"][0]) == {"value": 100, "status": "OK"}


def test_bytes_empty_raises_no_data(trace_df):
    with pytest.raises(NoDataFoundError, match="No data found"):
        export_trace_to_bytes(
            trace_df, [999], "2024-01-01T00:00:00", "2024-12-31T00:00:00"
        )


def test_handler_success_headers(trace_df):
    status, headers, body = handle_export(
        trace_df,
        {
            "parameterIndices": "1,2",
            "startTime": "2024-01-10T00:00:00",
            "endTime": "2024-01-10T23:59:59",
        },
    )
    assert status == 200
    assert headers["Content-Type"] == "application/octet-stream"
    assert headers["Content-Disposition"] == CONTENT_DISPOSITION
    assert headers["Content-Length"] == str(len(body))
    assert _parse(body).num_rows == 2


def test_handler_validation_400_messages(trace_df):
    # missing endTime → exact reference message
    status, _, body = handle_export(
        trace_df, {"parameterIndices": "1", "startTime": "2024-01-10T00:00:00"}
    )
    err = json.loads(body)
    assert status == 400 and err["status"] == 400
    assert err["message"] == "endTime cannot be null."
    assert err["error"] == "Bad Request" and err["path"] is None

    # start > end → exact reference message
    status, _, body = handle_export(
        trace_df,
        {
            "parameterIndices": "1",
            "startTime": "2024-02-01T00:00:00",
            "endTime": "2024-01-01T00:00:00",
        },
    )
    err = json.loads(body)
    assert status == 400
    assert err["message"] == "Invalid date range: startTime cannot be after endTime."

    # empty parameterIndices
    status, _, body = handle_export(
        trace_df,
        {
            "parameterIndices": "",
            "startTime": "2024-01-01T00:00:00",
            "endTime": "2024-02-01T00:00:00",
        },
    )
    assert status == 400
    assert json.loads(body)["message"] == "parameterIndices cannot be empty."


def test_handler_404_no_data(trace_df):
    status, _, body = handle_export(
        trace_df,
        {
            "parameterIndices": "999",
            "startTime": "2024-01-01T00:00:00",
            "endTime": "2024-12-31T00:00:00",
        },
    )
    err = json.loads(body)
    assert status == 404 and err["status"] == 404
    assert err["message"] == "No data found for the given criteria."
    assert err["error"] == "Not Found"


def test_http_roundtrip_over_socket(trace_df):
    """Full wire test: ephemeral-port server, urllib client."""
    srv = TraceExportServer(trace_df)
    port = srv.start()
    base = f"http://127.0.0.1:{port}/api/data/parameters/trace/parquet"
    try:
        url = (
            base
            + "?parameterIndices=1,2,3&startTime=2024-01-01T00:00:00"
            + "&endTime=2024-12-31T00:00:00"
        )
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == "application/octet-stream"
            assert resp.headers["Content-Disposition"] == CONTENT_DISPOSITION
            body = resp.read()
        assert _parse(body).num_rows == 3

        bad = base + "?parameterIndices=1&startTime=2024-01-01T00:00:00"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad)
        assert ei.value.code == 400
        assert (
            json.loads(ei.value.read())["message"] == "endTime cannot be null."
        )

        missing = (
            base
            + "?parameterIndices=777&startTime=2024-01-01T00:00:00"
            + "&endTime=2024-12-31T00:00:00"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(missing)
        assert ei.value.code == 404
    finally:
        srv.stop()


def test_repeated_parameter_indices_key_binds_every_value(trace_df):
    """Spring binds every value of a repeated key into the List<Long>."""
    srv = TraceExportServer(trace_df)
    port = srv.start()
    try:
        url = (
            f"http://127.0.0.1:{port}/api/data/parameters/trace/parquet"
            "?parameterIndices=1&parameterIndices=2,3&startTime=2024-01-01T00:00:00"
            "&endTime=2024-12-31T00:00:00"
        )
        with urllib.request.urlopen(url) as resp:
            body = resp.read()
        assert _parse(body).column("paramIndex").to_pylist() == [1, 2, 3]
    finally:
        srv.stop()


def test_id_outside_signed_64_bit_range_is_400(trace_df):
    status, _, body = handle_export(
        trace_df,
        {
            "parameterIndices": "99999999999999999999",
            "startTime": "2024-01-01T00:00:00",
            "endTime": "2024-12-31T00:00:00",
        },
    )
    assert status == 400
    assert json.loads(body)["message"] == "parameterIndices must be integers."
