"""HTTP sink (S7): parquet *bytes* over HTTP, reference-faithful.

The reference serves the export as an in-memory single parquet file
over ``GET /api/data/parameters/trace/parquet`` with octet-stream +
Content-Disposition headers and a uniform JSON error model
(reference: controller/DataExportController.java:33-62,
service/ParquetConversionService.java:60-96,116-157,
exception/GlobalExceptionHandler.java:24-68,
exception/ErrorResponse.java:12-26).

Spark shape: the matching rows of the pushed-down filter and
projection (``trace_export.select_trace``), still gzipped, reach the
driver as one Arrow table from ``trace_export.select_trace_arrow``.
The driver sorts them, gunzips each payload and encodes one parquet
file in memory. Like the reference, which also builds the file on the
heap (ParquetConversionService.java:53-61), a request's result must
fit on the driver, under ``spark.driver.maxResultSize``. Exports too
large for that go through ``export_trace_to_file``, which gunzips,
sorts and writes on the executors.

Where the rows come from:

- A bare Parquet scan (``spark.read.parquet``, or a ``tablelog``
  snapshot without deletion vectors or column mapping) with datetime
  bounds, as every HTTP request has after ``DataExportRequest.parse``:
  the driver picks the row groups whose footer statistics can match
  and reads them with pyarrow. No Spark job runs, which saves Spark's
  fixed per-job cost (~150 ms per request on a 4-vCPU host).
- Anything else runs one Spark job and collects its result as Arrow:
  string bounds, in-memory or derived DataFrames, deletion vectors,
  column mapping, partitioned directories, files whose column types
  the driver does not read exactly as Spark does, and row groups too
  large for ``spark.driver.maxResultSize``. The module docstring of
  ``operators/trace_export.py`` gives the reason for each.

Both give the same rows with the same schema, so the same bytes.

The HTTP layer itself is stdlib ``http.server`` — thin, dependency-free,
and outside the data plane (SURVEY §2.1 S7 calls for exactly this
driver-side shim).
"""

from __future__ import annotations

import io
import json
import logging
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .api import DataExportRequest
from .errors import NoDataFoundError, ValidationError
from .functions.gzip_codec import gunzip_text
# export_trace stays a module attribute: perfbench spans it by this name
from .operators.trace_export import export_trace, select_trace_arrow  # noqa: F401

EXPORT_PATH = "/api/data/parameters/trace/parquet"
ATTACHMENT_NAME = "parameter_data.parquet"
# Spring's setContentDispositionFormData("attachment", filename)
# emits exactly this shape (DataExportController.java:57).
CONTENT_DISPOSITION = f'form-data; name="attachment"; filename="{ATTACHMENT_NAME}"'
_REASONS = {400: "Bad Request", 404: "Not Found", 500: "Internal Server Error"}
_log = logging.getLogger("trace_parquet_spark")


def export_trace_to_bytes(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
) -> bytes:
    """The reference's ``convertToParquet``: result → one in-memory
    parquet file's bytes. Empty result raises NoDataFoundError (the
    controller's empty-bytes → 404 check, DataExportController.java:50-52).

    The matching gzipped rows arrive as Arrow, read on the driver or
    collected by one Spark job (see the module docstring); the order,
    the gunzip and the encode run on the driver.
    """
    if not ids:
        raise NoDataFoundError()
    raw = select_trace_arrow(df, ids, start, end)
    if raw.num_rows == 0:
        raise NoDataFoundError()
    return _encode(
        raw.sort_by([("paramIndex", "ascending"), ("startTime", "ascending")])
    )


def _encode(raw: pa.Table) -> bytes:
    """Sorted raw rows → the bytes of the parquet file Spark's writer
    would produce: the same schema and repetition, timestamps floored to
    milliseconds (Spark floors; pyarrow's coercion truncates toward
    zero), traceData gunzipped to an optional string."""
    cols, fields = [], []
    for field, col in zip(raw.schema, raw.columns):
        if field.name == "traceData":
            col = pa.array([gunzip_text(b) for b in col.to_pylist()], pa.string())
            field = pa.field(field.name, pa.string())
        elif pa.types.is_timestamp(field.type):
            ms = pa.timestamp("ms", field.type.tz)
            col = pc.floor_temporal(col, unit="millisecond").cast(ms)
            field = field.with_type(ms)
        cols.append(col)
        fields.append(field)
    buf = io.BytesIO()
    # These keep the body no larger than Spark's file: dictionary pages
    # only for the repeated id, no embedded Arrow schema, and no min/max
    # of the JSON text in every page header.
    pq.write_table(
        pa.Table.from_arrays(cols, schema=pa.schema(fields)),
        buf,
        use_dictionary=["paramIndex"],
        write_statistics=["paramIndex", "startTime", "endTime"],
        store_schema=False,
    )
    return buf.getvalue()


def error_body(status: int, message: str) -> dict:
    """Uniform error JSON (reference: exception/ErrorResponse.java:12-26;
    ``path`` is deliberately null — GlobalExceptionHandler.java:31)."""
    return {
        "timestamp": datetime.now(timezone.utc).isoformat(),
        "status": status,
        "error": _REASONS.get(status, "Error"),
        "message": message,
        "path": None,
    }


def handle_export(df: DataFrame, params: dict) -> tuple[int, dict, bytes]:
    """Pure request handler: query params → (status, headers, body).

    Testable without sockets; the HTTP server below is a trivial shim
    over this. Error mapping replicates E1-E4 (SURVEY §2.11).
    """
    try:
        req = DataExportRequest.parse(
            params.get("parameterIndices"),
            params.get("startTime"),
            params.get("endTime"),
        )
        body = export_trace_to_bytes(
            df, req.parameter_indices, req.start_time, req.end_time
        )
    except ValidationError as e:
        payload = json.dumps(error_body(400, str(e))).encode()
        return 400, {"Content-Type": "application/json"}, payload
    except NoDataFoundError as e:
        payload = json.dumps(error_body(404, str(e))).encode()
        return 404, {"Content-Type": "application/json"}, payload
    except Exception:
        # the body stays generic, as in the reference; the cause goes
        # to the log
        _log.exception("export request failed: %s", params)
        payload = json.dumps(
            error_body(500, "An internal server error occurred.")
        ).encode()
        return 500, {"Content-Type": "application/json"}, payload
    headers = {
        "Content-Type": "application/octet-stream",
        "Content-Disposition": CONTENT_DISPOSITION,
        "Content-Length": str(len(body)),
    }
    return 200, headers, body


class TraceExportServer:
    """Threaded HTTP server exposing the export endpoint on localhost.

    Usage::

        srv = TraceExportServer(source_df)
        port = srv.start()          # ephemeral port
        ... GET http://127.0.0.1:{port}/api/data/parameters/trace/parquet
        srv.stop()
    """

    def __init__(self, df: DataFrame, port: int = 0):
        self._df = df
        self._port = port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def start(self) -> int:
        df = self._df

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def do_GET(self):
                url = urlparse(self.path)
                if url.path != EXPORT_PATH:
                    status, headers, body = 404, {
                        "Content-Type": "application/json"
                    }, json.dumps(
                        error_body(404, "No static resource " + url.path)
                    ).encode()
                else:
                    qs = parse_qs(url.query)
                    params = {k: v[0] for k, v in qs.items()}
                    # Spring binds every value of a repeated key into
                    # the List<Long>
                    if "parameterIndices" in qs:
                        params["parameterIndices"] = ",".join(qs["parameterIndices"])
                    status, headers, body = handle_export(df, params)
                self.send_response(status)
                for k, v in headers.items():
                    self.send_header(k, v)
                if "Content-Length" not in headers:
                    self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", self._port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
