"""HTTP sink (S7): parquet *bytes* over HTTP, reference-faithful.

The reference serves the export as an in-memory single parquet file
over ``GET /api/data/parameters/trace/parquet`` with octet-stream +
Content-Disposition headers and a uniform JSON error model
(reference: controller/DataExportController.java:33-62,
service/ParquetConversionService.java:60-96,116-157,
exception/GlobalExceptionHandler.java:24-68,
exception/ErrorResponse.java:12-26).

Spark shape: the export plan (filter → gunzip → global sort) runs as a
normal distributed job writing ONE parquet file to a scratch dir
(coalesce(1) — the API artifact is single-file by contract, SURVEY §2.6
O1); the driver then streams that file's bytes into the HTTP response.
Only the final artifact ever transits the driver — unlike the
reference, which materializes every ROW on the heap before encoding
(its documented OOM cliff, ParquetConversionService.java:53-61).

The HTTP layer itself is stdlib ``http.server`` — thin, dependency-free,
and outside the data plane (SURVEY §2.1 S7 calls for exactly this
driver-side shim).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .api import DataExportRequest
from .errors import NoDataFoundError, TraceParquetError, ValidationError
from .operators.trace_export import export_trace

EXPORT_PATH = "/api/data/parameters/trace/parquet"
ATTACHMENT_NAME = "parameter_data.parquet"
# Spring's setContentDispositionFormData("attachment", filename)
# emits exactly this shape (DataExportController.java:57).
CONTENT_DISPOSITION = f'form-data; name="attachment"; filename="{ATTACHMENT_NAME}"'
_REASONS = {400: "Bad Request", 404: "Not Found", 500: "Internal Server Error"}


def export_trace_to_bytes(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
) -> bytes:
    """The reference's ``convertToParquet``: result → one in-memory
    parquet file's bytes. Empty result raises NoDataFoundError (the
    controller's empty-bytes → 404 check, DataExportController.java:50-52).

    The single file is produced by the distributed write (coalesce(1)
    preserves the global sort in one file); bytes are read back from
    the committed part file — the plan executes once.
    """
    scratch = tempfile.mkdtemp(prefix="trace_export_")
    try:
        out_dir = os.path.join(scratch, "export.parquet")
        export_trace(df, ids, start, end).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out_dir)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        # the footer's row count answers "empty?" without a Spark job
        if not parts or pq.ParquetFile(parts[0]).metadata.num_rows == 0:
            raise NoDataFoundError()
        with open(parts[0], "rb") as fh:
            return fh.read()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


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
    except TraceParquetError:
        payload = json.dumps(
            error_body(500, "An internal server error occurred.")
        ).encode()
        return 500, {"Content-Type": "application/json"}, payload
    except Exception:
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
