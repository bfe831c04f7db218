"""The faithful core: the reference's one query, as pure DataFrame ops.

Reference semantics (SURVEY §2, §3.1):
  SELECT paramIndex, startTime, endTime, traceData
  WHERE PARAM_INDEX IN (:ids)
    AND START_TIME BETWEEN :start AND :end      -- inclusive both ends,
                                                 -- START_TIME only
  ORDER BY PARAM_INDEX, START_TIME ASC
then per-row gunzip of the BLOB to UTF-8 JSON text
(reference: repository/ParameterDataRepository.java:58-69,
service/ParquetConversionService.java:98-106).

``select_trace`` is the WHERE and the projection over the raw columns;
every export starts from it. ``export_trace`` adds the gunzip and the
order on the executors, for outputs that never pass through the driver
(``export_trace_to_file`` and the partitioned sinks). The HTTP bytes
path (``http_service.export_trace_to_bytes``) collects
``select_trace`` and sorts and gunzips on the driver instead.

Catalyst notes (verified via .explain):
- ``isin`` + ``between`` push down to the parquet/JDBC scan
  (PushedFilters: In(paramIndex,...), GreaterThanOrEqual(startTime,...))
  → at 100 TB only matching row groups are read.
- the gunzip pandas UDF runs AFTER the filter (only surviving rows are
  decompressed) and in Arrow batches.
- ``orderBy`` is a range-partitioned global sort; the single-file
  artifact of ``export_trace_to_file`` needs coalesce(1), while the
  scale path keeps it partitioned (files.write_partitioned_sorted).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import NoDataFoundError
from ..functions.gzip_codec import gunzip_utf8
from ..schemas import TRACE_EXPORT_SCHEMA, TRACE_PAYLOAD_SCHEMA


def select_trace(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
) -> DataFrame:
    """The reference's WHERE and projection: matching rows, raw
    (still gzipped) columns, no order."""
    return df.filter(
        F.col("paramIndex").isin([int(i) for i in ids])
        & F.col("startTime").between(start, end)
    ).select("paramIndex", "startTime", "endTime", "traceData")


def export_trace(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
) -> DataFrame:
    """filter → gunzip-project → order. Empty id list short-circuits to
    an empty relation without touching the source (reference:
    repository/ParameterDataRepository.java:54-56)."""
    spark = df.sparkSession
    if not ids:
        return spark.createDataFrame([], TRACE_EXPORT_SCHEMA)
    return select_trace(df, ids, start, end).withColumn(
        "traceData", gunzip_utf8(F.col("traceData"))
    ).orderBy("paramIndex", "startTime")


def export_trace_to_file(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
    out_path: str,
) -> int:
    """Full reference lifecycle incl. the empty→404 contract (E1):
    zero rows raises NoDataFoundError and the output path is removed
    (reference: controller/DataExportController.java:48-52).

    Single-job execution: the filter→gunzip→sort plan runs ONCE (the
    write); the row count is then derived from the committed parquet
    footers (metadata-only second job — Spark's count(*) over parquet
    never rescans data pages). A count()-before-write would run the
    most expensive pipeline in the system twice.
    """
    spark = df.sparkSession
    result = export_trace(df, ids, start, end)
    result.coalesce(1).write.mode("overwrite").parquet(out_path)
    n = spark.read.parquet(out_path).count()
    if n == 0:
        _delete_path(spark, out_path)
        raise NoDataFoundError()
    return n


def _delete_path(spark: SparkSession, path: str) -> None:
    """Remove a written output via the Hadoop FileSystem API (works for
    any configured FS, not just local disk)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def open_payload(df: DataFrame) -> DataFrame:
    """Phase-3 extension: parse the semi-structured JSON payload into
    typed columns (the reference deliberately ships it opaque;
    SURVEY §7 Phase 3 opens it for relational queries)."""
    return df.withColumn(
        "payload", F.from_json(F.col("traceData"), TRACE_PAYLOAD_SCHEMA)
    ).select("*", "payload.value", "payload.status", "payload.temp", "payload.pressure")


def make_trace_fixture(spark: SparkSession, rows: list[tuple] | None = None) -> DataFrame:
    """The reference's seed rows (reference: config/DataInitializer.java:40-42),
    gzipped exactly like its insert path."""
    import gzip as _gzip

    seed = rows or [
        (1, "2024-01-10T10:00:00", "2024-01-10T10:00:05", '{"value": 100, "status": "OK"}'),
        (2, "2024-01-10T10:01:00", "2024-01-10T10:01:10", '{"value": 250, "status": "WARN", "temp": 45.5}'),
        (3, "2024-01-10T10:02:00", "2024-01-10T10:02:15", '{"value": 500, "status": "CRITICAL", "pressure": 1.5}'),
    ]
    data = [
        (
            int(p),
            datetime.fromisoformat(s),
            datetime.fromisoformat(e),
            _gzip.compress(j.encode("utf-8"), mtime=0),
        )
        for p, s, e, j in seed
    ]
    from ..schemas import TRACE_PARAM_SCHEMA

    return spark.createDataFrame(data, TRACE_PARAM_SCHEMA)
