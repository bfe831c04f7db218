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
path (``http_service.export_trace_to_bytes``) takes the rows of
``select_trace`` as Arrow from ``select_trace_arrow`` and sorts and
gunzips on the driver instead.

``select_trace_arrow`` returns what ``select_trace(...).toArrow()``
returns. When the source is a bare Parquet scan it plans the read from
the row-group statistics in the file footers and reads the surviving
row groups with pyarrow on the driver, so a small export runs no Spark
job (on a 4-vCPU host a small export took ~170 ms with the job and
~14 ms without it). Each condition below keeps an input on the Spark job, where
the driver could not be sure to read what Spark reads:

- bounds that are not ``datetime`` (a string bound is Spark's
  string-to-timestamp cast in the session zone, which the driver does
  not re-implement), a session preferring TIMESTAMP_NTZ literals, and
  bounds or stored times before 1900 (Spark may rebase those between
  calendars);
- a plan other than one ``LogicalRelation`` over a non-partitioned
  ``HadoopFsRelation`` in Parquet format: deletion vectors (a join),
  column mapping (a projection), filters, in-memory data and
  partitioned directories each change the rows Spark returns;
- input files that are not local ``file:`` paths;
- a DataFrame schema or a file footer whose four columns do not have
  the exact names and types Spark would read the same way: INT64 ids,
  INT64 ``TIMESTAMP(MILLIS|MICROS, isAdjustedToUTC=true)`` times (not
  INT96, NANOS or local times) and BYTE_ARRAY payloads;
- row groups whose ``total_byte_size`` exceeds
  ``spark.driver.maxResultSize`` (0 means unlimited), the bound the
  collect lives under, since the driver holds whole row groups before
  it filters them.

Footers are cached keyed on ``(path, st_mtime_ns, st_size)``. Every
request stats every input file, so a file rewritten in place is read
again, and a vanished file raises (a 500, as Spark's
``FileNotFoundException`` is).

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

import calendar
import json
import os
import threading
import time
from collections import OrderedDict
from datetime import datetime
from typing import NamedTuple
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.utils import is_timestamp_ntz_preferred

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


def select_trace_arrow(
    df: DataFrame,
    ids: list[int],
    start: datetime | str,
    end: datetime | str,
) -> pa.Table:
    """The rows of ``select_trace(df, ids, start, end)`` as the Arrow
    table ``toArrow()`` gives: read on the driver from the Parquet
    files when the module docstring's conditions hold, otherwise
    collected by one Spark job."""
    raw = _read_on_driver(df, ids, start, end)
    if raw is None:
        raw = select_trace(df, ids, start, end).toArrow()
    return raw


_TRACE_TYPES = {
    "paramIndex": T.LongType,
    "startTime": T.TimestampType,
    "endTime": T.TimestampType,
    "traceData": T.BinaryType,
}
_TRACE_COLUMNS = list(_TRACE_TYPES)
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1
# 1900-01-01T00:00:00Z. Spark may rebase older times between the Julian
# and the Gregorian calendar, in literals and in files, so the driver
# leaves them to Spark.
_MIN_DRIVER_US = -2208988800 * 10**6
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_HADOOP_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"

# Parsed footers of the files the driver has read, keyed on
# (path, st_mtime_ns, st_size) as registry._SCHEMA_MEMO is, so a file
# rewritten in place is parsed afresh. A value of None marks a file the
# driver does not read. LRU-bounded; the lock serves the threaded server.
_FOOTERS: OrderedDict[tuple[str, int, int], "_Footer | None"] = OrderedDict()
_FOOTERS_MAX = 1024
_FOOTERS_LOCK = threading.Lock()


class _Footer(NamedTuple):
    """A file's metadata plus, per row group, what pruning needs:
    (index, total_byte_size, paramIndex min/max, startTime min/max in
    epoch microseconds); a range is None where the stats are missing."""

    metadata: pq.FileMetaData
    groups: list[tuple]


def _epoch_us(t: object) -> int | None:
    """A bound as the epoch microseconds pyspark's ``DatetimeConverter``
    sends to the JVM (a naive datetime through ``time.mktime``, an
    aware one through ``calendar.timegm``); None for anything the
    driver leaves to Spark."""
    if not isinstance(t, datetime):
        return None
    try:
        seconds = (
            calendar.timegm(t.utctimetuple()) if t.tzinfo else time.mktime(t.timetuple())
        )
    except (OverflowError, ValueError):
        return None
    us = int(seconds) * 1_000_000 + t.microsecond
    return us if us >= _MIN_DRIVER_US else None


def _parquet_files(df: DataFrame) -> list[str] | None:
    """The local paths of a bare, non-partitioned Parquet scan, in the
    order of Spark's file listing; None for any other plan."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None
    plan = jdf.queryExecution().analyzed()
    if plan.getClass().getName() != _LOGICAL_RELATION:
        return None
    rel = plan.relation()
    if (
        rel.getClass().getName() != _HADOOP_FS_RELATION
        or rel.fileFormat().getClass().getName() != _PARQUET_FORMAT
        or rel.partitionSchema().length() != 0
    ):
        return None
    # the index's own list, not df.inputFiles(), which is a set: Spark
    # plans its splits from this order
    paths = []
    for uri in rel.location().inputFiles():
        u = urlparse(uri)
        if u.scheme != "file" or u.netloc:
            return None
        paths.append(unquote(u.path))
    return paths


def _column_scale(col) -> int | None:
    """What a footer column's stored values are multiplied by to give
    what Spark reads: 1 for a plain INT64 id or BYTE_ARRAY payload, 1 or
    1000 for microsecond or millisecond UTC times; None for a column
    Spark might not read as the driver does."""
    if col.max_repetition_level != 0 or "." in col.path:
        return None
    lt = json.loads(col.logical_type.to_json())
    if col.name in ("paramIndex", "traceData"):
        physical = "INT64" if col.name == "paramIndex" else "BYTE_ARRAY"
        return 1 if col.physical_type == physical and lt["Type"] == "None" else None
    if col.physical_type != "INT64" or lt["Type"] != "Timestamp" or not lt["isAdjustedToUTC"]:
        return None
    return {"microseconds": 1, "milliseconds": 1000}.get(lt["timeUnit"])


def _parse_footer(md: pq.FileMetaData) -> _Footer | None:
    """The pruning view of a footer; None when a trace column is
    missing, ambiguous or of a type the driver leaves to Spark."""
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    top = {c.path.split(".")[0] for c in cols}
    found = {}
    for name in _TRACE_COLUMNS:
        # Spark matches names case-insensitively, so a second spelling
        # of a column would make its read ambiguous
        if [n for n in top if n.lower() == name.lower()] != [name]:
            return None
        i = next(i for i, c in enumerate(cols) if c.path.split(".")[0] == name)
        scale = _column_scale(cols[i])
        if scale is None:
            return None
        found[name] = (i, scale)

    def stats_range(rg, name):
        i, scale = found[name]
        st = rg.column(i).statistics
        if st is None or not st.has_min_max:
            return None
        return st.min_raw * scale, st.max_raw * scale

    groups = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows:
            groups.append(
                (g, rg.total_byte_size, stats_range(rg, "paramIndex"), stats_range(rg, "startTime"))
            )
    return _Footer(md, groups)


def _footer(path: str) -> tuple[int, _Footer | None]:
    """(file size, parsed footer or None). A failed ``stat`` raises:
    a vanished file is never served from a cached footer."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    with _FOOTERS_LOCK:
        if key in _FOOTERS:
            _FOOTERS.move_to_end(key)
            return st.st_size, _FOOTERS[key]
    footer = _parse_footer(pq.read_metadata(path))
    with _FOOTERS_LOCK:
        _FOOTERS[key] = footer
        if len(_FOOTERS) > _FOOTERS_MAX:
            _FOOTERS.popitem(last=False)
    return st.st_size, footer


def _max_result_bytes(spark: SparkSession) -> int:
    """``spark.driver.maxResultSize`` in bytes; 0 means unlimited."""
    return spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )


def floor_timestamps(table: pa.Table, unit: str) -> pa.Table:
    """``table`` with every timestamp column floored to ``unit`` ("ms"
    or "us") and cast to it, as Spark's Parquet writer stores
    TIMESTAMP_MILLIS and TIMESTAMP_MICROS: Spark floors, where pyarrow's
    coercion truncates toward zero."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.unit != unit:
            to = pa.timestamp(unit, field.type.tz)
            col = pc.floor_temporal(
                table.column(i), unit={"ms": "millisecond", "us": "microsecond"}[unit]
            ).cast(to)
            table = table.set_column(i, field.with_type(to), col)
    return table


def _read_on_driver(
    df: DataFrame, ids: list[int], start: object, end: object
) -> pa.Table | None:
    """``select_trace(...).toArrow()`` read on the driver, or None when
    the input is one the module docstring leaves to Spark."""
    lo, hi = _epoch_us(start), _epoch_us(end)
    ids = [int(i) for i in ids]
    if (
        lo is None
        or hi is None
        or is_timestamp_ntz_preferred()
        or not all(_INT64_MIN <= i <= _INT64_MAX for i in ids)
    ):
        return None
    fields = {f.name: f for f in df.schema.fields}
    if not all(
        isinstance(getattr(fields.get(n), "dataType", None), t) for n, t in _TRACE_TYPES.items()
    ):
        return None
    paths = _parquet_files(df)
    if paths is None:
        return None
    files = []
    for path in paths:
        size, footer = _footer(path)
        if footer is None:
            return None
        files.append((size, path, footer))
    # Spark reads files largest first (a stable sort of its listing);
    # reading them in that order keeps rows tied on the sort key in the
    # order the Spark job gives them
    files.sort(key=lambda f: -f[0])

    def overlaps(id_range, start_range) -> bool:
        return (id_range is None or any(id_range[0] <= i <= id_range[1] for i in ids)) and (
            start_range is None or (start_range[0] <= hi and start_range[1] >= lo)
        )

    plan, kept_bytes = [], 0
    for _, path, footer in files:
        groups = [(g, b) for g, b, p, s in footer.groups if overlaps(p, s)]
        kept_bytes += sum(b for _, b in groups)
        if groups:
            plan.append((path, footer.metadata, [g for g, _ in groups]))
    spark = df.sparkSession
    limit = _max_result_bytes(spark)
    if limit and kept_bytes > limit:
        return None

    schema = to_arrow_schema(
        T.StructType([fields[n] for n in _TRACE_COLUMNS]),
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    parts = [schema.empty_table()]
    for path, metadata, groups in plan:
        with pq.ParquetFile(path, metadata=metadata) as pf:
            part = pf.read_row_groups(groups, columns=_TRACE_COLUMNS)
        parts.append(part.select(_TRACE_COLUMNS).cast(schema))
    rows = pa.concat_tables(parts)
    us = pa.timestamp("us", "UTC")
    for name in ("startTime", "endTime"):
        if pc.any(pc.less(rows.column(name), pa.scalar(_MIN_DRIVER_US, us))).as_py():
            return None
    start_col = rows.column("startTime")
    keep = pc.and_(
        pc.is_in(rows.column("paramIndex"), value_set=pa.array(ids, pa.int64())),
        pc.and_(
            pc.greater_equal(start_col, pa.scalar(lo, us)),
            pc.less_equal(start_col, pa.scalar(hi, us)),
        ),
    )
    # a null comparison drops its row, as Spark's WHERE does
    return rows.filter(keep)


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

    The filter→gunzip→sort plan runs once, in the write, and an
    ``Observation`` counts its rows on the way: no second job reads the
    output back, and no count() before the write runs the pipeline
    twice.
    """
    spark = df.sparkSession
    rows = Observation()
    result = export_trace(df, ids, start, end).observe(rows, F.count(F.lit(1)).alias("n"))
    result.coalesce(1).write.mode("overwrite").parquet(out_path)
    n = rows.get["n"]
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
