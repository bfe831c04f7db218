"""The export read on the driver (``trace_export.select_trace_arrow``):
a bare Parquet scan with datetime bounds is answered from the file
footers and pyarrow without a Spark job, with the same bytes the Spark
job gives; every other input keeps the Spark job."""

from __future__ import annotations

import gzip
import io
import itertools
import json
import logging
import os
import random
import subprocess
import sys
import urllib.error
import urllib.request
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from trace_parquet_spark.errors import NoDataFoundError
from trace_parquet_spark.http_service import (
    EXPORT_PATH,
    TraceExportServer,
    _encode,
    export_trace_to_bytes,
    handle_export,
)
from trace_parquet_spark.operators import trace_export
from trace_parquet_spark.operators.trace_export import (
    export_trace,
    export_trace_to_file,
    make_trace_fixture,
    select_trace,
    select_trace_arrow,
)
from trace_parquet_spark.schemas import TRACE_PARAM_SCHEMA
from trace_parquet_spark.sources import tablelog

UTC = timezone.utc
BASE = datetime(2024, 3, 1, tzinfo=UTC)
ARROW_SCHEMA = pa.schema(
    [
        ("paramIndex", pa.int64()),
        ("startTime", pa.timestamp("ms", "UTC")),
        ("endTime", pa.timestamp("ms", "UTC")),
        ("traceData", pa.binary()),
    ]
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GROUPS = itertools.count()


def _jobs(spark, run):
    """(what ``run()`` returned or raised, the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"driver-read-{next(_GROUPS)}"
    sc.setJobGroup(group, "count the jobs of one export")
    try:
        out = run()
    except Exception as e:  # noqa: BLE001 - the outcome is compared
        out = e
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _outcome(out):
    """Bytes, or the class of the exception, so answers compare."""
    return out if isinstance(out, bytes) else type(out)


def _parent_body(df, ids, lo, hi) -> bytes:
    """The body as the Spark job alone builds it."""
    raw = select_trace(df, ids, lo, hi).toArrow()
    if raw.num_rows == 0:
        raise NoDataFoundError()
    return _encode(raw.sort_by([("paramIndex", "ascending"), ("startTime", "ascending")]))


def _payload(k: int) -> bytes:
    return gzip.compress(json.dumps({"value": k, "status": "OK"}).encode(), mtime=0)


def _trace_rows(seed: int, n: int, micros: bool) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    for k in range(n):
        sub = rng.randint(0, 999_999) if micros else rng.randint(0, 999) * 1000
        start = BASE + timedelta(seconds=rng.randint(0, 3 * 86400), microseconds=sub)
        rows.append(
            {
                "paramIndex": rng.randint(1, 6),
                "startTime": start,
                "endTime": start + timedelta(seconds=rng.randint(1, 60)),
                "traceData": None if k % 11 == 3 else _payload(seed * 1000 + k),
            }
        )
    return rows


def _write(rows: list[dict], path: str, unit: str = "ms", row_group_size: int = 7) -> None:
    schema = pa.schema(
        [
            ("paramIndex", pa.int64()),
            ("startTime", pa.timestamp(unit, "UTC")),
            ("endTime", pa.timestamp(unit, "UTC")),
            ("traceData", pa.binary()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path, row_group_size=row_group_size)


@pytest.fixture(scope="module")
def parquet_dir(tmp_path_factory):
    """Four files, several row groups each: one sorted (tight stats),
    one in microseconds, nulls in every column, and rows tied on
    (paramIndex, startTime) across files of different sizes."""
    d = tmp_path_factory.mktemp("driver_read") / "fixture"
    d.mkdir()
    sorted_rows = sorted(_trace_rows(1, 60, False), key=lambda r: (r["paramIndex"], r["startTime"]))
    _write(sorted_rows, str(d / "part-0.parquet"))
    _write(_trace_rows(2, 45, False), str(d / "part-1.parquet"), row_group_size=10)
    _write(_trace_rows(3, 30, True), str(d / "part-2.parquet"), unit="us")
    tied = dict(sorted_rows[10], endTime=BASE, traceData=_payload(-1))
    nulls = [
        dict(sorted_rows[0], paramIndex=None),
        dict(sorted_rows[1], startTime=None),
        dict(sorted_rows[2], endTime=None),
        tied,
    ]
    _write(nulls, str(d / "part-3.parquet"))
    return str(d)


def _requests(rows_start: list[datetime]):
    starts = sorted(rows_start)
    plus2 = timezone(timedelta(hours=2))
    return [
        ([1], BASE, BASE + timedelta(days=1)),
        ([2, 3, 5], BASE + timedelta(hours=12), BASE + timedelta(days=2)),
        # bounds equal to stored times: BETWEEN is inclusive
        ([1, 2, 3, 4, 5, 6], starts[5], starts[-5]),
        ([4, 6], (BASE + timedelta(hours=30)).astimezone(plus2), BASE + timedelta(days=3)),
        ([6, 1], (BASE + timedelta(hours=5)).replace(tzinfo=None), (BASE + timedelta(days=2)).replace(tzinfo=None)),
        ([3], BASE + timedelta(days=30), BASE + timedelta(days=31)),  # empty window
        ([99], BASE, BASE + timedelta(days=3)),  # no such id
    ]


def _assert_driver_matches_spark(spark, df, requests):
    answered = 0
    for ids, lo, hi in requests:
        driver, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, ids, lo, hi))
        assert jobs == 0, (ids, lo, hi)
        spark_path = _jobs(spark, lambda: export_trace_to_bytes(df.select("*"), ids, lo, hi))[0]
        assert _outcome(driver) == _outcome(spark_path), (ids, lo, hi)
        if isinstance(driver, bytes):
            answered += 1
            raw = select_trace_arrow(df, ids, lo, hi)
            assert raw.schema == select_trace(df, ids, lo, hi).toArrow().schema
        else:
            assert isinstance(driver, NoDataFoundError)
    return answered


def test_parquet_fixture_bodies_match_the_spark_job(spark, parquet_dir):
    df = spark.read.schema(TRACE_PARAM_SCHEMA).parquet(parquet_dir)
    starts = [r["startTime"] for r in _trace_rows(1, 60, False)]
    assert _assert_driver_matches_spark(spark, df, _requests(starts)) == 5


def test_tablelog_snapshot_bodies_match_the_spark_job(spark, tmp_path):
    table = str(tmp_path / "table")
    starts = []
    for seed in (11, 12, 13):
        rows = _trace_rows(seed, 25, False)
        starts += [r["startTime"] for r in rows]
        tablelog.append(spark.createDataFrame(rows, TRACE_PARAM_SCHEMA), table)
    tablelog.optimize_table(spark, table, 2)
    tablelog.append(spark.createDataFrame(_trace_rows(14, 25, False), TRACE_PARAM_SCHEMA), table)
    df = tablelog.read_table(spark, table)
    assert len(df.inputFiles()) > 2
    assert _assert_driver_matches_spark(spark, df, _requests(starts)) == 5


# ---------------------------------------------- the contract on the driver path

LO, HI = datetime(2024, 1, 1), datetime(2024, 12, 31)


def _spark_written(df, ids, lo, hi, tmp_path) -> str:
    out = str(tmp_path / "spark_written.parquet")
    export_trace_to_file(df, ids, lo, hi, out)
    (part,) = [os.path.join(out, f) for f in os.listdir(out) if f.startswith("part-")]
    return part


def _columns(pf: pq.ParquetFile) -> list[tuple]:
    return [
        (c.name, c.physical_type, str(c.logical_type), c.max_definition_level)
        for c in pf.schema
    ]


def test_driver_body_schema_matches_spark_writer(spark, tmp_path):
    src = str(tmp_path / "src")
    make_trace_fixture(spark).write.parquet(src)
    df = spark.read.parquet(src)
    body, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, [1, 2, 3], LO, HI))
    assert jobs == 0
    written = _spark_written(df, [1, 2, 3], LO, HI, tmp_path)
    assert _columns(pq.ParquetFile(io.BytesIO(body))) == _columns(pq.ParquetFile(written))
    assert len(body) <= os.path.getsize(written)
    path = tmp_path / "body.parquet"
    path.write_bytes(body)
    assert spark.read.parquet(str(path)).collect() == export_trace(df, [1, 2, 3], LO, HI).collect()


def test_driver_floors_sub_millisecond_times_like_spark_and_passes_null_payload(spark, tmp_path):
    gz = gzip.compress(b'{"value": 1}', mtime=0)
    rows = [
        # -1500 us and -500 us: Spark floors to -2 ms and -1 ms
        (1, datetime(1969, 12, 31, 23, 59, 59, 998500, UTC), datetime(1969, 12, 31, 23, 59, 59, 999500, UTC), gz),
        (1, datetime(1970, 1, 1, 0, 0, 0, 1500, UTC), datetime(1970, 1, 1, 0, 0, 0, 999, UTC), None),
        (2, datetime(2024, 1, 10, 10, 0, 0, 123999, UTC), datetime(2024, 1, 10, 10, 0, 5, 500, UTC), gz),
    ]
    src = tmp_path / "src"
    src.mkdir()
    _write([dict(zip(ARROW_SCHEMA.names, r)) for r in rows], str(src / "part-0.parquet"), unit="us")
    df = spark.read.schema(TRACE_PARAM_SCHEMA).parquet(str(src))
    lo, hi = datetime(1969, 12, 31, tzinfo=UTC), datetime(2024, 12, 31, tzinfo=UTC)
    body, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, [1, 2], lo, hi))
    assert jobs == 0
    got = pq.read_table(io.BytesIO(body))
    assert got.to_pydict() == pq.read_table(_spark_written(df, [1, 2], lo, hi, tmp_path)).to_pydict()
    assert got.column("startTime").cast("int64").to_pylist() == [-2, 1, 1704880800123]
    assert got.column("traceData").to_pylist() == ['{"value": 1}', None, '{"value": 1}']


def test_driver_corrupt_payload_is_a_logged_500(spark, tmp_path, caplog):
    src = tmp_path / "src"
    src.mkdir()
    row = {"paramIndex": 1, "startTime": BASE, "endTime": BASE, "traceData": b"not a gzip member"}
    _write([row], str(src / "part-0.parquet"))
    df = spark.read.schema(TRACE_PARAM_SCHEMA).parquet(str(src))
    params = {"parameterIndices": "1", "startTime": "2024-01-01T00:00:00", "endTime": "2024-12-31T00:00:00"}
    with caplog.at_level(logging.ERROR, logger="trace_parquet_spark"):
        (status, headers, body), jobs = _jobs(spark, lambda: handle_export(df, params))
    assert jobs == 0
    err = json.loads(body)
    assert status == 500 and headers["Content-Type"] == "application/json"
    assert (err["status"], err["error"], err["message"], err["path"]) == (
        500, "Internal Server Error", "An internal server error occurred.", None,
    )
    (record,) = [r for r in caplog.records if r.name == "trace_parquet_spark"]
    assert isinstance(record.exc_info[1], gzip.BadGzipFile)


def test_driver_empty_window_is_404(spark, tmp_path):
    src = str(tmp_path / "src")
    make_trace_fixture(spark).write.parquet(src)
    params = {"parameterIndices": "1,2,3", "startTime": "2030-01-01T00:00:00", "endTime": "2030-02-01T00:00:00"}
    df = spark.read.parquet(src)
    (status, _, body), jobs = _jobs(spark, lambda: handle_export(df, params))
    assert jobs == 0
    assert status == 404 and json.loads(body)["message"] == "No data found for the given criteria."


# ------------------------------------------------------------ which path runs


def _dv_table(spark, tmp_path):
    table = str(tmp_path / "dv")
    tablelog.append(make_trace_fixture(spark), table)
    tablelog.delete_where(spark, table, "paramIndex = 2")
    return tablelog.read_table(spark, table), LO, HI


def _mapped_table(spark, tmp_path):
    from pyspark.sql import functions as F

    table = str(tmp_path / "mapped")
    tablelog.append(make_trace_fixture(spark).withColumn("note", F.lit("n")), table)
    tablelog.rename_column(table, "note", "memo")
    return tablelog.read_table(spark, table), LO, HI


def _in_memory(spark, tmp_path):
    return make_trace_fixture(spark), LO, HI


def _partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "partitioned")
    make_trace_fixture(spark).withColumn("day", F.lit(10)).write.partitionBy("day").parquet(src)
    return spark.read.parquet(src), LO, HI


def _string_bounds(spark, tmp_path):
    src = str(tmp_path / "plain")
    make_trace_fixture(spark).write.parquet(src)
    return spark.read.parquet(src), "2024-01-01T00:00:00", "2024-12-31T00:00:00"


def _nanos_file(spark, tmp_path):
    src = tmp_path / "nanos"
    src.mkdir()
    rows = [{"paramIndex": 1, "startTime": BASE, "endTime": BASE, "traceData": _payload(1)}]
    _write(rows, str(src / "part-0.parquet"), unit="ns")
    return spark.read.schema(TRACE_PARAM_SCHEMA).parquet(str(src)), LO, HI


def _old_times(spark, tmp_path):
    src = tmp_path / "old"
    src.mkdir()
    rows = [
        {"paramIndex": 1, "startTime": datetime(1850, 6, 1, tzinfo=UTC), "endTime": BASE, "traceData": _payload(1)},
        {"paramIndex": 2, "startTime": BASE, "endTime": BASE, "traceData": _payload(2)},
    ]
    _write(rows, str(src / "part-0.parquet"))
    return spark.read.schema(TRACE_PARAM_SCHEMA).parquet(str(src))


def _bound_before_1900(spark, tmp_path):
    # Spark may rebase a time before 1900 between calendars
    return _old_times(spark, tmp_path), datetime(1800, 1, 1, tzinfo=UTC), HI


def _stored_before_1900(spark, tmp_path):
    return _old_times(spark, tmp_path), datetime(1950, 1, 1, tzinfo=UTC), HI


def _over_size_limit(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(trace_export, "_max_result_bytes", lambda spark: 1)
    return _string_bounds(spark, tmp_path)[0], LO, HI


@pytest.mark.parametrize(
    "source",
    [
        _dv_table, _mapped_table, _in_memory, _partitioned, _string_bounds, _nanos_file,
        _bound_before_1900, _stored_before_1900, _over_size_limit,
    ],
)
def test_declined_inputs_keep_the_spark_job(spark, tmp_path, monkeypatch, source):
    args = (spark, tmp_path, monkeypatch) if source is _over_size_limit else (spark, tmp_path)
    df, lo, hi = source(*args)
    assert trace_export._read_on_driver(df, [1, 2, 3], lo, hi) is None
    out, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, [1, 2, 3], lo, hi))
    assert jobs >= 1
    assert _outcome(out) == _outcome(_jobs(spark, lambda: _parent_body(df, [1, 2, 3], lo, hi))[0])


def test_source_path_with_space_and_percent_is_read_on_the_driver(spark, tmp_path):
    src = str(tmp_path / "a dir %20 x")
    make_trace_fixture(spark).write.parquet(src)
    df = spark.read.parquet(src)
    body, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, [1, 3], LO, HI))
    assert jobs == 0
    assert body == export_trace_to_bytes(df.select("*"), [1, 3], LO, HI)


# ----------------------------------------------------------------- footer cache


def test_file_rewritten_in_place_is_read_again(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "part-0.parquet")
    _write(_trace_rows(21, 20, False), path, row_group_size=3)
    lo, hi = BASE, BASE + timedelta(days=3)
    first = export_trace_to_bytes(spark.read.parquet(str(src)), [1, 2, 3, 4, 5, 6], lo, hi)
    _write(_trace_rows(22, 31, False), path, row_group_size=4)
    df = spark.read.parquet(str(src))
    body, jobs = _jobs(spark, lambda: export_trace_to_bytes(df, [1, 2, 3, 4, 5, 6], lo, hi))
    assert jobs == 0
    assert body != first
    assert body == export_trace_to_bytes(df.select("*"), [1, 2, 3, 4, 5, 6], lo, hi)


def test_footer_cache_under_concurrent_readers(tmp_path, monkeypatch):
    """More threads than cores share a cache smaller than the file set:
    every lookup returns the footer of the file asked for, and the LRU
    bound holds."""
    import threading

    paths = []
    for k in range(6):
        paths.append(str(tmp_path / f"part-{k}.parquet"))
        _write(_trace_rows(40 + k, 3 + k, False), paths[-1])
    monkeypatch.setattr(trace_export, "_FOOTERS", trace_export.OrderedDict())
    monkeypatch.setattr(trace_export, "_FOOTERS_MAX", 3)
    wrong = []

    def read(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(300):
            k = rng.randrange(len(paths))
            if trace_export._footer(paths[k])[1].metadata.num_rows != 3 + k:
                wrong.append(k)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read, args=(i,)) for i in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(trace_export._FOOTERS) <= 3


def test_deleted_file_is_a_logged_500(spark, tmp_path, caplog):
    src = str(tmp_path / "src")
    make_trace_fixture(spark).repartition(2).write.parquet(src)
    df = spark.read.parquet(src)
    params = {"parameterIndices": "1,2,3", "startTime": "2024-01-01T00:00:00", "endTime": "2024-12-31T00:00:00"}
    assert handle_export(df, params)[0] == 200
    os.remove(trace_export._parquet_files(df)[0])
    with caplog.at_level(logging.ERROR, logger="trace_parquet_spark"):
        status, _, body = handle_export(df, params)
    assert status == 500
    assert json.loads(body)["message"] == "An internal server error occurred."
    (record,) = [r for r in caplog.records if r.name == "trace_parquet_spark"]
    assert isinstance(record.exc_info[1], FileNotFoundError)


# ------------------------------------- a server over a tablelog that is rewritten


def _get(port: int, query: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{EXPORT_PATH}?{query}") as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_server_over_a_compacted_and_expired_tablelog(spark, tmp_path, caplog):
    """The server holds the file list of the snapshot it started with.
    After OPTIMIZE and vacuum it serves that snapshot, whose files
    vacuum keeps; once expire_snapshots deletes them it answers the
    uniform 500 with the cause logged, on both paths, and never bytes
    of a removed file."""
    table = str(tmp_path / "table")
    for seed in (31, 32, 33):
        tablelog.append(spark.createDataFrame(_trace_rows(seed, 20, False), TRACE_PARAM_SCHEMA), table)
    query = "parameterIndices=1,2,3&startTime=2024-03-01T00:00:00&endTime=2024-03-04T00:00:00"
    snapshot = tablelog.read_table(spark, table)
    servers = [TraceExportServer(snapshot), TraceExportServer(snapshot.select("*"))]
    ports = [s.start() for s in servers]
    try:
        before = [_get(p, query) for p in ports]
        assert before[0] == before[1] and before[0][0] == 200

        tablelog.append(spark.createDataFrame(_trace_rows(34, 20, False), TRACE_PARAM_SCHEMA), table)
        tablelog.optimize_table(spark, table, 1)
        assert tablelog.vacuum(table) == []
        # a stale snapshot: the appended rows are not served
        assert [_get(p, query) for p in ports] == before

        tablelog.expire_snapshots(table, tablelog.latest_version(table))
        assert not any(os.path.exists(p) for p in trace_export._parquet_files(snapshot))
        with caplog.at_level(logging.ERROR, logger="trace_parquet_spark"):
            after = [_get(p, query) for p in ports]
    finally:
        for s in servers:
            s.stop()
    for status, body in after:
        assert status == 500
        assert json.loads(body)["message"] == "An internal server error occurred."
    causes = [r.exc_info[1] for r in caplog.records if r.name == "trace_parquet_spark"]
    assert len(causes) == 2
    assert isinstance(causes[0], FileNotFoundError)
    assert "FILE_NOT_EXIST" in str(causes[1])


# ------------------------------------------------------------------ time zones

_TZ_SCRIPT = r"""
import json, sys
from datetime import datetime, timedelta, timezone
sys.path.insert(0, sys.argv[1])
import pyarrow as pa, pyarrow.parquet as pq
from trace_parquet_spark.session import get_spark
from trace_parquet_spark.http_service import export_trace_to_bytes
from trace_parquet_spark.schemas import TRACE_PARAM_SCHEMA

spark = get_spark(app_name="tz", cpus=2, shuffle_partitions=2, driver_memory="1g")
u = timezone.utc
times = [
    datetime(2024, 1, 10, 14, 59, 59, 999000, u), datetime(2024, 1, 10, 15, 0, tzinfo=u),
    datetime(2024, 1, 10, 15, 0, 0, 1000, u), datetime(2024, 1, 10, 16, 0, tzinfo=u),
    datetime(2024, 1, 10, 16, 0, 0, 1000, u), datetime(2024, 7, 10, 13, 59, 59, 999000, u),
    datetime(2024, 7, 10, 14, 0, tzinfo=u), datetime(2024, 7, 10, 15, 0, tzinfo=u),
]
ts = pa.timestamp("ms", "UTC")
pq.write_table(pa.table({
    "paramIndex": pa.array([1] * len(times), pa.int64()),
    "startTime": pa.array(times, ts), "endTime": pa.array(times, ts),
    "traceData": pa.array([None] * len(times), pa.binary()),
}), sys.argv[2] + "/part-0.parquet")
df = spark.read.schema(TRACE_PARAM_SCHEMA).parquet(sys.argv[2])
sc = spark.sparkContext
bounds = {
    "naive_winter": (datetime(2024, 1, 10, 10), datetime(2024, 1, 10, 11)),
    "naive_summer": (datetime(2024, 7, 10, 10), datetime(2024, 7, 10, 11)),
    "aware_utc": (datetime(2024, 1, 10, 15, tzinfo=u), datetime(2024, 1, 10, 16, tzinfo=u)),
    "aware_plus2": (datetime(2024, 7, 10, 16, tzinfo=timezone(timedelta(hours=2))),
                    datetime(2024, 7, 10, 17, tzinfo=timezone(timedelta(hours=2)))),
}
out = {}
for name, (lo, hi) in bounds.items():
    sc.setJobGroup(name, name)
    driver = export_trace_to_bytes(df, [1], lo, hi)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    rows = pq.read_table(pa.BufferReader(driver)).num_rows
    out[name] = [jobs, rows, driver == export_trace_to_bytes(df.select("*"), [1], lo, hi)]
print(json.dumps(out))
"""


def test_naive_and_aware_bounds_agree_in_a_non_utc_zone(tmp_path):
    env = dict(os.environ, TZ="America/New_York")
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, REPO, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    # [Spark jobs on the driver path, rows, same bytes as the Spark job];
    # naive bounds are New York wall time: 10:00 is 15:00Z in winter
    # and 14:00Z in summer
    assert got == {
        "naive_winter": [0, 3, True],
        "naive_summer": [0, 2, True],
        "aware_utc": [0, 3, True],
        "aware_plus2": [0, 2, True],
    }
