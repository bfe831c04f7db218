"""Round-trip tests mirroring the reference's service test
(reference: test/.../ParquetConversionServiceTest.java:45-94):
engine output → independent pyarrow read-back → field-level equality,
plus the empty-input case and the golden reference artifact."""

from __future__ import annotations

import datetime
import json
import uuid

import pyarrow.parquet as pq
import pytest

from trace_parquet_spark.errors import NoDataFoundError
from trace_parquet_spark.operators.trace_export import (
    export_trace,
    export_trace_to_file,
    make_trace_fixture,
    open_payload,
)


def test_roundtrip_with_pyarrow_readback(spark, tmp_path):
    df = make_trace_fixture(spark)
    out = str(tmp_path / "out.parquet")
    n = export_trace_to_file(df, [1, 2], "2024-01-10T00:00:00", "2024-01-10T23:59:59", out)
    assert n == 2

    table = pq.read_table(out)
    assert table.num_rows == 2
    cols = table.to_pydict()
    assert cols["paramIndex"] == [1, 2]
    assert json.loads(cols["traceData"][0]) == {"value": 100, "status": "OK"}
    assert json.loads(cols["traceData"][1]) == {
        "value": 250, "status": "WARN", "temp": 45.5,
    }
    # physical type matches the reference's timestamp-millis
    assert "timestamp[ms" in str(table.schema.field("startTime").type)


def test_order_and_boundary_inclusive(spark):
    df = make_trace_fixture(spark)
    # boundary == startTime of row 1 and == startTime of row 3: both in
    rows = export_trace(
        df, [3, 1], "2024-01-10T10:00:00", "2024-01-10T10:02:00"
    ).collect()
    assert [r.paramIndex for r in rows] == [1, 3]
    # END_TIME is never filtered: row with endTime outside still matches
    rows = export_trace(df, [1], "2024-01-10T10:00:00", "2024-01-10T10:00:00").collect()
    assert len(rows) == 1


def test_empty_ids_short_circuits(spark):
    df = make_trace_fixture(spark)
    assert export_trace(df, [], "2024-01-01T00:00:00", "2024-12-31T00:00:00").count() == 0


def test_no_match_raises_404_semantics(spark, tmp_path):
    df = make_trace_fixture(spark)
    with pytest.raises(NoDataFoundError, match="No data found"):
        export_trace_to_file(
            df, [999], "2024-01-01T00:00:00", "2024-12-31T00:00:00",
            str(tmp_path / "never.parquet"),
        )


def test_golden_against_reference_artifact(spark):
    """Semantic comparison vs the committed reference output
    (/root/reference/data.parquet). Its timestamps were written by a
    UTC+9 JVM (SURVEY §1.3): 2024-01-10T10:00 KST == 01:00 UTC."""
    golden = pq.read_table("/root/reference/data.parquet").to_pydict()
    df = make_trace_fixture(spark)
    rows = export_trace(
        df, [1, 2], "2024-01-01T00:00:00", "2024-12-31T00:00:00"
    ).collect()
    assert [r.paramIndex for r in rows] == golden["paramIndex"]
    assert [r.traceData for r in rows] == golden["traceData"]
    # golden startTime is 01:00 UTC; ours (UTC session) is 10:00 —
    # same wall-clock instant under the reference JVM's KST zone.
    kst = datetime.timezone(datetime.timedelta(hours=9))
    for ours, theirs in zip(rows, golden["startTime"]):
        assert ours.startTime.replace(tzinfo=kst).astimezone(
            datetime.timezone.utc
        ).replace(tzinfo=None) == theirs.replace(tzinfo=None)


def test_open_payload_types(spark):
    df = make_trace_fixture(spark)
    opened = open_payload(
        export_trace(df, [1, 2, 3], "2024-01-01T00:00:00", "2024-12-31T00:00:00")
    )
    got = {r.paramIndex: r for r in opened.collect()}
    assert got[1].value == 100 and got[1].status == "OK" and got[1].temp is None
    assert got[2].temp == 45.5
    assert got[3].pressure == 1.5


def _jobs_in_group(spark, run) -> int:
    """How many Spark jobs ``run()`` starts, counted by job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4()}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_export_to_file_counts_rows_without_reading_them_back(spark, tmp_path):
    """The row count comes from the write itself: the export runs as
    many jobs as the same write alone."""
    df = make_trace_fixture(spark)
    lo, hi = "2024-01-01T00:00:00", "2024-12-31T00:00:00"
    n = []
    export_jobs = _jobs_in_group(
        spark, lambda: n.append(export_trace_to_file(df, [1, 2], lo, hi, str(tmp_path / "a")))
    )
    write_jobs = _jobs_in_group(
        spark,
        lambda: export_trace(df, [1, 2], lo, hi)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "b")),
    )
    assert n == [2]
    assert export_jobs == write_jobs
    assert pq.read_table(str(tmp_path / "a")).num_rows == 2


def test_export_to_file_of_nothing_removes_the_output(spark, tmp_path):
    out = tmp_path / "empty.parquet"
    with pytest.raises(NoDataFoundError):
        export_trace_to_file(
            make_trace_fixture(spark), [1], "2030-01-01T00:00:00", "2030-02-01T00:00:00", str(out)
        )
    assert not out.exists()
