"""API-contract tests mirroring the reference controller tests
(reference: test/.../DataExportControllerTest.java:52-152) —
exact error messages included."""

from __future__ import annotations

import pytest

from trace_parquet_spark.api import DataExportRequest
from trace_parquet_spark.errors import ValidationError


def test_happy_path():
    req = DataExportRequest.parse("1,2", "2023-01-01T00:00:00", "2023-01-31T23:59:59")
    assert req.parameter_indices == [1, 2]


def test_unparseable_date():
    with pytest.raises(ValidationError):
        DataExportRequest.parse("1,2", "invalid-date", "2023-01-31T23:59:59")


def test_missing_end_time():
    with pytest.raises(ValidationError, match="endTime cannot be null."):
        DataExportRequest.parse("1,2", "2023-01-01T00:00:00", None)


def test_inverted_range():
    with pytest.raises(
        ValidationError,
        match="Invalid date range: startTime cannot be after endTime.",
    ):
        DataExportRequest.parse("1,2", "2023-01-31T23:59:59", "2023-01-01T00:00:00")


def test_empty_indices():
    with pytest.raises(ValidationError, match="parameterIndices cannot be empty."):
        DataExportRequest.parse("", "2023-01-01T00:00:00", "2023-01-31T23:59:59")


@pytest.mark.parametrize("ids", ["99999999999999999999", "1,-9223372036854775809"])
def test_ids_outside_signed_64_bit_range_are_400(ids):
    """The reference binds ids to List<Long>; a value that does not fit
    fails the binding."""
    with pytest.raises(ValidationError, match=r"^parameterIndices must be integers\.$"):
        DataExportRequest.parse(ids, "2023-01-01T00:00:00", "2023-01-31T23:59:59")


def test_ids_at_the_signed_64_bit_limits_parse():
    req = DataExportRequest.parse(
        "9223372036854775807,-9223372036854775808", "2023-01-01T00:00:00", "2023-01-31T23:59:59"
    )
    assert req.parameter_indices == [2**63 - 1, -(2**63)]
