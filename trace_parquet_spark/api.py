"""Request model + validation replicating the reference API contract.

The reference exposes ``GET /api/data/parameters/trace/parquet`` with
bean validation on the DTO and a range-sanity check in the controller
(reference: dto/DataExportRequest.java:17-26,
controller/DataExportController.java:39-43). This layer is pure
Python — validation happens before any Spark job is submitted.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

from .errors import ValidationError

_ISO = "%Y-%m-%dT%H:%M:%S"
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


@dataclass
class DataExportRequest:
    """Validated export request (E2/E3 semantics).

    Messages replicate the reference exactly:
      - "parameterIndices cannot be empty."
      - "startTime cannot be null." / "endTime cannot be null."
      - "Invalid date range: startTime cannot be after endTime."
    """

    parameter_indices: list[int] = field(default_factory=list)
    start_time: datetime | None = None
    end_time: datetime | None = None

    @classmethod
    def parse(
        cls,
        parameter_indices: list[int] | str | None,
        start_time: str | datetime | None,
        end_time: str | datetime | None,
    ) -> "DataExportRequest":
        errors: list[str] = []

        ids: list[int] = []
        if isinstance(parameter_indices, str):
            parts = [p for p in parameter_indices.split(",") if p.strip()]
            try:
                ids = [int(p) for p in parts]
            except ValueError:
                errors.append("parameterIndices must be integers.")
        elif parameter_indices:
            ids = [int(p) for p in parameter_indices]
        # the reference binds ids to List<Long>: a value outside the
        # signed 64-bit range fails the binding
        if not all(_LONG_MIN <= i <= _LONG_MAX for i in ids):
            ids = []
            errors.append("parameterIndices must be integers.")
        if not ids and not errors:
            errors.append("parameterIndices cannot be empty.")

        start = cls._parse_ts("startTime", start_time, errors)
        end = cls._parse_ts("endTime", end_time, errors)
        if errors:
            raise ValidationError(" ".join(errors))

        assert start is not None and end is not None
        if start > end:
            raise ValidationError(
                "Invalid date range: startTime cannot be after endTime."
            )
        return cls(ids, start, end)

    @staticmethod
    def _parse_ts(
        name: str, value: str | datetime | None, errors: list[str]
    ) -> datetime | None:
        if value is None or value == "":
            errors.append(f"{name} cannot be null.")
            return None
        if isinstance(value, datetime):
            return value
        try:
            return datetime.fromisoformat(value)
        except ValueError:
            errors.append(f"{name} must be a valid ISO-8601 timestamp.")
            return None
