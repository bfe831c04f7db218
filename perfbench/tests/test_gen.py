"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _fixture_bytes(seed: int, out) -> bytes:
    rows = gen.trace_fixture(seed, rows_per_param=20)
    gen.write_fixture(rows, str(out))
    return b"".join(
        (out / f).read_bytes() for f in sorted(os.listdir(out))
    )


def test_fixture_files_are_byte_identical_for_a_seed(tmp_path):
    a = _fixture_bytes(7, tmp_path / "a")
    b = _fixture_bytes(7, tmp_path / "b")
    c = _fixture_bytes(8, tmp_path / "c")
    assert a == b
    assert a != c


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.small_requests(s, 40),
        lambda s: [gen.slice_request(gen.ingest_slice(s, k), k) for k in range(3)],
        lambda s: [gen.ingest_slice(s, k).text for k in range(3)],
        lambda s: gen.documents(s, 300).to_pylist(),
    ],
    ids=["small_requests", "slice_requests", "slice_rows", "documents"],
)
def test_generated_inputs_repeat_for_a_seed_and_differ_across_seeds(make):
    assert make(3) == make(3)
    assert make(3) != make(4)


def test_small_requests_have_fixed_error_counts_and_repeat_hot_ids():
    reqs = gen.small_requests(5, 50)
    statuses = [r.status for r in reqs]
    assert statuses.count(400) == round(gen.SHARE_400 * 50)
    assert statuses.count(404) == round(gen.SHARE_404 * 50)
    ids = [r.ids[0] for r in reqs]
    assert len(set(ids)) < len(ids)  # Zipf: hot ids repeat
    for r in reqs:
        assert (r.lo_s > r.hi_s) == (r.status == 400)


def test_select_matches_a_brute_force_filter_and_sort():
    rows = gen.trace_fixture(11, rows_per_param=100)
    for req in gen.small_requests(11, 20):
        lo, hi = req.lo_s, req.hi_s
        want = sorted(
            (i for i in range(len(rows)) if rows.param[i] in req.ids and lo <= rows.start_s[i] <= hi),
            key=lambda i: (rows.param[i], rows.start_s[i]),
        )
        assert rows.select(req.ids, lo, hi).tolist() == want
        # a window longer than a slot holds a row unless it is past the data
        if req.status == 200:
            assert len(want) > 0
        if req.status == 404:
            assert want == []


def test_start_times_are_unique_within_each_param():
    rows = gen.trace_fixture(2, rows_per_param=200)
    keys = rows.param * (gen.SPAN_S + 1) + rows.start_s
    assert len(np.unique(keys)) == len(rows)
    assert (np.diff(keys) > 0).all()  # sorted in export order
