"""Seeded input generators for the benchmark.

Everything a workload feeds the engine comes from here, derived from
the workload seed alone: the trace fixture, the request lists, the
ingest slices and the corpus documents. The engine never sees the seed,
only the generated inputs. Expected results are computed here too, in
plain numpy/Python, so the checks do not depend on the engine.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = datetime(2024, 1, 1)
BASE_EPOCH_S = int((BASE - datetime(1970, 1, 1)).total_seconds())
N_PARAMS = 120
ROWS_PER_PARAM = 1000
SPAN_S = 48 * 3600  # fixture covers two days
FIXTURE_FILES = 4
ROW_GROUP_ROWS = 8192
STATUSES = ("OK", "WARN", "CRITICAL")

# export_small: one id, one-hour window; Zipf-skewed ids so hot keys repeat
SMALL_WINDOW_S = 3600
ZIPF_S = 1.1
SHARE_400 = 0.06  # reversed range → 400
SHARE_404 = 0.06  # window past the data → 404
# ingest_export: one slice per op, after the fixture's span
SLICE_S = 600
SLICE_PARAMS = 40
SLICE_ROWS_PER_PARAM = 25
# corpus documents: the sf0.1 shape (31-word vocabulary, ~0.2% exact
# and ~2% near duplicates); sf0.1 itself holds 5000
N_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so adding draws to
    one stream never shifts another."""
    key = [int(seed)] + list(stream.encode())
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _payload_texts(rng: np.random.Generator, seqs: np.ndarray) -> list[str]:
    """Compact JSON trace payloads (formatted directly: json.dumps
    costs twice as much per row)."""
    n = len(seqs)
    values = rng.integers(0, 1000, n).tolist()
    status = rng.choice(len(STATUSES), n, p=(0.8, 0.15, 0.05)).tolist()
    temps = np.round(rng.normal(40.0, 8.0, n), 2).tolist()
    samples = np.round(rng.normal(0.0, 1.0, (n, 8)), 3).tolist()
    return [
        f'{{"seq":{s},"value":{values[i]},"status":"{STATUSES[status[i]]}",'
        f'"temp":{temps[i]!r},"samples":[{",".join(map(repr, samples[i]))}]}}'
        for i, s in enumerate(seqs.tolist())
    ]


def _gzip_all(texts: list[str]) -> list[bytes]:
    return [gzip.compress(t.encode("utf-8"), mtime=0) for t in texts]


@dataclass
class TraceRows:
    """Trace rows sorted by (paramIndex, startTime); startTime is unique
    within a param, so the export order is fully determined."""

    param: np.ndarray  # int64
    start_s: np.ndarray  # int64 seconds since BASE
    dur_s: np.ndarray  # int64
    text: list[str]

    def __len__(self) -> int:
        return len(self.param)

    def select(self, ids, lo_s: int, hi_s: int) -> np.ndarray:
        """Row positions the reference query returns, in export order:
        paramIndex IN ids AND startTime BETWEEN lo AND hi (inclusive),
        ORDER BY paramIndex, startTime."""
        out = []
        for p in sorted(set(int(i) for i in ids)):
            a = np.searchsorted(self.param, p, "left")
            b = np.searchsorted(self.param, p, "right")
            s = self.start_s[a:b]
            lo = a + np.searchsorted(s, lo_s, "left")
            hi = a + np.searchsorted(s, hi_s, "right")
            out.append(np.arange(lo, hi))
        return np.concatenate(out) if out else np.zeros(0, np.int64)

    def arrow(self) -> pa.Table:
        """The source-table shape (TRACE_PARAM_SCHEMA): gzipped payload,
        timestamps in UTC."""
        start_us = (self.start_s + BASE_EPOCH_S) * 1_000_000
        end_us = (self.start_s + self.dur_s + BASE_EPOCH_S) * 1_000_000
        ts = pa.timestamp("us", tz="UTC")
        return pa.table(
            {
                "paramIndex": pa.array(self.param, pa.int64()),
                "startTime": pa.array(start_us, ts),
                "endTime": pa.array(end_us, ts),
                "traceData": pa.array(_gzip_all(self.text), pa.binary()),
            }
        )


def _rows(rng: np.random.Generator, params, t0_s: int, span_s: int, per_param: int) -> TraceRows:
    param, start = [], []
    slot = span_s // per_param
    for p in params:
        # one row per slot at a seeded offset: startTime is unique within
        # a param, and every window of w seconds holds w/slot ± 1 rows, so
        # the rows a request returns depend on the seed only at the edges
        offs = np.arange(per_param) * slot + rng.integers(0, slot, per_param)
        param.append(np.full(per_param, p, np.int64))
        start.append(t0_s + offs.astype(np.int64))
    param = np.concatenate(param)
    start = np.concatenate(start)
    seqs = np.arange(len(param), dtype=np.int64)
    return TraceRows(
        param=param,
        start_s=start,
        dur_s=rng.integers(1, 30, len(param)).astype(np.int64),
        text=_payload_texts(rng, seqs),
    )


def trace_fixture(seed: int, rows_per_param: int = ROWS_PER_PARAM) -> TraceRows:
    return _rows(_rng(seed, "fixture"), range(N_PARAMS), 0, SPAN_S, rows_per_param)


def write_fixture(rows: TraceRows, out_dir: str) -> int:
    """Write the fixture as FIXTURE_FILES parquet files sorted by
    (paramIndex, startTime) with small row groups, so the scan's
    pushed-down filters can prune row groups. Returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    table = rows.arrow()
    n = len(rows)
    total = 0
    for k in range(FIXTURE_FILES):
        lo, hi = k * n // FIXTURE_FILES, (k + 1) * n // FIXTURE_FILES
        part = table.slice(lo, hi - lo)
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(part, path, row_group_size=ROW_GROUP_ROWS)
        total += os.path.getsize(path)
    return total


def iso(sec: int) -> str:
    return (BASE + timedelta(seconds=int(sec))).isoformat()


@dataclass
class Request:
    """One export request and the response it must get."""

    ids: list[int]
    lo_s: int
    hi_s: int
    status: int  # 200, 400 or 404

    def params(self) -> dict:
        return {
            "parameterIndices": ",".join(str(i) for i in self.ids),
            "startTime": iso(self.lo_s),
            "endTime": iso(self.hi_s),
        }


def small_requests(seed: int, n: int, stream: str = "small") -> list[Request]:
    """export_small: 1 id (Zipf over a seeded permutation of the ids),
    a one-hour window. A fixed number of requests, at seeded positions,
    has a reversed range (400) or a window past the data (404): a 400
    costs almost nothing, so a drawn count would move throughput."""
    rng = _rng(seed, stream)
    rank_p = 1.0 / np.arange(1, N_PARAMS + 1) ** ZIPF_S
    perm = rng.permutation(N_PARAMS)
    ids = perm[rng.choice(N_PARAMS, n, p=rank_p / rank_p.sum())]
    n400, n404 = round(SHARE_400 * n), round(SHARE_404 * n)
    kind = rng.permutation([400] * n400 + [404] * n404 + [200] * (n - n400 - n404))
    lo = rng.integers(0, SPAN_S - SMALL_WINDOW_S, n)
    out = []
    for i in range(n):
        a, b = int(lo[i]), int(lo[i]) + SMALL_WINDOW_S
        if kind[i] == 400:
            out.append(Request([int(ids[i])], b, a, 400))
        elif kind[i] == 404:
            out.append(Request([int(ids[i])], SPAN_S + a, SPAN_S + b, 404))
        else:
            out.append(Request([int(ids[i])], a, b, 200))
    return out


def ingest_slice(seed: int, k: int) -> TraceRows:
    """Slice k of the ingest stream: SLICE_PARAMS ids, each with
    SLICE_ROWS_PER_PARAM rows in [SPAN_S + k·SLICE_S, +SLICE_S)."""
    rng = _rng(seed, f"slice{k}")
    params = np.sort(rng.choice(N_PARAMS, SLICE_PARAMS, replace=False))
    return _rows(rng, params, SPAN_S + k * SLICE_S, SLICE_S, SLICE_ROWS_PER_PARAM)


def slice_request(rows: TraceRows, k: int) -> Request:
    """The export of the slice just written: its ids and its window."""
    lo = SPAN_S + k * SLICE_S
    return Request(sorted(set(int(p) for p in rows.param)), lo, lo + SLICE_S - 1, 200)


def documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """The `documents` registry table: vocabulary sentences, ~0.2% exact
    duplicates and ~2% near duplicates (two tokens replaced)."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
            continue
        toks = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
        if i > 10 and r < 0.022:
            toks = np.array(texts[rng.integers(0, i)].split(" "))
            for w in vocab[rng.integers(0, len(vocab), 2)]:
                toks[rng.integers(0, len(toks))] = w
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
