#!/usr/bin/env python3
"""Outside-in benchmark of the trace export service.

    python3 perfbench/run.py --workload export_small --seed 1 --seconds 20 --trace 0

Each workload is a fixed, seeded list of operations run in a closed
loop by one client against a warmed ``local[nproc]`` session. Every
output is checked against what the generator says it must be. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from datetime import datetime  # noqa: E402
from urllib.parse import urlencode  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Per-op time the op count is sized from: a run of --seconds S runs
# round(S / NOMINAL_OP_S) ops, so the same arguments always run the
# same work, whatever the machine's speed.
NOMINAL_OP_S = {"export_small": 1.2, "ingest_export": 2.0, "corpus_batch": 6.5}
# Warm-up ops before the timed window (measured on 4 cores: export
# latency falls ~25% over the first requests, corpus_clean from 25 s to
# 6-8 s over its first passes).
WARMUP_OPS = {"export_small": 6, "ingest_export": 3, "corpus_batch": 2}
# ingest: each append adds nproc files; with 20 live files allowed and
# compaction to 2, every fifth op compacts (on 4 cores). With every third
# op compacting, 4 of 10 timed ops were slow ones and the median flipped
# between the two kinds from run to run (spread 0.27 over ten seeds).
MAX_LIVE_FILES = 20
TARGET_FILES = 2
# inputs of the one-op sweep a traced run makes of the other workloads
SWEEP_ROWS_PER_PARAM = 50
SWEEP_DOCS = 400

ERRORS = {
    400: ("Bad Request", "Invalid date range: startTime cannot be after endTime."),
    404: ("Not Found", "No data found for the given criteria."),
}


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ------------------------------------------------------------------ host


def host_cpu() -> dict:
    """Steal seconds since boot and the 1-minute load average."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return {"steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK"), "loadavg_1m": load}


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the Spark JVM and
    the Python workers it forks (psutil is not available)."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    kb = 0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


# ----------------------------------------------------------------- spark


class JobCounter:
    """Jobs, stages and tasks run since the last call, read through the
    public ``SparkContext.statusTracker()`` API."""

    def __init__(self, sc) -> None:
        self.st = sc.statusTracker()
        self.seen = set(self.st.getJobIdsForGroup())

    def take(self) -> tuple[int, int, int, int]:
        ids = set(self.st.getJobIdsForGroup()) - self.seen
        self.seen |= ids
        stages = tasks = failed = 0
        for j in ids:
            info = self.st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = self.st.getStageInfo(s)
                if si and si.numCompletedTasks + si.numFailedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return len(ids), stages, tasks, failed


def plan_metrics(df) -> dict[tuple[str, str], float]:
    """SQL metrics of an executed DataFrame's physical plan, summed by
    (operator class, metric name); walks through adaptive query stages
    and cached relations, and skips reused exchanges (counted where
    they ran)."""
    out: dict[tuple[str, str], float] = {}

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return None
        if cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = (cls, kv._1())
            out[key] = out.get(key, 0) + kv._2().value()
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        return None

    walk(df._jdf.queryExecution().executedPlan())
    return out


def spark_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory."""
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the JVM exits when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------- workloads


def check_export_body(status, body, req, rows) -> str | None:
    """None when (status, body) is the reference's answer to ``req``
    over ``rows``; else what differs."""
    if status != req.status:
        return f"status {status}, expected {req.status}"
    if status != 200:
        err = json.loads(body)
        reason, message = ERRORS[status]
        datetime.fromisoformat(err["timestamp"])
        got = (err["status"], err["error"], err["message"], err["path"])
        return None if got == (status, reason, message, None) else f"error body {err}"
    t = pq.read_table(io.BytesIO(body))
    if t.column_names != ["paramIndex", "startTime", "endTime", "traceData"]:
        return f"columns {t.column_names}"
    exp = rows.select(req.ids, req.lo_s, req.hi_s)
    if t.num_rows != len(exp):
        return f"{t.num_rows} rows, expected {len(exp)}"

    def seconds(col):
        unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[col.type.unit]
        return col.cast(pa.int64()).to_numpy() // unit

    start = rows.start_s[exp] + gen.BASE_EPOCH_S
    if (t.column("paramIndex").to_numpy() != rows.param[exp]).any():
        return "paramIndex order"
    if (seconds(t.column("startTime")) != start).any():
        return "startTime order"
    if (seconds(t.column("endTime")) != start + rows.dur_s[exp]).any():
        return "endTime"
    if t.column("traceData").to_pylist() != [rows.text[i] for i in exp]:
        return "traceData text"
    return None


def body_rows(status, body) -> int:
    return pq.ParquetFile(io.BytesIO(body)).metadata.num_rows if status == 200 else 0


class Workload:
    """One workload: its inputs, the op it times, and how an op is checked.

    ``sweep`` builds a one-op variant on small inputs, which a traced
    run of another workload uses to reach layers that workload skips."""

    name = ""

    def __init__(self, seed: int, work: str, n_ops: int, tracer: Tracer, sweep=False):
        self.seed, self.tracer, self.sweep = seed, tracer, sweep
        self.work = os.path.join(work, self.name + ("-sweep" if sweep else ""))
        os.makedirs(self.work)
        self.n_ops = 1 if sweep else n_ops
        self.n_warm = 0 if sweep else WARMUP_OPS[self.name]
        self.user_bytes = 0  # payload bytes the ops hand to or get from the user

    def prepare(self) -> None:
        """Generate the inputs and expected results (untimed)."""

    def open(self, spark) -> None:
        """Open the source and start what serves it (part of set-up)."""
        self.spark = spark

    def run(self, spec):
        """One timed op."""
        raise NotImplementedError

    def check(self, spec, res) -> str | None:
        """None when ``res`` is right for ``spec``; else what differs."""
        raise NotImplementedError

    def rows(self, spec, res) -> int:
        raise NotImplementedError

    def written_bytes(self, results) -> float:
        raise NotImplementedError

    def full_op(self, spec) -> bool:
        """Whether the op runs the whole path (is not refused up front)."""
        return True

    def probe_exports(self) -> list:
        """(source DataFrame, Request) pairs a traced run re-plans and
        re-executes to time trace_export alone."""
        return []

    def close(self) -> None:
        pass


class ExportSmall(Workload):
    """HTTP GETs to TraceExportServer: 1 Zipf-drawn id, a 1 h window."""

    name = "export_small"

    def prepare(self):
        per = SWEEP_ROWS_PER_PARAM if self.sweep else gen.ROWS_PER_PARAM
        self.fixture = gen.trace_fixture(self.seed, per)
        self.fixture_dir = os.path.join(self.work, "fixture")
        gen.write_fixture(self.fixture, self.fixture_dir)
        # warm-up requests come from their own stream, so the timed list
        # has exactly its fixed count of 400s and 404s
        warm = gen.small_requests(self.seed, 2 * self.n_warm + 8, "small-warmup")
        warm = [r for r in warm if r.status == 200]
        self.warmup = warm[: self.n_warm]
        self.ops = warm[:1] if self.sweep else gen.small_requests(self.seed, self.n_ops)
        self.user_bytes = sum(
            len(self.fixture.text[i].encode())
            for r in self.ops
            if r.status == 200
            for i in self.fixture.select(r.ids, r.lo_s, r.hi_s)
        )
        self.server = None

    def open(self, spark):
        from trace_parquet_spark.http_service import TraceExportServer
        from trace_parquet_spark.schemas import TRACE_PARAM_SCHEMA

        self.spark = spark
        self.df = spark.read.schema(TRACE_PARAM_SCHEMA).parquet(self.fixture_dir)
        self.server = TraceExportServer(self.df)
        self.port = self.server.start()

    def run(self, req):
        from trace_parquet_spark.http_service import EXPORT_PATH

        with self.tracer.span("http_service.http_get"):
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            try:
                conn.request("GET", EXPORT_PATH + "?" + urlencode(req.params()))
                resp = conn.getresponse()
                return resp.status, resp.read()
            finally:
                conn.close()

    def check(self, req, res):
        return check_export_body(res[0], res[1], req, self.fixture)

    def rows(self, req, res):
        return body_rows(*res)

    def written_bytes(self, results):
        return sum(len(body) for status, body in results if status == 200)

    def full_op(self, req):
        return req.status != 400

    def probe_exports(self):
        return [(self.df, r) for r in self.ops if r.status == 200]

    def close(self):
        if self.server is not None:
            self.server.stop()


class IngestExport(Workload):
    """Append a seeded slice (gzip_compress + tablelog.append), run
    auto-compaction, then export the slice just written."""

    name = "ingest_export"

    def prepare(self):
        import pandas as pd

        self.table = os.path.join(self.work, "table")
        n = self.n_warm + self.n_ops
        self.slices = [gen.ingest_slice(self.seed, k) for k in range(n)]

        def ts(s):
            return pd.to_datetime(s + gen.BASE_EPOCH_S, unit="s", utc=True)

        self.frames = [
            pd.DataFrame(
                {
                    "paramIndex": r.param,
                    "startTime": ts(r.start_s),
                    "endTime": ts(r.start_s + r.dur_s),
                    "text": r.text,
                }
            )
            for r in self.slices
        ]
        # the table holds every slice, warm-up included
        self.user_bytes = sum(len(t.encode()) for t in self.gzip_texts())
        self.warmup = list(range(self.n_warm))
        self.ops = list(range(self.n_warm, n))

    def open(self, spark):
        from pyspark.sql import types as T

        self.spark = spark
        self.schema = T.StructType(
            [
                T.StructField("paramIndex", T.LongType(), False),
                T.StructField("startTime", T.TimestampType(), True),
                T.StructField("endTime", T.TimestampType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )

    def run(self, k):
        from trace_parquet_spark import http_service
        from trace_parquet_spark.functions.gzip_codec import gzip_compress
        from trace_parquet_spark.sources import tablelog

        df = self.spark.createDataFrame(self.frames[k], self.schema).select(
            "paramIndex", "startTime", "endTime", gzip_compress("text").alias("traceData")
        )
        tablelog.append(df, self.table, stats_col="paramIndex")
        tablelog.maybe_auto_compact(self.spark, self.table, MAX_LIVE_FILES, TARGET_FILES)
        req = gen.slice_request(self.slices[k], k)
        status, _headers, body = http_service.handle_export(
            tablelog.read_table(self.spark, self.table), req.params()
        )
        return status, body

    def check(self, k, res):
        req = gen.slice_request(self.slices[k], k)
        return check_export_body(res[0], res[1], req, self.slices[k])

    def rows(self, k, res):
        return len(self.slices[k]) + body_rows(*res)

    def written_bytes(self, results):
        return _dir_bytes(self.table)

    def probe_exports(self):
        from trace_parquet_spark.sources import tablelog

        df = tablelog.read_table(self.spark, self.table)
        return [(df, gen.slice_request(self.slices[k], k)) for k in self.ops]

    def gzip_texts(self) -> list[str]:
        return [t for r in self.slices for t in r.text]

    def rewritten_bytes(self) -> int:
        """Bytes of the files compaction wrote: the adds of every commit
        that also removes files, read from the table's commit log."""
        log = os.path.join(self.table, "_log")
        total = 0
        for f in os.listdir(log):
            if len(f) == 25 and f.endswith(".json") and f[:20].isdigit():
                with open(os.path.join(log, f)) as fh:
                    c = json.load(fh)
                if c.get("remove"):
                    total += sum(os.path.getsize(os.path.join(self.table, a)) for a in c["add"])
        return total


class CorpusBatch(Workload):
    """One corpus_clean pass over the seeded ``documents`` table."""

    name = "corpus_batch"

    def prepare(self):
        import duckdb

        from trace_parquet_spark.operators.corpus_pipeline import CORPUS_CLEAN_SQL

        self.docs_dir = os.path.join(self.work, "registry")
        os.makedirs(self.docs_dir)
        self.docs = gen.documents(self.seed, SWEEP_DOCS if self.sweep else gen.N_DOCS)
        path = os.path.join(self.docs_dir, "documents.parquet")
        pq.write_table(self.docs, path)
        self.user_bytes = sum(len(t.encode()) for t in self.docs.column("text").to_pylist())
        # the expected result, once per run: the module's DuckDB oracle
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            self.expected = [tuple(r) for r in con.execute(CORPUS_CLEAN_SQL).fetchall()]
        finally:
            con.close()
        self.warmup = list(range(self.n_warm))
        self.ops = list(range(self.n_warm, self.n_warm + self.n_ops))
        self.last_df = None

    def run(self, _i):
        from trace_parquet_spark.operators import corpus_pipeline
        from trace_parquet_spark.session import release_caches

        df = corpus_pipeline.corpus_clean(self.spark, self.docs_dir)
        try:
            rows = [tuple(r) for r in df.collect()]
        finally:
            release_caches()
        self.last_df = df
        return rows

    def check(self, _i, res):
        if res != self.expected:
            return f"{len(res)} rows differ from the DuckDB oracle's {len(self.expected)}"
        return None

    def rows(self, _i, res):
        return self.docs.num_rows

    def shuffle_bytes(self) -> float:
        m = plan_metrics(self.last_df) if self.last_df is not None else {}
        return sum(v for (_cls, k), v in m.items() if k == "shuffleBytesWritten")

    def written_bytes(self, results):
        # the pass writes no output; what it writes is shuffle data
        return self.shuffle_bytes()


WORKLOADS = {w.name: w for w in (ExportSmall, IngestExport, CorpusBatch)}


def run_ops(wl: Workload, specs, traced_every=0, prefix="", counter=None):
    """Run ``specs`` back to back. Returns (results, latencies, Spark
    counts); an exception is a result. With ``traced_every`` k, every
    k-th op is traced; op ids are list positions, prefixed for sweeps."""
    results, lat, counts = [], [], []
    for i, spec in enumerate(specs):
        wl.tracer.op_id = f"{prefix}{i}" if prefix else i
        wl.tracer.enabled = bool(traced_every) and i % traced_every == 0
        t = time.perf_counter()
        try:
            res = wl.run(spec)
        except Exception as e:  # an op that raises is a failed op
            res = e
        lat.append(time.perf_counter() - t)
        wl.tracer.enabled = False
        results.append(res)
        if counter is not None:
            counts.append(counter.take())
    return results, lat, counts


def check_all(wl: Workload, specs, results) -> list[str]:
    bad = []
    for spec, res in zip(specs, results):
        if isinstance(res, Exception):
            bad.append(f"{spec}: raised {type(res).__name__}: {res}")
            continue
        try:
            why = wl.check(spec, res)
        except Exception as e:  # a malformed body is a failed check
            why = f"check raised {type(e).__name__}: {e}"
        if why:
            bad.append(f"{spec}: {why}")
    return bad


# ------------------------------------------------------------ traced run


def install_wrappers(tracer: Tracer) -> None:
    """Span the engine's public functions, through the module attributes
    their callers resolve at call time."""
    from trace_parquet_spark import api, http_service
    from trace_parquet_spark.operators import corpus_pipeline
    from trace_parquet_spark.sources import registry, tablelog

    tracer.wrap(http_service, "handle_export", "http_service.handle_export")
    tracer.wrap(http_service, "export_trace_to_bytes", "http_service.export_trace_to_bytes")
    tracer.wrap(http_service, "export_trace", "trace_export.export_trace")
    tracer.wrap(api.DataExportRequest, "parse", "api.parse")
    for fn in ("append", "read_table", "maybe_auto_compact", "optimize_table"):
        tracer.wrap(tablelog, fn, f"tablelog.{fn}")
    tracer.wrap(registry, "load_table", "registry.load_table")
    tracer.wrap(corpus_pipeline, "corpus_clean", "corpus_pipeline.corpus_clean")


def probe_exports(pairs) -> dict[str, list[float]]:
    """Time export_trace alone: plan (unexecuted), then the same plan
    into the noop sink; read scan metrics from one more execution."""
    from trace_parquet_spark.operators.trace_export import export_trace

    out = {"plan": [], "execute": [], "rows": [], "scan_rows": [], "files": []}
    for df, req in pairs:
        t = time.perf_counter()
        ex = export_trace(df, req.ids, gen.iso(req.lo_s), gen.iso(req.hi_s))
        out["plan"].append(time.perf_counter() - t)
        t = time.perf_counter()
        ex.write.format("noop").mode("overwrite").save()
        out["execute"].append(time.perf_counter() - t)
        out["rows"].append(len(ex.collect()))
        m = plan_metrics(ex)
        out["scan_rows"].append(m.get(("FileSourceScanExec", "numOutputRows"), 0))
        out["files"].append(m.get(("FileSourceScanExec", "numFiles"), 0))
    return out


def probe_codec(spark, export: ExportSmall, texts: list[str]) -> dict[str, float]:
    """Standalone gunzip_utf8 pass over an export fixture's payloads and
    gzip_compress pass over raw texts, each into the noop sink."""
    import pandas as pd
    from pyspark.sql import functions as F

    from trace_parquet_spark.functions.gzip_codec import gunzip_utf8, gzip_compress

    src = spark.read.parquet(export.fixture_dir).select("traceData")
    t = time.perf_counter()
    src.select(gunzip_utf8(F.col("traceData"))).write.format("noop").mode("overwrite").save()
    gunzip_s = time.perf_counter() - t
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    t = time.perf_counter()
    df.select(gzip_compress(F.col("text"))).write.format("noop").mode("overwrite").save()
    gzip_s = time.perf_counter() - t
    return {
        "gunzip_s": gunzip_s,
        "gunzip_bytes": sum(len(x.encode()) for x in export.fixture.text),
        "gzip_s": gzip_s,
        "gzip_bytes": sum(len(x.encode()) for x in texts),
    }


def traced_metrics(args, spark, wl, tracer, lat, counts, results, work):
    """Per-layer metrics of a traced run, and the sweep's check failures.

    Layers the workload does not reach are measured by a one-op sweep
    of the other workloads on small inputs, after the timed window. A
    metric comes from the workload's own traced ops when they reach its
    layer, and from the sweep otherwise."""
    home_ops = {i for i in range(len(wl.ops)) if i % 2 == 0}
    # tracing overhead: traced vs untraced ops of the same kind
    like = [i for i, s in enumerate(wl.ops) if wl.full_op(s)]
    traced_lat = [lat[i] for i in like if i in home_ops]
    plain_lat = [lat[i] for i in like if i not in home_ops]

    sweeps: list[Workload] = []
    sweep_lat: dict[str, float] = {}
    bad: list[str] = []
    try:
        for name, cls in WORKLOADS.items():
            if name == wl.name:
                continue
            sw = cls(args.seed, work, 1, tracer, sweep=True)
            sweeps.append(sw)
            sw.prepare()
            sw.open(spark)
            res, lat_s, _ = run_ops(sw, sw.ops, traced_every=1, prefix=f"{name}:")
            bad += [f"sweep {name}: {why}" for why in check_all(sw, sw.ops, res)]
            sweep_lat[name] = lat_s[0]

        def home_of(cls):
            """The workload object of that kind: this run's, or its sweep's."""
            return next(w for w in [wl] + sweeps if isinstance(w, cls))

        # export_trace alone on the workload's own requests (the sweep's
        # when it has none), and the codec on its own data
        pairs = wl.probe_exports() or [p for s in sweeps for p in s.probe_exports()]
        probes = probe_exports(pairs)
        ing, corpus = home_of(IngestExport), home_of(CorpusBatch)
        codec = probe_codec(spark, home_of(ExportSmall), ing.gzip_texts())

        from trace_parquet_spark.sources import tablelog

        live_files = len(tablelog.read_table(spark, ing.table).inputFiles())
        shuffle_bytes = corpus.shuffle_bytes()
    finally:
        for sw in sweeps:
            sw.close()

    def per_op(name):
        own = tracer.per_op(name, ops=home_ops)
        return own or tracer.per_op(name)

    def ms(name):
        return _median(per_op(name)) * 1000

    gets = tracer.per_op_map("http_service.http_get")
    handles = tracer.per_op_map("http_service.handle_export")
    transport = [gets[o] - handles.get(o, 0.0) for o in gets]
    execute_ms = _median(probes["execute"]) * 1000
    to_bytes_ms = ms("http_service.export_trace_to_bytes")
    bodies = [len(r[1]) for r in results if isinstance(r, tuple) and r[0] == 200]
    compact = per_op("tablelog.maybe_auto_compact")
    corpus_ms = [x * 1000 for x in lat] if wl is corpus else [sweep_lat["corpus_batch"] * 1000]

    # self time by layer (span-name prefix) per traced op
    st = tracer.self_times()
    by_op: dict[object, dict[str, float]] = {}
    for s in tracer.closed():
        acc = by_op.setdefault(s["op"], {})
        layer = s["name"].split(".")[0]
        acc[layer] = acc.get(layer, 0.0) + st[s["id"]]
    layer_self: dict[str, list[float]] = {}
    for layer in {k for acc in by_op.values() for k in acc}:
        own = [acc[layer] for op, acc in by_op.items() if op in home_ops and layer in acc]
        layer_self[layer] = own or [acc[layer] for acc in by_op.values() if layer in acc]
    self_sum = [sum(by_op[op].values()) for op in like if op in home_ops and op in by_op]

    m = {
        "api.parse_ms": (ms("api.parse"), "ms"),
        "http_service.http_get_ms": (ms("http_service.http_get"), "ms"),
        "http_service.handle_export_ms": (ms("http_service.handle_export"), "ms"),
        "http_service.transport_ms": (_median(transport) * 1000, "ms"),
        "http_service.export_to_bytes_ms": (to_bytes_ms, "ms"),
        "http_service.sink_ms": (to_bytes_ms - execute_ms, "ms"),
        "http_service.response_bytes": (_median(bodies), "bytes"),
        "spark.jobs_per_op": (_median([c[0] for c in counts]), "count"),
        "spark.stages_per_op": (_median([c[1] for c in counts]), "count"),
        "spark.tasks_per_op": (_median([c[2] for c in counts]), "count"),
        "spark.tasks_failed": (sum(c[3] for c in counts), "count"),
        "trace_export.plan_ms": (ms("trace_export.export_trace"), "ms"),
        "trace_export.execute_ms": (execute_ms, "ms"),
        "trace_export.rows_out": (_median(probes["rows"]), "rows"),
        "gzip_codec.gunzip_ms": (codec["gunzip_s"] * 1000, "ms"),
        "gzip_codec.gunzip_mb_per_s": (codec["gunzip_bytes"] / 1e6 / codec["gunzip_s"], "MB/s"),
        "gzip_codec.gzip_ms": (codec["gzip_s"] * 1000, "ms"),
        "gzip_codec.gzip_mb_per_s": (codec["gzip_bytes"] / 1e6 / codec["gzip_s"], "MB/s"),
        "sources.scan_rows_per_row_returned": (
            sum(probes["scan_rows"]) / max(1, sum(probes["rows"])),
            "ratio",
        ),
        "sources.files_read": (_median(probes["files"]), "count"),
        "registry.load_table_ms": (ms("registry.load_table"), "ms"),
        "tablelog.append_ms": (ms("tablelog.append"), "ms"),
        "tablelog.read_table_ms": (ms("tablelog.read_table"), "ms"),
        # amortized: the threshold check every op, the rewrite every few
        "tablelog.compact_ms": (statistics.fmean(compact) * 1000 if compact else 0.0, "ms"),
        "tablelog.live_files": (live_files, "count"),
        "tablelog.bytes_rewritten_per_user_byte": (ing.rewritten_bytes() / ing.user_bytes, "ratio"),
        "corpus_pipeline.corpus_clean_ms": (_median(corpus_ms), "ms"),
        "corpus_pipeline.docs_in": (corpus.docs.num_rows, "count"),
        "corpus_pipeline.docs_kept": (len(corpus.expected), "count"),
        "spark.shuffle_bytes_written": (shuffle_bytes, "bytes"),
        "trace.latency_p50_ms": (_median(traced_lat) * 1000, "ms"),
        "trace.overhead_ms": ((_median(traced_lat) - _median(plain_lat)) * 1000, "ms"),
        "trace.self_sum_ms": (_median(self_sum) * 1000, "ms"),
    }
    for layer in ("http_service", "trace_export", "api", "tablelog", "registry", "corpus_pipeline"):
        m[f"self.{layer}_ms"] = (_median(layer_self.get(layer, [])) * 1000, "ms")
    return m, bad


# ------------------------------------------------------------------ main


def run(args, work: str, tracer: Tracer) -> tuple[dict, dict]:
    from trace_parquet_spark.session import get_spark

    host0 = host_cpu()
    t = time.perf_counter()
    n_ops = max(3, round(args.seconds / NOMINAL_OP_S[args.workload]))
    wl = WORKLOADS[args.workload](args.seed, work, n_ops, tracer)
    wl.prepare()
    prep_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work))
    get_spark_s = time.perf_counter() - t
    try:
        if args.trace:
            install_wrappers(tracer)
        wl.open(spark)
        t = time.perf_counter()
        warm_res, warm_lat, _ = run_ops(wl, wl.warmup)
        warmup_s = time.perf_counter() - t

        # ---- the timed window: ops back to back, checked afterwards
        t_first = time.perf_counter()
        setup_s = t_first - T_PROCESS - prep_s
        counter = JobCounter(spark.sparkContext) if args.trace else None
        results, lat, counts = run_ops(wl, wl.ops, 2 if args.trace else 0, counter=counter)
        window_s = time.perf_counter() - t_first
        rss = peak_rss_mb()

        failed = check_all(wl, wl.ops, results)
        bad = check_all(wl, wl.warmup, warm_res)
        ok = [(s, r) for s, r in zip(wl.ops, results) if not isinstance(r, Exception)]
        rows = sum(wl.rows(s, r) for s, r in ok)
        written = wl.written_bytes([r for _, r in ok])

        if not args.trace:
            metrics = {
                "latency_p50_ms": (statistics.median(lat) * 1000, "ms"),
                "requests_per_s": (len(lat) / window_s, "1/s"),
                "rows_per_s": (rows / window_s, "rows/s"),
                "bytes_written_per_user_byte": (written / wl.user_bytes, "ratio"),
                "setup_s": (setup_s, "s"),
            }
        else:
            metrics, sweep_bad = traced_metrics(
                args, spark, wl, tracer, lat, counts, results, work
            )
            bad += sweep_bad
        for why in bad + failed:
            print(f"perfbench: {args.workload} check failed: {why}", file=sys.stderr)
        host1 = host_cpu()
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(lat),
            "failed_share": len(failed) / len(wl.ops),
            "latency_p90_ms": _quantile(lat, 0.9) * 1000,
            "latency_p90_bounded": len(lat) >= 100,  # >= 10 samples beyond p90
            "peak_rss_mb": rss,
            "prepare_s": prep_s,
            "get_spark_s": get_spark_s,
            "warmup_ops": len(wl.warmup),
            "warmup_s": warmup_s,
            "window_s": window_s,
            "latencies_ms": [round(x * 1000, 1) for x in lat],
            "warmup_latencies_ms": [round(x * 1000, 1) for x in warm_lat],
            "host.steal_s": host1["steal_s"] - host0["steal_s"],
            "host.loadavg_1m": host1["loadavg_1m"],
        }
        if args.trace:
            metrics.update(
                {
                    "session.get_spark_s": (get_spark_s, "s"),
                    "session.warmup_s": (warmup_s, "s"),
                    "session.warmup_ops": (len(wl.warmup), "count"),
                    "failed_share": (diag["failed_share"], "ratio"),
                    "ops_measured": (len(lat), "count"),
                    "latency_p90_ms": (diag["latency_p90_ms"], "ms"),
                    "peak_rss_mb": (rss, "MB"),
                    "host.steal_s": (diag["host.steal_s"], "s"),
                    "host.loadavg_1m": (diag["host.loadavg_1m"], "load"),
                }
            )
        result = {
            "correct": not bad and not failed,
            "attempted": len(wl.ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, diag
    finally:
        wl.close()
        tracer.unwrap_all()
        stop_spark(spark)


def print_trace_report(tracer: Tracer, result: dict, path: str) -> None:
    print(f"# spans: {path}")
    print("# self-time table (median ms per traced op)")
    print(f"# {'span':40s} {'n':>4s} {'total':>10s} {'self':>10s}")
    for name, n, tot, slf in tracer.self_table():
        print(f"# {name:40s} {n:4d} {tot:10.2f} {slf:10.2f}")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    traced, over = m["trace.latency_p50_ms"], m["trace.overhead_ms"]
    print(
        f"# tracing overhead: traced p50 {traced:.1f} ms - untraced p50 "
        f"{traced - over:.1f} ms = {over:.1f} ms"
    )
    print(
        f"# sum of span self times per traced op: {m['trace.self_sum_ms']:.1f} ms "
        f"vs untraced p50 {traced - over:.1f} ms"
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import trace_parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM the run starts (the Spark launcher and the Spark JVM) keeps its
    # temp files there too, and writes no perf-data file to /tmp
    opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    tracer = Tracer()
    try:
        result, diag = run(args, work, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        path = os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        print_trace_report(tracer, result, path)
    else:
        try:
            os.rmdir(WORK_ROOT)  # removed only when nothing else is in it
        except OSError:
            pass
    print("# diagnostics " + json.dumps(diag))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
