"""SparkSession construction tuned for both local testing and scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
conf holds except memory sizing. Scale-relevant choices:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this should be ~2-3× total executor cores (AQE coalesces down).
- Arrow enabled — every pandas UDF (gzip codec, multimodal decode)
  moves data in vectorized Arrow batches, not pickled rows.
- Session timezone pinned UTC: the reference interprets zoneless
  ``LocalDateTime`` in the JVM default TZ (SURVEY §1.3); pinning UTC
  makes timestamp semantics deterministic and DuckDB-comparable.
- ``TIMESTAMP_MILLIS`` parquet output to match the reference's
  physical type (reference: ParameterRecord.avsc timestamp-millis).
- ``nanosAsLong`` so parquet TIMESTAMP(NANOS) inputs (events table)
  are readable; the registry converts to timestamp_ntz.
- Python workers run the engine's own daemon,
  ``trace_parquet_spark.worker_daemon``. Every task a worker runs calls
  ``importlib.invalidate_caches()``, and on CPython 3.11 and 3.12
  (3.13 made the call lazy) that re-reads the central directory of
  ``pyspark.zip`` once per imported pyspark subpackage: 16 reads per
  task. The daemon skips the re-read while the archive is unchanged;
  ``gzip_compress`` over 1000 rows in 4 tasks on 4 cores went from
  ~430 to ~210 ms. The setting is static, so a session built elsewhere
  and adapted with ``ensure_engine_conf`` keeps the stock daemon.
- ``spark.executorEnv.PYTHONPATH`` holds the directory that contains
  the engine, so workers import it (and the daemon) whatever the
  driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the trace_parquet_spark package
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "trace-parquet-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner's shuffle/broadcast cleanup rides on JVM
        # weak references, and with a multi-GB heap a long-lived
        # session may not GC for the cleaner's default 30min interval
        # — hundreds of queries accumulate shuffle dirs and broadcast
        # blocks that evict the page cache and degrade late queries
        # (round-10 min-of-3 bench: +45% inflation concentrated in
        # late-order iterative queries, reproduced fresh-JVM at 1×).
        # A 2min periodic GC bounds the backlog.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Codegen class cache (static conf, default 100 entries): a
        # single heavy registry query generates 140-170 codegen units,
        # so at the default EVERY unit is evicted before it can be
        # reused and every repetition re-runs Janino from scratch —
        # measured round-14 session-4 via CodegenMetrics: ~150 compiles
        # PER REP at the default vs 14-18 once warm at 5000 (~90%
        # eliminated, plus cross-query reuse: entries sharing operator
        # shapes start at ~50 instead of ~165). Stack samples showed 32
        # executor threads parked on CodeGenerator.compile's KeyLock
        # while one thread Janino-compiled a cached-relation column
        # accessor — compile latency sits on the task critical path, so
        # this is wall-clock, not just CPU. Cache reuse also returns
        # the SAME loaded class, preserving its JIT-compiled state
        # across repetitions. Long-lived production executors serving
        # many queries benefit identically; ~5k classes ≈ low hundreds
        # of MB driver metaspace+source, bounded.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.python.daemon.module", "trace_parquet_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    # Spark's 1g default heap OOMs on the heaviest sf0.1 checks
    # (32 executor threads share the driver JVM in local mode, and a
    # multi-distinct Expand spill at sf0.1 killed the round-7 gate
    # under the bare default). Size it for the box: explicit arg >
    # SPARK_GRAFT_DRIVER_MEM env > a quarter of physical RAM capped at
    # 24g (plenty for sf0.1; the cap keeps CI boxes honest).
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not driver_memory:
        try:
            with open("/proc/meminfo") as fh:
                kb = int(fh.readline().split()[1])  # MemTotal
            driver_memory = f"{max(4, min(24, kb // (4 * 1024 * 1024)))}g"
        except OSError:
            driver_memory = "8g"
    builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------- cache
# Query builders return UNEXECUTED DataFrames, so no builder can
# unpersist-after-action itself. Instead every intra-query cache goes
# through track_cache(), every lineage-truncating checkpoint goes
# through tracked_local_checkpoint(), and harnesses call
# release_caches() after the action (check_oracle, bench) — plus
# __spark_entry__ releases the previous query's caches when the NEXT
# query is built, which bounds storage accumulation to one query in
# any sequential harness, including the driver's. Contract tiers:
# releasing a TRACKED cache before its un-collected plan runs is
# still correct (the unpersisted relation recomputes from lineage);
# the checkpoint sweep is stricter — a checkpointed RDD cannot
# recompute after unpersist (lineage is truncated) — so the sweep
# targets ONLY the RDD ids tracked_local_checkpoint registered.
# A persistent RDD this framework did NOT create (e.g. a caller's own
# localCheckpoint held across queries) is never touched.

_TRACKED_CACHES: list = []
_TRACKED_CHECKPOINT_IDS: set = set()


def track_cache(df):
    """``df.cache()`` + register for ``release_caches()``."""
    df.cache()
    _TRACKED_CACHES.append(df)
    return df


def tracked_local_checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)`` + register the persisted RDD ids.

    localCheckpoint persists its materialized RDD outside the
    CacheManager; release_caches() can only safely unpersist
    checkpoint RDDs it KNOWS this framework created (an unpersisted
    checkpoint RDD cannot recompute — sweeping a caller-owned one
    would fail their later collect with block-not-found). The id set
    is captured as the before/after diff of getPersistentRDDs around
    the checkpoint call; all engine code paths are sequential on the
    driver so the diff is exact.
    """
    try:
        jsc = df.sparkSession.sparkContext._jsc
        before = {int(i) for i in jsc.getPersistentRDDs().keys()}
    except Exception:  # pragma: no cover - introspection unavailable
        before = None
    cp = df.localCheckpoint(eager=eager)
    if before is not None:
        try:
            for i in jsc.getPersistentRDDs().keys():
                if int(i) not in before:
                    _TRACKED_CHECKPOINT_IDS.add(int(i))
        except Exception:  # pragma: no cover
            pass
    return cp


def release_caches() -> int:
    """Unpersist every tracked cache; returns how many were released.

    Also sweeps localCheckpoint residue created via
    tracked_local_checkpoint: the iterative operators (label
    propagation, k-core peel, BFS/SSSP) truncate per-round lineage
    with localCheckpoint, which persists RDDs OUTSIDE the CacheManager
    and outside _TRACKED_CACHES; between queries those are dead weight
    whose eviction otherwise waits on Python GC + ContextCleaner.
    Only RDD ids registered by tracked_local_checkpoint are swept —
    persistent RDDs created by anyone else (including a caller's own
    un-collected checkpoint-bearing plan) are left alone, so the
    old comment-only "never call mid-query" contract is now enforced
    structurally for foreign RDDs."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already gone — nothing to release
            pass
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None and _TRACKED_CHECKPOINT_IDS:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for jid in list(jmap.keys()):
                if int(jid) in _TRACKED_CHECKPOINT_IDS:
                    jmap[jid].unpersist()
                    n += 1
    except Exception:  # context shutting down — nothing to sweep
        pass
    _TRACKED_CHECKPOINT_IDS.clear()
    return n


def collect_model_sized(df, cap: int, what: str) -> list:
    """``df.collect()`` for relations that are model-sized BY CONTRACT
    (IVF centroids K·dim, PQ codebooks M·2^bits·dsub, BPE merge lists
    K rows) — with the contract enforced, not assumed.

    A config error (K, dim, bits read from the wrong place) would
    otherwise silently turn these into data-sized driver collects and
    OOM the driver at scale; the ``limit(cap+1)`` probe keeps the
    check executor-side and O(cap) regardless of the true size."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"model-sized collect guard: {what} exceeded {cap} rows — "
            "this relation is supposed to be model-sized, not "
            "data-sized; check the configuration that bounds it"
        )
    return rows


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to a session we did not build.

    The driver harness hands us its own SparkSession; these conf keys
    are all runtime-settable and required for deterministic semantics.
    The worker daemon and the workers' PYTHONPATH are static settings,
    so such a session keeps the stock ``pyspark.daemon``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # pragma: no cover - conf may be static in some builds
        pass
    return spark
