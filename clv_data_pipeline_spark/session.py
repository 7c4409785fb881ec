"""SparkSession factory with scale-oriented defaults.

The reference pipeline delegated execution to BigQuery and pandas
(SURVEY.md §4); here a single SparkSession replaces both.  Defaults:

- UTC session timezone: the reference's generator stamps UTC
  (reference dags/simulate_data.py:13,18) and its sample CSVs carry
  ``+00:00`` offsets, so all timestamp arithmetic is pinned to UTC.
- AQE on (coalesce + skew-join): at 100 TB the right shuffle
  partitioning is data-dependent; let the runtime re-plan.
- Arrow on: every driver <-> executor pandas crossing (the model-fit
  barrier, Arrow-batched numpy kernels) moves columnar batches, not
  pickled rows.
- A 1000-entry generated-class cache: Spark's default of 100 is below
  the ~135 classes one round of q_hits, q_ridge and q_scd2_stream
  generates, so with it every warm round evicted and recompiled 80-95
  of them (Janino, then the JIT compiled them again).  The cache is a
  static conf: it must be set before the session's first query, which
  ``get_spark`` does.
- Local mode only: the driver JVM runs ParallelGC with C2 (tier-4)
  compile thresholds at 5x HotSpot 17's defaults
  (``LOCAL_DRIVER_JAVA_OPTIONS``).  Local traffic is short-lived
  sessions: one pipeline day per process (the reference runs one
  Airflow task per day), a bench pass, a test session.  The stock
  thresholds suit servers that run for days, so C2 spent a large share
  of the driver's CPU compiling Catalyst, planner and scheduler methods
  that such a session calls thousands of times, not millions.  Raising
  the thresholds trades that compiler CPU for wall time on code that
  runs longer at C1.  5x keeps most of 10x's CPU saving, and its wall
  time on execution-bound and one-pass runs stayed within noise where
  10x's rose by about a tenth; dropping C2 altogether
  (``-XX:TieredStopAtLevel=1``) cost more CPU.
  The measurements are in ROADMAP.md ("C2 thresholds sized for short
  sessions").  ``extra_conf["spark.driver.extraJavaOptions"]``
  replaces the whole string.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB scan splits: big enough to amortize task overhead, small
    # enough that a 100 TB scan still yields ~800k parallel tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # 64 MB broadcast ceiling: region/nation/part-class dims broadcast;
    # fact-fact joins shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Driver testdata stores events.ts as TIMESTAMP(NANOS), which the
    # Spark parquet reader rejects by default; read nanos as epoch-long
    # and convert at the source (sources/io.py) like DuckDB does (ns
    # truncated to micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache: the build-heavy query mix has a working
    # set of ~135 classes, above the default 100 (see the docstring).
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# Driver JVM options for local masters (see the docstring): the
# throughput collector and C2 thresholds sized for short-lived sessions.
LOCAL_DRIVER_JAVA_OPTIONS = " ".join([
    "-XX:+UseParallelGC",
    "-XX:Tier4InvocationThreshold=25000",
    "-XX:Tier4MinInvocationThreshold=3000",
    "-XX:Tier4CompileThreshold=75000",
    "-XX:Tier4BackEdgeThreshold=200000",
])


def _available_gib() -> float:
    """MemAvailable from /proc/meminfo in GiB (0.0 if unreadable) —
    gates the local-mode heap default so memory-constrained containers
    keep the stock JVM default instead of an un-backable 8g."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def get_spark(
    app_name: str = "clv_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to whatever the environment provides (cluster
    deploy) or ``local[N]`` from ``SPARK_GRAFT_CPUS`` for local runs.
    ``shuffle_partitions`` defaults to 32 locally; on a real cluster
    leave it unset and let AQE coalesce from a high initial value.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if master and master.startswith("local"):
        # Local mode runs driver + all executor tasks in ONE JVM whose
        # heap defaults to 1g — 32 concurrent tasks' execution memory,
        # broadcast blocks, and localCheckpoint blocks all compete in
        # it, so long sessions degrade under GC pressure (measured:
        # calibration probes 1.5-2.5x slower by the end of a 229-query
        # bench run at 1g; healthy start-to-end at 8g).  Size the heap
        # to the workload (env-overridable; only effective for the
        # process's FIRST session, before the JVM launches).  Measured
        # same-box sweep (fresh session, best-of-2, sf0.1): G1 (the
        # JDK17 default) develops a large-heap cliff on the
        # string-churning queries (q_min_pieces_tokenize 1.09 s at 1g
        # -> 3.65 s at 16g; q_splade_retrieval 4.37 -> 6.07), while
        # ParallelGC is flat-or-better at every size and beats G1 on
        # both workload clusters (q_min_pieces 0.89, q_als_eval 1.41
        # vs G1's best 1.78) — the classic throughput-collector call
        # for batch ETL.  Cluster deploys size memory/GC in the deploy
        # config and never hit this branch.
        # ADVICE r12: don't hand every local caller (tests, small CI
        # containers) an 8g heap the box can't back — the JVM would be
        # OOM-killed under load.  The 8g default applies only when the
        # machine visibly has the headroom (>=16 GiB available); below
        # that, Spark's stock default stands.  Env override wins
        # either way.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if mem is None and _available_gib() >= 16:
            mem = "8g"
        if mem is not None:
            conf.setdefault("spark.driver.memory", mem)
        conf.setdefault("spark.driver.extraJavaOptions",
                        LOCAL_DRIVER_JAVA_OPTIONS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 32)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
