"""Sources and sinks (SURVEY.md §2.1, ops S1-S9).

The reference moves data CSV -> GCS -> BigQuery with explicit schemas,
append-only staging and truncate-overwrite outputs (reference
dags/clv_data_dag.py:58-75, dags/clv_models.py:95-97).  Spark writers
are URI-native, so "upload to object store" and "load into warehouse"
collapse into a single ``df.write`` against the storage path; the
append / overwrite / create-if-missing dispositions map to save modes.

Scale notes: staging writes are partitioned by load date so the daily
full-refresh feature build prunes to the partitions it needs instead of
re-listing 100 TB of history.  CSV readers take an explicit schema.
Parquet reads go through ``read_parquet``: Spark infers a parquet
schema with one small job that reads a footer, so the first read of a
file pays that job and every later read of the unchanged file passes
the stored schema and runs none.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clv_data_pipeline_spark.schemas import TESTDATA_TABLES, TRANSACTIONS_SCHEMA


def normalize_timestamps(df: DataFrame, name: str | None = None) -> DataFrame:
    """Normalize every timestamp encoding a parquet file can deliver to
    plain TIMESTAMP (session-tz, pinned UTC in session.py).

    Real-world parquet arrives with three different physical encodings
    for the same logical event time, and all three must behave
    identically downstream (``unix_micros``, watermarks, window ranges):

    - ``timestamp[us]`` with a timezone -> Spark TIMESTAMP (no-op);
    - ``timestamp[us]`` with NO timezone (the pandas/pyarrow default)
      -> Spark reads TIMESTAMP_NTZ; cast to TIMESTAMP.  With the session
      tz pinned to UTC the cast is a type retag of the same micros value
      — deterministic and DuckDB-hash-compatible (DuckDB TIMESTAMP is
      naive);
    - TIMESTAMP(NANOS) -> with ``spark.sql.legacy.parquet.nanosAsLong``
      it arrives as epoch-nanos bigint; truncate to micros like DuckDB's
      reader does.

    All conversions are scalar map expressions: they fuse into the scan
    stage, cost no shuffle, and don't break pruning/pushdown on other
    columns.
    """
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: Reader confs that change the schema Spark infers from a parquet
#: footer; each is part of a stored schema's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
#: Inferred schemas as JSON (immutable, unlike a StructType), one per
#: file version and reader-conf set read in this process.
_SCHEMAS: dict[tuple, str] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet file or dataset, inferring its schema only once.

    The first read of ``path`` infers the schema (one Spark job); later
    reads pass the stored schema to ``spark.read.schema`` and run no
    job.  The stored schema is keyed on the path, its ``st_mtime_ns``
    and size, and the reader confs in ``_SCHEMA_CONFS``, so a rewritten
    file or a changed conf infers again.  A path ``os.stat`` cannot see
    (an object-store URI) infers on every read.
    """
    import json

    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size,
           *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    stored = _SCHEMAS.get(key)
    if stored is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema.json()
        return df
    schema = T.StructType.fromJson(json.loads(stored))
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata parquet table (columnar, prunable),
    with timestamp encodings normalized (see normalize_timestamps)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP retag (normalize_timestamps) and all window /
    # unix_micros arithmetic are only deterministic under a fixed session
    # tz; a vanilla session (the driver's) inherits the host tz, so pin
    # it here like nanosAsLong rather than relying on session.py.  The
    # override is session-global: warn (once per session) if it changes
    # a timezone someone explicitly configured to something non-UTC.
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in ("UTC", "Etc/UTC", "GMT"):
        if tz is not None:
            import warnings

            warnings.warn(
                f"load_table pins spark.sql.session.timeZone=UTC for "
                f"deterministic timestamp semantics, overriding the "
                f"session value {tz!r}",
                stacklevel=2,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_timestamps(df, name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every testdata table; scans are lazy so this is free."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_transactions_csv(
    spark: SparkSession, path: str, schema: T.StructType = TRANSACTIONS_SCHEMA
) -> DataFrame:
    """S3: CSV load with explicit schema, header row skipped, ','
    delimiter, no autodetect — reference dags/clv_data_dag.py:58-75
    (``skip_leading_rows=1``, ``autodetect=False``).
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", ",")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS][XXX]")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """S1/S2: header CSV straight to the (object-store) path —
    reference dags/simulate_data.py:232-250 needed a local tmp file
    plus a GCSHook upload; a Spark writer targets the URI directly.
    Timestamps in the reference's sample-CSV shape (space-separated,
    microseconds — data/*.csv), matching read_transactions_csv.
    """
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def write_append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S3 sink half: append-only staging ingest — reference
    dags/clv_data_dag.py:68 (``WRITE_APPEND`` + create-if-needed).
    ``partition_by`` (e.g. load_date) gives partition pruning at scale.
    """
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_overwrite(df: DataFrame, path: str) -> None:
    """S5/S6: full-refresh semantics — reference CTAS
    dags/clv_data_dag.py:80 and WRITE_TRUNCATE dags/clv_models.py:95-97.
    """
    df.write.mode("overwrite").parquet(path)


def table_exists(spark: SparkSession, name: str) -> bool:
    """S8: existence probe — reference dags/simulate_data.py:62-73."""
    return spark.catalog.tableExists(name)


def create_table_if_not_exists(
    spark: SparkSession, name: str, schema: T.StructType
) -> None:
    """S8: create empty table with explicit schema when missing —
    reference dags/simulate_data.py:62-73 (BQ ``create_empty_table``).
    """
    if not table_exists(spark, name):
        spark.createDataFrame([], schema).write.saveAsTable(name)


def table_columns(spark: SparkSession, name: str) -> list[str]:
    """S9: table-metadata read — reference dags/validate_features.py:58-59
    fetches schema field names from the warehouse client.
    """
    return [f.name for f in spark.table(name).schema.fields]


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_by: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet dataset into
    ``target_files`` files (per partition when ``partition_by``).

    Daily micro-appends (the reference's load pattern) accumulate tiny
    files; at 100 TB, scan throughput dies on file-open overhead and
    driver listing.  Compaction is a rewrite through a staging
    directory: write tmp, rename the original aside, rename tmp into
    place, then delete the old copy — every failure point leaves a
    recoverable dataset (either at ``path`` or at ``path._old``), and
    the original is never removed before its replacement is in place.
    Returns (files_before, files_after).
    """
    import glob
    import shutil

    files_before = len(glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._old"
    w = df.repartition(target_files)
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the original
        raise
    shutil.rmtree(old)
    files_after = len(glob.glob(os.path.join(path, "**", "*.parquet"),
                                recursive=True))
    return files_before, files_after


def spread_partitions(df: DataFrame) -> DataFrame:
    """Widen a frame to the cluster's parallelism when the source gave
    it fewer partitions — the shared parallelism guard for single-pass
    Python/Arrow kernels that read a scan directly (VERDICT r11 item
    7, generalizing the `_pca_int_stats` fix).

    A single-file parquet source splits by row group, and an uneven
    layout hands one task most of the kernel work (sf10 measured 13
    scan partitions with one straggler carrying ~90% of the PCA Gram
    rows — 10.5 s vs ~2 s balanced).  No-op when already at or above
    ``defaultParallelism`` — at 100 TB the input is thousands of
    partitions and this never shuffles; it only rescues the
    small/skewed-file case where an Arrow kernel would otherwise
    serialize.  Only apply ahead of kernels whose per-row Python work
    dominates an exchange of their input columns (PCA sufficient
    stats, simhash signatures); JVM whole-stage-codegen aggregates
    (q_ridge, q_word_vectors, q_adaboost_stumps), kernels that
    already sit behind a shuffle (the ALS half-steps' groupBy), and
    LIGHT scan-fed kernels whose map-only plan is itself a pinned
    contract (q_quality_classifier: one int64 matmul per batch,
    scored at scan speed) gain nothing from it — audited in round
    12.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


#: This process's scratch root under TMPDIR, made on first use.
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A new empty directory for files that live as long as this
    process, such as the data behind a lazy DataFrame a query returns.

    Every such directory sits under one root in ``TMPDIR``, made on
    the first call; an ``atexit`` hook removes the root with all it
    holds when the process exits.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="clv_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def materialize_temp(
    df: DataFrame, prefix: str, key: str | None = None
) -> DataFrame:
    """Write ``df`` once to a session-temp parquet dataset and return a
    scan of it — the multi-consumer branch-point pattern WITHOUT
    executor-cache residency.

    ``persist()`` keeps blocks pinned in executor storage until someone
    unpersists (a leak in long-lived sessions), while unpersisting
    after the first consumer re-runs the producing subtree for every
    later one.  Materializing to parquet pays the compute exactly once
    and every consumer is a cheap columnar scan; the artifact is also
    exactly what a production pipeline stores at these branch points
    (a features table, a signature index), just at a managed path
    instead of a tmpdir.  Lifecycle: an unkeyed dataset lives in a
    :func:`scratch_dir`, removed when the process exits; nothing stays
    resident in the Spark session.  The scan runs no schema-inference
    job: it reads with the schema of the frame just written, or
    (keyed) through ``read_parquet``.

    ``key`` opts into DERIVED-ARTIFACT semantics: a deterministic
    content key (e.g. source path + mtime) maps to a stable path, and a
    later call with the same key reuses the stored dataset instead of
    recomputing — exactly how a production pipeline treats a signature
    index or features table (immutable derived data, built once per
    source version).  Concurrent builders race safely: each writes to a
    unique staging dir and the first atomic rename wins.
    """
    spark = df.sparkSession
    if key is None:
        path = os.path.join(scratch_dir(prefix), "data")
        df.write.parquet(path)
        return spark.read.schema(df.schema).parquet(path)

    path = artifact_path(prefix, key)
    root = os.path.dirname(path)
    if not os.path.exists(path):
        stage = tempfile.mkdtemp(prefix=prefix, dir=root) + "/stage"
        df.write.parquet(stage)
        try:
            os.rename(stage, path)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)  # concurrent winner
    return read_parquet(spark, path)


def artifact_path(prefix: str, key: str) -> str:
    """Stable on-disk path for a keyed derived artifact.  Exposed so
    callers with an EXPENSIVE builder (e.g. ALS training) can test
    existence before running the producer at all — ``materialize_temp``
    only skips the write, not the upstream computation that built its
    input DataFrame."""
    import hashlib
    import tempfile

    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "clv_artifacts")
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, f"{prefix}{digest}")


def artifact_numpy(prefix: str, key: str, builder):
    """Driver-side numpy twin of keyed :func:`materialize_temp`: build
    a small ndarray artifact (a PQ codebook, a quantizer) once per
    content key and reuse it from disk afterwards — the stored-model
    half of a stored index.  Same staging-rename race safety."""
    import hashlib
    import tempfile

    import numpy as np

    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "clv_artifacts")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{prefix}{digest}.npy")
    if os.path.exists(path):
        return np.load(path)
    arr = builder()
    fd, stage = tempfile.mkstemp(prefix=prefix, suffix=".npy", dir=root)
    os.close(fd)
    np.save(stage, arr)
    try:
        os.replace(stage, path)
    except OSError:
        os.unlink(stage)
    return arr


def source_key(sf_dir: str, name: str) -> str:
    """Content key for derived artifacts over a testdata table: path +
    mtime + size, so a republished source invalidates the artifact."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(p)
    return f"{p}:{st.st_mtime_ns}:{st.st_size}"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (hash-clustered) table on ``bucket_col``.

    Bucketing is the pre-paid shuffle: both sides of a repeated
    fact-fact join written with the same bucket spec join with ZERO
    exchanges — at 100 TB the shuffle is the join's dominant cost, and
    a nightly pipeline joining staging to features on customer_id every
    run should pay it once at write time, not per query.  ``sort_col``
    additionally pre-sorts within buckets so sort-merge joins skip
    their sort too.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, bucket_col
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def append_rows(
    spark: SparkSession, rows: list[dict], schema: T.StructType, path: str
) -> None:
    """S7: small-batch row insert (new customer IDs) — reference
    dags/simulate_data.py:82-88 used the BQ streaming-insert API.
    """
    spark.createDataFrame(rows, schema).write.mode("append").parquet(path)
