"""Structured Streaming formulations of the reference's incremental
semantics (SURVEY.md §2.8).

The reference is daily micro-append: each run drops one CSV into
staging (WRITE_APPEND, reference dags/clv_data_dag.py:68) and fully
recomputes features (CREATE OR REPLACE, :80).  That maps exactly to a
file-source stream with ``trigger(availableNow=True)`` + a
``foreachBatch`` full refresh: the checkpoint remembers which files
were ingested, each trigger drains only the new ones, and the batch
function reruns the same deterministic full-refresh the batch pipeline
uses.  Same results, exactly-once file accounting for free.

Every streaming run in the engine goes through the helpers here:

- :func:`drain` runs an availableNow ``foreachBatch`` query;
- :func:`drain_to_memory` runs an availableNow memory-sink query and
  returns the landed rows;
- :func:`replay_arrivals` replays ordered slices as one trigger each
  (the replay contract is in its docstring);
- :func:`scratch_tables` names the per-call state tables a sink writes;
- :func:`table_file_stream` streams one testdata parquet table.

Cleanup guarantees, on success and on error alike: a scratch
checkpoint or arrival directory is removed before the helper returns;
every wait is bounded by :data:`AWAIT_TIMEOUT_S`, and a query still
running then is stopped before ``TimeoutError`` is raised, so no query
outlives its helper; a memory sink's temp view is unregistered (the
view pins the sink's rows in driver memory); scratch tables are
dropped when their ``with`` block exits.

Also here: the streaming twins of the batch event analytics —
watermarked tumbling-window counts and session windows
(``F.session_window``), matching q_events_daily / q_sessionize.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from clv_data_pipeline_spark.schemas import TRANSACTIONS_SCHEMA
from clv_data_pipeline_spark.sources.io import read_parquet

#: Seconds a streaming run may take before it is stopped and raises.
AWAIT_TIMEOUT_S = 300


def ensure_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Cast an event-time column to plain TIMESTAMP if a file source
    delivered it as TIMESTAMP_NTZ (the pandas/pyarrow parquet default).

    ``withWatermark`` / ``dropDuplicatesWithinWatermark`` reject NTZ
    event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and ``unix_micros``
    rejects it outright — and any real file stream can deliver NTZ, so
    every event-time consumer normalizes first.  With the session tz
    pinned UTC (session.py) the cast retags the same micros value.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def table_file_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Stream the testdata table ``<sf_dir>/<table>.parquet`` through
    the file source, with the schema ``read_parquet`` infers for it.

    The file source reads directories only, so it lists ``sf_dir`` and
    keeps ``<table>.parquet`` by glob.  ``events.ts`` stored as
    TIMESTAMP(NANOS) arrives as epoch-nanos bigint (``nanosAsLong``, as
    in ``load_table``) and is truncated to micros.  No other column is
    retyped: an NTZ event time stays NTZ, so a watermarking caller
    applies :func:`ensure_event_time` itself.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{table}.parquet")
    stream = (
        spark.readStream.schema(read_parquet(spark, path).schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    if table == "events" and dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _replay_anti_join(batch: DataFrame, stored: DataFrame, key: str) -> DataFrame:
    """Drop batch rows whose ``key`` already landed in ``stored`` —
    O(batch) per trigger, never shuffling the stored table.

    The naive ``batch.join(stored, key, "left_anti")`` plans a shuffle
    join with the FULL stored table on the build side — at 100 TB that
    re-shuffles the whole corpus every trigger.  The semi-probe pattern
    (same shape as ``operators.dedup.dedup_incremental``): the batch's
    distinct keys broadcast so the stored table is scanned map-side,
    emitting only the (tiny) hit set, which then broadcasts into the
    actual anti-join.  Two broadcasts of batch-sized frames; the stored
    table is read once, map-side, with the key column pruned.
    """
    hits = stored.select(key).join(
        F.broadcast(batch.select(key).distinct()), key, "left_semi"
    )
    return batch.join(F.broadcast(hits), key, "left_anti")


@contextmanager
def _scratch_dir(prefix: str) -> Iterator[str]:
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def scratch_tables(
    spark: SparkSession, *prefixes: str
) -> Iterator[tuple[str, ...]]:
    """Yield one ``<prefix>_<uuid>`` table name per prefix (one shared
    suffix) and drop those tables on exit, error included.  Read the
    result out of them (``localCheckpoint`` or ``collect``) inside the
    ``with`` block: a lazy frame over a dropped table fails later."""
    suffix = uuid.uuid4().hex[:8]
    names = tuple(f"{p}_{suffix}" for p in prefixes)
    try:
        yield names
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def _run(writer: DataStreamWriter, checkpoint: str | None) -> StreamingQuery:
    """Start ``writer`` as an availableNow query and wait until it has
    drained its source; a scratch checkpoint when ``checkpoint`` is
    None.  The query is stopped on every exit path."""
    if checkpoint is None:
        with _scratch_dir("stream_ckpt_") as ckpt:
            return _run(writer, ckpt)
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(AWAIT_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {q.id} still running after "
                f"{AWAIT_TIMEOUT_S} s"
            )
    finally:
        q.stop()
    return q


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run ``sink(batch_df, batch_id)`` over everything ``stream`` has
    now (availableNow ``foreachBatch``) and return the finished query.
    Pass ``checkpoint`` to keep file progress across calls; without it
    a scratch checkpoint is used and removed."""
    return _run(stream.writeStream.foreachBatch(sink), checkpoint)


def drain_to_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Run ``stream`` through a memory sink (availableNow) and return
    the landed rows, ``localCheckpoint``-ed, after unregistering the
    sink's temp view."""
    spark = stream.sparkSession
    name = f"stream_{uuid.uuid4().hex[:8]}"
    writer = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
    )
    try:
        _run(writer, None)
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


def replay_arrivals(
    slices: Sequence[DataFrame], sink: Callable[[DataFrame, int], None]
) -> None:
    """Replay ``slices`` as ordered arrivals, one trigger each, through
    ``sink`` — the daily micro-append a parity query proves against its
    batch twin.

    The contract: each slice is written, in order, as ONE parquet file
    (``coalesce(1)``) into a scratch source directory.  Sequential
    writes give strictly increasing mtimes, which is the file source's
    processing order at ``maxFilesPerTrigger=1``, so trigger ``i``
    sees exactly ``slices[i]`` and arrival order is slice order.  The
    slices share one schema; the caller owns the boundaries (moving a
    boundary row moves it to another trigger)."""
    with _scratch_dir("arrivals_") as src:
        for s in slices:
            s.coalesce(1).write.mode("append").parquet(src)
        stream = (
            slices[0].sparkSession.readStream.schema(slices[0].schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        drain(stream, sink)


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    schema: T.StructType = TRANSACTIONS_SCHEMA,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Drain all new files from ``source_dir`` through ``batch_fn``
    (availableNow) and return the finished query.  ``batch_fn(batch_df,
    batch_id)`` gets the reference's full-refresh body (RFM rebuild +
    validate + score).  ``checkpoint_dir`` belongs to the caller, so a
    second call drains only the files that arrived since the first.

    File-source streams never infer schemas (a listing-time scan at
    100 TB) — the explicit schema is mandatory here like everywhere
    else in the engine.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
    return drain(reader.load(source_dir), batch_fn, checkpoint_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming tumbling-window aggregate with late-data handling —
    the streaming twin of q_events_daily.  The watermark bounds state:
    windows older than (max event time - watermark) finalize and evict.
    Works identically on a batch frame (watermark is a no-op there),
    which is how the oracle test pins its semantics.
    """
    events = ensure_event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "approx_users",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows via the built-in ``F.session_window`` — dynamic
    gap-close windows with watermark-driven state eviction; the
    streaming twin of operators/sessions.py (which exists because batch
    jobs get a cheaper plan from the gap-and-island form).
    """
    events = ensure_event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def upsert_sink(
    table: str,
    keys: list[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Build a ``foreachBatch`` body that MERGES each micro-batch into
    ``table`` instead of fully refreshing it — the incremental upgrade
    of the reference's WRITE_TRUNCATE cycle for state that is too big
    to rewrite per trigger.

    ``transform`` shapes the raw batch into one row per key (e.g. a
    last-write-wins dedup or per-key partial aggregate) before the
    merge.  First batch creates the table.  Lineage from the target
    table is cut with ``localCheckpoint`` before overwriting (Spark
    refuses to overwrite a path it is still reading); on a real
    deployment the same body targets a table format with native MERGE
    (Delta/Iceberg) and the checkpoint disappears.
    """
    from clv_data_pipeline_spark.operators.merge import merge_upsert

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = transform(batch_df) if transform is not None else batch_df
        if spark.catalog.tableExists(table):
            merged = merge_upsert(spark.table(table), delta, keys)
            merged = merged.localCheckpoint(eager=True)
        else:
            merged = delta
        merged.write.mode("overwrite").saveAsTable(table)

    return _fn


def dedup_admission_sink(
    index_table: str,
    admitted_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Build a ``foreachBatch`` body that runs incremental exact-dedup
    admission per micro-batch — the streaming form of
    ``operators.dedup.dedup_incremental``: a document is appended to
    ``admitted_table`` iff its fingerprint has never been seen, and the
    admitted fingerprints append to ``index_table`` so later triggers
    (and later restarts — the index is a table, not executor state) see
    them.  Work per trigger is O(batch): the batch's fingerprints
    broadcast to probe the stored index map-side, exactly like the
    batch operator, so a 100 TB index is scanned (pruned, if
    partitioned by fingerprint prefix), never shuffled.

    Replay safety — BOTH appends are idempotent on plain parquet, so a
    crash anywhere inside the trigger followed by Structured
    Streaming's batch replay changes nothing: the admission recomputes
    against the stored index exactly as before (the index append is
    LAST, so a replayed batch sees the same index state), the admitted
    append anti-joins out ids already landed, and the index append
    anti-joins out fingerprints already landed.  On a transactional
    format (Delta/Iceberg) the two appends would instead be one commit
    keyed by ``batch_id``.
    """
    from clv_data_pipeline_spark.operators.dedup import (
        dedup_incremental,
        fingerprint_index,
    )

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(index_table):
            index = spark.table(index_table)
        else:
            index = fingerprint_index(batch_df.limit(0), text_col, id_col)
        # admission must materialize BEFORE the index append below cuts
        # in, and the write below must not read a table it appends to
        admitted = dedup_incremental(
            index, batch_df, text_col, id_col
        ).localCheckpoint(eager=True)
        to_append = admitted
        if spark.catalog.tableExists(admitted_table):
            # idempotent under batch replay: drop rows a previous
            # (crashed-after-append) attempt already landed.  Semi-probe
            # so the stored table is scanned map-side, never shuffled.
            to_append = _replay_anti_join(
                admitted, spark.table(admitted_table), id_col
            ).localCheckpoint(eager=True)
        to_append.write.mode("append").saveAsTable(admitted_table)
        # grams come from the FULL admission result, not the replay-
        # filtered append set — a replay after a crash between the two
        # appends must still land the batch's fingerprints
        grams = fingerprint_index(admitted, text_col, id_col)
        if spark.catalog.tableExists(index_table):
            grams = _replay_anti_join(grams, spark.table(index_table), "_fp")
        grams.localCheckpoint(eager=True).write.mode("append").saveAsTable(
            index_table
        )

    return _fn


def substring_audit_sink(
    index_table: str,
    out_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
):
    """Build a ``foreachBatch`` body that runs the exact-substring
    duplicated-window audit per micro-batch — the streaming form of
    ``operators.dedup.substring_dedup_incremental``: each arriving
    doc's ``window``-token spans check against the STORED gram index
    (plus a within-batch keeper election), its per-doc stats append to
    ``out_table``, and the batch's not-yet-seen grams append to
    ``index_table`` so later triggers see them.  Work per trigger is
    O(batch): the batch's distinct grams broadcast to probe the index
    map-side, never shuffling it.  With chronological arrival (ids
    ascending across triggers) the accumulated audit equals the batch
    q_dedup_substring recompute bit-for-bit — the oracle states
    exactly that.  Same replay story as dedup_admission_sink: BOTH
    appends are idempotent on plain parquet — the stats recompute
    against the stored index exactly as before (the index append is
    LAST, so a replayed batch sees the same index state) and anti-join
    out docs already landed; the gram append anti-joins out grams
    already landed — so a crash anywhere inside the trigger followed
    by batch replay duplicates nothing.
    """
    from clv_data_pipeline_spark.operators.dedup import (
        substring_dedup_incremental,
        substring_gram_index,
    )

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        if spark.catalog.tableExists(index_table):
            index = spark.table(index_table)
        else:
            index = substring_gram_index(
                batch_df.limit(0), text_col, id_col, window
            )
        stats = substring_dedup_incremental(
            index, batch_df, text_col, id_col, window
        ).localCheckpoint(eager=True)
        if spark.catalog.tableExists(out_table):
            # idempotent under batch replay: a previous crashed-after-
            # append attempt emitted identical per-doc rows.  Semi-probe
            # so the stored table is scanned map-side, never shuffled.
            stats = _replay_anti_join(
                stats, spark.table(out_table), id_col
            ).localCheckpoint(eager=True)
        # §6 I/O (round 13): the per-doc stats of ONE micro-batch are a
        # few thousand rows, but the checkpointed frame carries the
        # session's 32 shuffle partitions — each append committed 32
        # tiny part files.  One file per trigger is the right output
        # sizing for micro-batch-bounded state (production puts this
        # state on a transactional table format anyway); the compute
        # above stays parallel — only the write coalesces.
        stats.coalesce(1).write.mode("append").saveAsTable(out_table)
        bg = substring_gram_index(batch_df, text_col, id_col, window)
        _replay_anti_join(bg, index, "_g").localCheckpoint(
            eager=True
        ).coalesce(1).write.mode("append").saveAsTable(index_table)

    return _fn


def scd2_maintenance_sink(
    target_table: str,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
):
    """Build a ``foreachBatch`` body that maintains an SCD Type 2
    interval table from a chronological change-event stream — the
    streaming form of ``queries.temporal.scd2_merge``: each trigger
    folds its micro-batch into the stored intervals touching ONLY the
    affected keys (O(batch) work; untouched keys pass through by
    anti-join inside the merge).

    Batches must arrive in event-time order ACROSS triggers (the daily
    -append contract scd2_merge documents: an interval table collapses
    same-attribute runs, so an event older than a collapsed run cannot
    be folded in later).  Within a batch, order is free — the merge
    sorts.  The rewrite is a full overwrite of the interval table; in
    production on a transactional format this becomes a keyed MERGE
    touching only affected-key rows (operators/merge.py pattern), and
    replaying a trigger after a crash-before-commit is idempotent
    because the merge of already-folded events changes nothing.
    """
    from clv_data_pipeline_spark.queries.temporal import (
        scd2_intervals,
        scd2_merge,
    )

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(target_table):
            merged = scd2_merge(
                spark.table(target_table), batch_df, key, attr, ts, tiebreak
            )
        else:
            merged = scd2_intervals(batch_df, key, attr, ts, tiebreak)
        # materialize BEFORE overwriting the table the plan reads from
        merged.localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).saveAsTable(target_table)

    return _fn


def budget_admission_sink(
    state_table: str,
    admitted_table: str,
    budget: int = 4000,
    src_col: str = "source",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
):
    """Build a ``foreachBatch`` body for ONLINE budget-capped mixing —
    the streaming twin of q_mix_budget: each source may contribute
    documents until a fixed size budget is reached, decided greedily in
    arrival order (a stream cannot see future arrivals, so unlike the
    batch op there is no md5 re-ordering — admission is
    first-come-first-served within the budget).

    The persisted state is one row per source: cumulative size SEEN so
    far (admitted or not — the admission rule is "prefix sum <= budget",
    a pure function of the ordered stream, so replays and restarts
    recompute identical decisions from the stored offset).  Per-trigger
    work is O(batch): the state table is a per-source scalar that
    broadcasts; the only shuffle is the batch-local running-sum window.
    At 100 TB/day the state stays sources-count-sized — the whole
    reason budget tracking belongs in a table, not in executor memory.
    """
    from pyspark.sql import Window as W

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(state_table):
            state = spark.table(state_table)
        else:
            state = spark.createDataFrame(
                [], f"{src_col} string, cum_seen long"
            )
        w = (
            W.partitionBy(src_col)
            .orderBy(id_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        with_cum = (
            batch_df.join(F.broadcast(state), src_col, "left")
            .withColumn(
                "_cum",
                F.coalesce(F.col("cum_seen"), F.lit(0))
                + F.sum(size_col).over(w),
            )
        )
        admitted = (
            with_cum.filter(F.col("_cum") <= budget)
            .drop("cum_seen", "_cum")
            .localCheckpoint(eager=True)
        )
        admitted.write.mode("append").saveAsTable(admitted_table)
        new_state = (
            batch_df.groupBy(src_col)
            .agg(F.sum(size_col).cast("long").alias("batch_chars"))
            .join(state, src_col, "full")  # sources-count-sized frames
            .select(
                src_col,
                (
                    F.coalesce(F.col("cum_seen"), F.lit(0))
                    + F.coalesce(F.col("batch_chars"), F.lit(0))
                ).alias("cum_seen"),
            )
            .localCheckpoint(eager=True)
        )
        new_state.write.mode("overwrite").saveAsTable(state_table)

    return _fn


def id_issuance_sink(target_table: str):
    """Build a ``foreachBatch`` body that issues contiguous global ids
    to newly-arrived documents — the streaming form of
    ``q_assign_ids_incremental``: each trigger ranks its micro-batch
    in md5 order via the distributed-rank composition
    (operators/ids.py, no single-reducer window even inside a batch)
    and appends the batch's assignments starting at stored-count + 1.
    Issued ids are immutable state: the sink only ever APPENDS, so a
    replayed trigger after a crash-before-commit would re-issue the
    same ids for the same batch (the md5 order is deterministic), and
    downstream shard references stay valid forever.
    """
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.operators.ids import distributed_row_number

    def _sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        if spark.catalog.tableExists(target_table):
            n_base = spark.table(target_table).count()
        else:
            n_base = 0
        assigned = (
            distributed_row_number(
                batch_df.select(
                    "doc_id",
                    F.md5(F.col("doc_id").cast("string")).alias("h"),
                ),
                hash_col="h",
                tiebreak_col="doc_id",
                out_col="pos",
            )
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                (F.col("pos") + F.lit(n_base)).cast("long").alias("new_id"),
            )
        )
        assigned.write.mode("append").saveAsTable(target_table)

    return _sink


def histogram_merge_sink(
    target_table: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 2048,
):
    """Build a ``foreachBatch`` body maintaining a mergeable fixed-bin
    histogram — the streaming form of ``q_quantiles_incremental``'s
    daily rollup: each trigger folds its micro-batch into per-bin
    counts and MERGES into the stored histogram by addition (the
    defining property of the summary; boundaries are fixed a priori,
    which is exactly how a production streaming sketch must be
    configured since the stream's min/max are unknowable upfront).
    State is n_bins rows regardless of stream volume."""
    from pyspark.sql import functions as F

    width = (hi - lo) / float(n_bins)

    def _sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        binned = batch_df.groupBy(
            F.least(
                F.greatest(
                    F.floor((F.col(value_col) - lo) / width), F.lit(0)
                ),
                F.lit(n_bins - 1),
            )
            .cast("long")
            .alias("bin")
        ).agg(F.count("*").alias("cnt"))
        if spark.catalog.tableExists(target_table):
            merged = (
                spark.table(target_table)
                .unionByName(binned)
                .groupBy("bin")
                .agg(F.sum("cnt").alias("cnt"))
                .localCheckpoint(eager=True)
            )
        else:
            merged = binned
        merged.write.mode("overwrite").saveAsTable(target_table)

    return _sink


def count_merge_sink(target_table: str, key_col: str = "user_id"):
    """Build a ``foreachBatch`` body maintaining mergeable per-key
    counts — the streaming form of heavy-hitter tracking: each trigger
    folds its micro-batch to (key, cnt) partials and MERGES into the
    stored count table by addition (counts are the canonical
    mergeable summary).  State is one row per distinct key; at open
    key domains, production would cap it with a count-min sketch +
    candidate set — here the key domain (users) is bounded, so exact
    counts keep the parity proof sharp.  Work per trigger is
    O(batch + state): one batch aggregation, one key-partitioned
    merge, one overwrite (a transactional MERGE on Delta/Iceberg).

    Replay safety — addition is NOT idempotent (unlike
    min_ts_merge_sink's MIN), so the state table carries ``_bid``, the
    last batch id merged, and a replayed batch (crash between the state
    overwrite and the checkpoint commit) is skipped when
    ``batch_id <= _bid``.  Remaining caveat, by design of plain
    parquet: ``mode("overwrite")`` itself is non-atomic, so a crash
    MID-overwrite can lose the state table — production runs this on a
    transactional format (Delta/Iceberg) where the overwrite is a
    single-commit MERGE and ``_bid`` rides in the commit metadata."""
    from pyspark.sql import functions as F

    def _sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        partial = batch_df.groupBy(F.col(key_col).alias("k")).agg(
            F.count("*").alias("cnt")
        )
        if spark.catalog.tableExists(target_table):
            stored = spark.table(target_table)
            last = stored.agg(F.max("_bid")).first()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch: already merged, skip
            merged = (
                stored.select("k", "cnt")
                .unionByName(partial)
                .groupBy("k")
                .agg(F.sum("cnt").alias("cnt"))
                .localCheckpoint(eager=True)
            )
        else:
            merged = partial.localCheckpoint(eager=True)
        merged.withColumn("_bid", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).saveAsTable(target_table)

    return _sink


def min_ts_merge_sink(
    target_table: str,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
):
    """Build a ``foreachBatch`` body maintaining per-key MINIMUM event
    times — the mergeable state behind first-touch funnels, first-seen
    audits, and arrival-order dedup: each trigger folds its micro-batch
    to per-key mins and MERGES into the stored table by MIN (idempotent
    AND replay-safe for free: re-merging the same batch changes
    nothing, so this sink needs no anti-join discipline).  State is one
    row per distinct key tuple."""
    from pyspark.sql import functions as F

    keys = list(key_cols)

    def _sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        partial = batch_df.groupBy(*keys).agg(
            F.min(ts_col).alias("min_ts")
        )
        if spark.catalog.tableExists(target_table):
            merged = (
                spark.table(target_table)
                .unionByName(partial)
                .groupBy(*keys)
                .agg(F.min("min_ts").alias("min_ts"))
                .localCheckpoint(eager=True)
            )
        else:
            merged = partial
        merged.write.mode("overwrite").saveAsTable(target_table)

    return _sink


def semdedup_admission_sink(
    kept_table: str,
    out_table: str,
    threshold: float,
    n_cells: int = 16,
    salt: str = "|sd",
    pair_cap: int = 200_000,
):
    """``foreachBatch`` body for ONLINE SemDeDup admission — the
    streaming form of q_semdedup_portable's greedy ascending-id
    cascade, against a TABLE-persisted kept-vector state.  Assumes
    id-ordered arrival (each trigger's ids exceed all stored ids —
    the append-only ingest contract the other admission sinks share);
    under it, incremental admission equals the one-shot batch greedy
    exactly: a batch vector's candidate absorbers are stored kept
    cellmates (all lower-id) plus in-batch kept cellmates, so feeding
    BOTH pair sets to one greedy_admission scan reproduces the batch
    decision, cascade included (stored ids only ever appear as ``lo``
    and act as standing keepers).

    Per-trigger work: assignment is O(batch) against the broadcast
    direction frame; the stored kept table is probed by a cell
    equi-join (never shuffled whole — cells prune it); scoring
    touches candidate pairs only; the greedy frame is the contested
    subgraph (``pair_cap`` guard, cc_bounded_driver's contract).
    Replay safety: both appends anti-join on vec_id, and admission
    recomputes identically against the unchanged stored state because
    the kept append is idempotent."""
    from clv_data_pipeline_spark.operators.similarity import (
        greedy_admission,
        int_cosine_sim,
        portable_cell_assign,
    )

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        emb = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        assign = portable_cell_assign(emb, n_cells, salt).localCheckpoint(
            eager=True
        )
        bb = assign.select(
            F.col("vec_id").alias("hi"), F.col("cell").alias("cellb")
        )
        # in-batch candidates (lo < hi within cell)
        aa = assign.select(F.col("vec_id").alias("lo"), "cell")
        cand = aa.join(
            bb,
            (F.col("cell") == F.col("cellb"))
            & (F.col("lo") < F.col("hi")),
        ).select("lo", "hi")
        qp = (
            int_cosine_sim(cand, emb, emb)
            .filter(F.col("sim") >= threshold)
            .select("lo", "hi")
        )
        pair_rows = qp.limit(pair_cap + 1).collect()
        if spark.catalog.tableExists(kept_table):
            stored = spark.table(kept_table)
            scand = (
                stored.select(F.col("vec_id").alias("lo"), "cell")
                .join(bb, F.col("cell") == F.col("cellb"))
                .filter(F.col("lo") < F.col("hi"))
                .select("lo", "hi")
            )
            sqp = (
                int_cosine_sim(
                    scand,
                    stored.select("vec_id", "e"),
                    emb,
                )
                .filter(F.col("sim") >= threshold)
                .select("lo", "hi")
            )
            pair_rows = pair_rows + sqp.limit(pair_cap + 1).collect()
        if len(pair_rows) > pair_cap:
            raise ValueError(
                f"semdedup_admission_sink: contested graph exceeds "
                f"{pair_cap} pairs in one trigger — raise the "
                f"threshold or n_cells"
            )
        dropped = greedy_admission(
            [(int(r["lo"]), int(r["hi"])) for r in pair_rows]
        )
        dmap = spark.createDataFrame(
            [(v, d) for v, d in dropped.items()] or [],
            "vec_id long, dup_of long",
        )
        verdicts = (
            assign.join(dmap, "vec_id", "left")
            .select(
                "vec_id",
                F.col("cell").cast("long").alias("cell"),
                F.col("dup_of").isNull().alias("kept"),
                F.col("dup_of").cast("long").alias("dup_of"),
            )
            .localCheckpoint(eager=True)
        )
        out_append = verdicts
        if spark.catalog.tableExists(out_table):
            out_append = _replay_anti_join(
                verdicts, spark.table(out_table), "vec_id"
            ).localCheckpoint(eager=True)
        # §6 I/O (round 13): micro-batch-bounded state — one part file
        # per trigger instead of 32 tiny ones (see substring_audit_sink)
        out_append.coalesce(1).write.mode("append").saveAsTable(
            out_table
        )
        kept_rows = (
            verdicts.filter(F.col("kept"))
            .select("vec_id", "cell")
            .join(emb, "vec_id")
            .select("vec_id", "cell", "e")
        )
        if spark.catalog.tableExists(kept_table):
            kept_rows = _replay_anti_join(
                kept_rows, spark.table(kept_table), "vec_id"
            )
        kept_rows.localCheckpoint(eager=True).coalesce(1).write.mode(
            "append"
        ).saveAsTable(kept_table)

    return _fn


def counter_merge_sink(target_table: str, agg_fn):
    """Build a ``foreachBatch`` body maintaining ONE row of named
    additive BIGINT counters — the smallest mergeable state there is:
    ``agg_fn(batch_df)`` reduces the micro-batch to a 1-row counter
    frame and the sink MERGES it into the stored row by columnwise
    addition.  Same replay discipline as :func:`count_merge_sink`
    (addition is not idempotent, so the state carries ``_bid`` and a
    replayed batch is skipped); same plain-parquet overwrite caveat
    (production puts this on a transactional table format)."""
    from pyspark.sql import functions as F

    def _sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        partial = agg_fn(batch_df)
        cols = partial.columns
        if spark.catalog.tableExists(target_table):
            stored = spark.table(target_table)
            last = stored.agg(F.max("_bid")).first()[0]
            if last is not None and batch_id <= last:
                return  # replayed batch: already merged, skip
            merged = (
                stored.select(*cols)
                .unionByName(partial)
                .agg(
                    *[
                        F.sum(c).cast("long").alias(c)
                        for c in cols
                    ]
                )
                .localCheckpoint(eager=True)
            )
        else:
            merged = partial.localCheckpoint(eager=True)
        # §6 I/O (round 13): one counter row — one part file
        merged.withColumn(
            "_bid", F.lit(batch_id).cast("long")
        ).coalesce(1).write.mode("overwrite").saveAsTable(target_table)

    return _sink
