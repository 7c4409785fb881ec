"""Structured Streaming ingest + windowed aggregates (SURVEY.md §2.8)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from clv_data_pipeline_spark.operators.features import rfm_features
from clv_data_pipeline_spark.operators.sessions import session_stats
from clv_data_pipeline_spark.simulate import simulate_daily_batch
from clv_data_pipeline_spark.sources.io import load_table
from clv_data_pipeline_spark.streaming.ingest import (
    ingest_stream,
    streaming_sessions,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


def test_available_now_ingest_full_refresh(spark, tmp_path):
    """Drop two daily batches into staging; the availableNow stream must
    drain exactly the new files per trigger and the foreachBatch full
    refresh must equal the batch-mode feature build."""
    src = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    feats_out = str(tmp_path / "features")

    b1 = simulate_daily_batch(spark, 50, "2026-01-01 00:00:00", seed=1)
    b1.write.mode("append").parquet(src)

    seen_counts = []

    def refresh(batch_df, batch_id):
        seen_counts.append(batch_df.count())
        # full refresh like the reference CTAS: recompute over ALL staged
        # data (the stream delivers increments; the refresh reads the table)
        full = spark.read.parquet(src)
        rfm_features(full, asof="2026-01-03").write.mode("overwrite").parquet(
            feats_out
        )

    q = ingest_stream(spark, src, ckpt, refresh)
    q.awaitTermination(120)
    assert sum(seen_counts) == b1.count()

    # second batch: only the new files flow through the stream
    b2 = simulate_daily_batch(spark, 50, "2026-01-02 00:00:00", seed=2)
    b2.write.mode("append").parquet(src)
    seen_counts.clear()
    q = ingest_stream(spark, src, ckpt, refresh)
    q.awaitTermination(120)
    assert sum(seen_counts) == b2.count()

    # refreshed features == batch-mode build over the full staging table
    got = spark.read.parquet(feats_out)
    want = rfm_features(spark.read.parquet(src), asof="2026-01-03")
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_windowed_counts_match_batch_groupby(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    win = windowed_event_counts(ev).orderBy("window_start")
    batch = (
        ev.groupBy(F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd HH:mm:ss").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    got = {r["window_start"]: r["n_events"] for r in win.collect()}
    want = {r["d"]: r["n"] for r in batch.collect()}
    assert got == want


def test_streaming_sessions_match_gap_and_island(spark):
    """session_window(30m) must produce the same (count, start) session
    set as the batch gap-and-island operator."""
    ev = load_table(spark, SF_SMOKE, "events")
    sw = streaming_sessions(ev, gap="30 minutes")
    gi = session_stats(ev, gap_seconds=1800)
    got = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in sw.collect()
    )
    want = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in gi.collect()
    )
    assert got == want


def test_streaming_query_runs_through_memory_sink(spark, tmp_path):
    """Drive the actual streaming engine (not batch reuse): file source
    -> windowed agg -> memory sink, availableNow."""
    src = str(tmp_path / "events_stream")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    agg = windowed_event_counts(stream.withColumn(
        "ts", F.col("ts")
    ))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    assert len(rows) == 30  # 30 days of events in January
    assert sum(r["n_events"] for r in rows) == 1000


def test_stateful_running_stats_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user state must persist in the
    checkpoint across two availableNow runs, and the final snapshot must
    equal the batch aggregate over the union of both batches."""
    from clv_data_pipeline_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "ts", "value")
    # deterministic split: batch 2 overlaps batch 1 on users ≡ 0 (mod 4),
    # so some users accumulate state across both runs
    b1 = ev.filter(F.col("user_id") % 2 == 0)
    b2 = ev.filter(F.col("user_id") % 2 == 1).union(
        ev.filter(F.col("user_id") % 4 == 0)
    )

    def run(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            running_user_stats(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(b1)
    run(b2)

    emitted = spark.read.parquet(out)
    # latest snapshot per user = the row with the highest n_events
    latest = (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max_by("first_us", "n_events").alias("first_us"),
            F.max_by("last_us", "n_events").alias("last_us"),
        )
    )
    want = (
        b1.union(b2)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6),
                       r["first_us"], r["last_us"])
        for r in latest.collect()
    }
    exp = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6),
                       r["first_us"], r["last_us"])
        for r in want.collect()
    }
    assert got == exp


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: exactly-once event_ids in the
    sink even when the source delivers duplicates; watermark bounds the
    dedup state (the unbounded-state dropDuplicates is not viable on an
    infinite stream)."""
    src = str(tmp_path / "dup_src")
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id")
    ev.write.mode("append").parquet(src)
    ev.write.mode("append").parquet(src)  # every event delivered twice

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_sink")
    n_total = got.count()
    n_distinct = got.distinct().count()
    assert n_total == n_distinct == ev.count()


def test_upsert_sink_accumulates_incrementally(spark, tmp_path):
    """Two streamed batches merged through upsert_sink: batch 2 updates
    existing keys and inserts new ones; the table never fully rebuilds
    (the sink only sees each delta) yet ends equal to last-write-wins
    over all staged rows."""
    from pyspark.sql import Window

    from clv_data_pipeline_spark.streaming.ingest import upsert_sink

    src = str(tmp_path / "kv_staging")
    ckpt = str(tmp_path / "kv_ckpt")
    schema = "id LONG, v DOUBLE, ts TIMESTAMP"

    def last_write_wins(df):
        w = Window.partitionBy("id").orderBy(F.desc("ts"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )

    sink = upsert_sink("t_upsert_sink", ["id"], transform=last_write_wins)
    try:
        spark.createDataFrame(
            [(1, 10.0, "2026-01-01 00:00:00"), (2, 20.0, "2026-01-01 01:00:00")],
            ["id", "v", "ts"],
        ).selectExpr("id", "v", "CAST(ts AS TIMESTAMP) ts").write.mode(
            "append"
        ).parquet(src)
        q = ingest_stream(spark, src, ckpt, sink, schema=schema)
        q.awaitTermination(120)

        spark.createDataFrame(
            [(2, 99.0, "2026-01-02 00:00:00"), (3, 30.0, "2026-01-02 01:00:00")],
            ["id", "v", "ts"],
        ).selectExpr("id", "v", "CAST(ts AS TIMESTAMP) ts").write.mode(
            "append"
        ).parquet(src)
        q = ingest_stream(spark, src, ckpt, sink, schema=schema)
        q.awaitTermination(120)

        got = {
            r["id"]: r["v"] for r in spark.table("t_upsert_sink").collect()
        }
        assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_upsert_sink")


def test_transform_with_state_matches_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API, RocksDB
    store): the running snapshot over two availableNow runs must equal
    the batch aggregate over the union — same invariant as the
    applyInPandasWithState twin.

    The TWS runtime speaks protobuf to its state server; skipped where
    google.protobuf is not installed (this container).  The
    applyInPandasWithState twin above pins the same state invariant on
    an API with no such dependency."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its "
        "state-server protocol; `pip install protobuf` was attempted "
        "(round 4) and fails with 'No matching distribution found' — "
        "the container has no package index, and the runtime can't be "
        "vendored by hand (pyspark ships generated _pb2 modules that "
        "need the real google.protobuf package).  Re-attempted round 5: "
        "`pip download protobuf` fails with NewConnectionError "
        "'[Errno -2] Name or service not known' (no DNS/network), and a "
        "filesystem-wide search for a protobuf wheel or installed "
        "google.protobuf found only typeshed stubs — no vendorable "
        "artifact exists on this host",
    )
    from clv_data_pipeline_spark.streaming.stateful import (
        running_user_stats_tws,
    )

    src = str(tmp_path / "tws_src")
    out = str(tmp_path / "tws_out")
    ckpt = str(tmp_path / "tws_ckpt")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id", "ts", "value"
        )
        b1 = ev.filter(F.col("user_id") % 2 == 0)
        b2 = ev.filter(F.col("user_id") % 2 == 1).union(
            ev.filter(F.col("user_id") % 4 == 0)
        )

        def run(batch_df):
            batch_df.write.mode("append").parquet(src)
            stream = spark.readStream.schema(batch_df.schema).parquet(src)
            q = (
                running_user_stats_tws(stream)
                .writeStream.foreachBatch(
                    lambda bdf, bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run(b1)
        run(b2)

        emitted = spark.read.parquet(out)
        latest = emitted.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max_by("first_us", "n_events").alias("first_us"),
            F.max_by("last_us", "n_events").alias("last_us"),
        )
        want = (
            b1.union(b2)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("value").alias("total_value"),
                F.min(F.unix_micros("ts")).alias("first_us"),
                F.max(F.unix_micros("ts")).alias("last_us"),
            )
        )
        got = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6),
                           r["first_us"], r["last_us"])
            for r in latest.collect()
        }
        exp = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6),
                           r["first_us"], r["last_us"])
            for r in want.collect()
        }
        assert got == exp
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_streaming_event_time_survives_ntz_source(spark, tmp_path):
    """A file stream whose parquet stores ts as us-no-tz (TIMESTAMP_NTZ,
    the pandas/pyarrow default) must still flow through watermarked
    windows and the stateful operator — ensure_event_time retags NTZ to
    TIMESTAMP before withWatermark/unix_micros see it."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clv_data_pipeline_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "ntz_src")
    os.makedirs(src, exist_ok=True)
    tbl = pa.table(
        {
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    [
                        "2026-01-01 00:00:00",
                        "2026-01-01 06:00:00",
                        "2026-01-02 00:00:00",
                    ]
                ),
                pa.timestamp("us"),  # no tz -> TIMESTAMP_NTZ
            ),
            "value": pa.array([10.0, 20.0, 5.0], pa.float64()),
        }
    )
    pq.write_table(tbl, os.path.join(src, "part-0.parquet"))

    raw = spark.read.parquet(src)
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    stream = spark.readStream.schema(raw.schema).parquet(src)

    # watermarked tumbling windows over the NTZ source
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("ntz_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ntz_ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    win = {r["window_start"]: r["n_events"]
           for r in spark.sql("select * from ntz_win").collect()}
    assert win == {"2026-01-01 00:00:00": 2, "2026-01-02 00:00:00": 1}

    # stateful per-user fold (unix_micros path) over the same source
    out = str(tmp_path / "ntz_out")
    q = (
        running_user_stats(spark.readStream.schema(raw.schema).parquet(src))
        .writeStream.foreachBatch(
            lambda bdf, bid: bdf.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ntz_ckpt2"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: (2, 30.0), 2: (1, 5.0)}


def test_dedup_admission_sink_admits_first_seen_only(spark, tmp_path):
    """Two availableNow triggers over a document stream with duplicate
    content within AND across batches: the admitted table must hold
    exactly the first-seen doc per fingerprint — equal to batch
    dedup_exact over everything streamed — and the second trigger must
    reject content already admitted by the first (index persisted
    across triggers as a table, not executor state)."""
    from clv_data_pipeline_spark.operators.dedup import dedup_exact
    from clv_data_pipeline_spark.streaming.ingest import (
        dedup_admission_sink,
        ingest_stream,
    )

    import uuid

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "docs_ckpt")
    # uuid table names: a fixed name leaves warehouse files behind that
    # a later session's DROP TABLE IF EXISTS (empty catalog) won't
    # remove, and append-mode saveAsTable would resurrect them
    suffix = uuid.uuid4().hex[:8]
    index_table = f"t_dedup_idx_{suffix}"
    admitted_table = f"t_dedup_adm_{suffix}"

    schema = "doc_id long, text string"
    b1 = [(1, "alpha beta"), (2, "ALPHA  beta"), (3, "gamma")]
    b2 = [(4, "alpha beta"), (5, "delta"), (6, "delta")]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)

    sink = dedup_admission_sink(index_table, admitted_table)
    q = ingest_stream(spark, src, ckpt, sink, schema=schema)
    q.awaitTermination(120)

    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    q = ingest_stream(spark, src, ckpt, sink, schema=schema)
    q.awaitTermination(120)

    try:
        got = sorted(
            r["doc_id"] for r in spark.table(admitted_table).collect()
        )
        everything = spark.createDataFrame(b1 + b2, schema)
        want = sorted(
            r["doc_id"] for r in dedup_exact(everything).collect()
        )
        assert got == want == [1, 3, 5]
        # the index holds one row per distinct fingerprint
        assert spark.table(index_table).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {admitted_table}")
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_dedup_admission_sink_replay_is_idempotent(spark):
    """Structured Streaming replays a micro-batch after any crash
    inside the trigger; both of the sink's appends must be idempotent
    on plain parquet (ADVICE r6 #4).  Covers full replay (crash after
    both appends) AND the partial-crash window (admitted landed, index
    append lost): the replay must not duplicate admitted rows and must
    still land the batch's fingerprints."""
    import uuid

    from clv_data_pipeline_spark.streaming.ingest import (
        dedup_admission_sink,
    )

    suffix = uuid.uuid4().hex[:8]
    index_table = f"t_replay_idx_{suffix}"
    admitted_table = f"t_replay_adm_{suffix}"
    sink = dedup_admission_sink(index_table, admitted_table)
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], schema
    )
    try:
        sink(batch, 0)
        adm1 = sorted(
            r["doc_id"] for r in spark.table(admitted_table).collect()
        )
        idx1 = spark.table(index_table).count()
        assert adm1 == [1, 2] and idx1 == 2

        # full replay: crash after both appends -> rerun changes nothing
        sink(batch, 0)
        assert sorted(
            r["doc_id"] for r in spark.table(admitted_table).collect()
        ) == [1, 2]
        assert spark.table(index_table).count() == 2

        # partial crash: admitted landed but the index append was lost
        spark.sql(f"DROP TABLE {index_table}")
        sink(batch, 0)
        assert sorted(
            r["doc_id"] for r in spark.table(admitted_table).collect()
        ) == [1, 2], "replay after partial crash duplicated admissions"
        assert spark.table(index_table).count() == 2, (
            "replay after partial crash must still land fingerprints"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {admitted_table}")
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_substring_audit_sink_replay_is_idempotent(spark):
    """Same replay contract for the substring-audit sink: per-doc
    stats rows must not duplicate under batch replay, and the gram
    index must converge to the same state."""
    import uuid

    from clv_data_pipeline_spark.streaming.ingest import (
        substring_audit_sink,
    )

    suffix = uuid.uuid4().hex[:8]
    index_table = f"t_sub_idx_{suffix}"
    out_table = f"t_sub_out_{suffix}"
    words = " ".join(f"w{i}" for i in range(60))
    sink = substring_audit_sink(index_table, out_table, window=50)
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(
        [(1, words), (2, words + " tail")], schema
    )
    try:
        sink(batch, 0)
        n_out = spark.table(out_table).count()
        n_idx = spark.table(index_table).count()
        assert n_out == 2 and n_idx > 0

        sink(batch, 0)  # full replay
        assert spark.table(out_table).count() == n_out
        assert spark.table(index_table).count() == n_idx
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {out_table}")
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def _catalog_names(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def test_stream_pair_curate_drops_its_state_table(spark):
    from clv_data_pipeline_spark import registry

    out = registry.all_queries()["q_stream_pair_curate"](spark, SF_SMOKE)
    assert out.count() == 4
    left = [n for n in _catalog_names(spark) if n.startswith("pair_curate_stream_")]
    assert left == []


def test_memory_sink_query_unregisters_its_view(spark):
    from clv_data_pipeline_spark import registry

    before = _catalog_names(spark)
    out = registry.all_queries()["q_stream_pyds"](spark, SF_SMOKE)
    assert out.count() > 0
    assert _catalog_names(spark) == before


def test_stream_helpers_clean_up_when_the_sink_raises(spark, tmp_path, monkeypatch):
    """A failing sink's error reaches the caller, and neither the
    scratch arrival/checkpoint dirs nor the state table survive it."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    from clv_data_pipeline_spark.streaming.ingest import (
        replay_arrivals,
        scratch_tables,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _catalog_names(spark)

    def sink(batch_df, batch_id):
        batch_df.write.saveAsTable(table)
        raise RuntimeError("sink failed on purpose")

    with pytest.raises(StreamingQueryException, match="sink failed on purpose"):
        with scratch_tables(spark, "failing_sink") as (table,):
            replay_arrivals([spark.range(3), spark.range(3, 6)], sink)
    assert os.listdir(tmp_path) == []
    assert _catalog_names(spark) == before


def test_stream_helpers_stop_a_query_that_outlives_the_timeout(spark, monkeypatch):
    import time

    from clv_data_pipeline_spark.streaming import ingest

    monkeypatch.setattr(ingest, "AWAIT_TIMEOUT_S", 1)

    def slow_sink(batch_df, batch_id):
        time.sleep(4)

    with pytest.raises(TimeoutError):
        ingest.replay_arrivals([spark.range(3)], slow_sink)
    assert spark.streams.active == []
