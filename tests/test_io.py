"""Source/sink wrappers (SURVEY.md §2.1 S1-S9)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from clv_data_pipeline_spark.schemas import MASTER_USERS_SCHEMA, TRANSACTIONS_SCHEMA
from clv_data_pipeline_spark.sources.io import (
    append_rows,
    read_transactions_csv,
    table_columns,
    write_csv,
)
from tests.conftest import jobs_during


def test_csv_write_read_roundtrip_with_schema(spark, tmp_path):
    """S1+S3: header CSV out, explicit-schema read back (autodetect
    permanently off, like reference clv_data_dag.py:73)."""
    rows = [
        (1, 2, 9.5, "2026-01-01 10:00:00", 19.0),
        (2, 1, 50.25, "2026-01-01 11:30:00", 50.25),
    ]
    df = spark.createDataFrame(
        rows, ["CustomerID", "Quantity", "UnitPrice", "order_timestamp", "TotalPurchase"]
    ).withColumn("order_timestamp", F.to_timestamp("order_timestamp"))
    path = str(tmp_path / "tx_csv")
    write_csv(df, path)
    back = read_transactions_csv(spark, path)
    # Spark relaxes nullability on file reads; names/types must hold
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in TRANSACTIONS_SCHEMA.fields
    ]
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))


def test_append_rows_streaming_insert_shape(spark, tmp_path):
    """S7: small-batch row insert (reference simulate_data.py:82-88)."""
    path = str(tmp_path / "master_users")
    append_rows(spark, [{"CustomerID": 401}], MASTER_USERS_SCHEMA, path)
    append_rows(
        spark,
        [{"CustomerID": 402}, {"CustomerID": 403}],
        MASTER_USERS_SCHEMA,
        path,
    )
    got = spark.read.parquet(path)
    assert sorted(r["CustomerID"] for r in got.collect()) == [401, 402, 403]
    # the empty->max=0 edge (reference simulate_data.py:39)
    empty = spark.createDataFrame([], MASTER_USERS_SCHEMA)
    mx = empty.agg(
        F.coalesce(F.max("CustomerID"), F.lit(0).cast("long")).alias("m")
    ).first()["m"]
    assert mx == 0


def test_table_exists_create_and_columns(spark):
    """S8+S9: catalog existence probe, create-if-missing, metadata read."""
    from clv_data_pipeline_spark.sources.io import (
        create_table_if_not_exists,
        table_exists,
    )

    name = "t_io_test_master"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert not table_exists(spark, name)
    create_table_if_not_exists(spark, name, MASTER_USERS_SCHEMA)
    assert table_exists(spark, name)
    # idempotent second call (reference's create-on-demand path)
    create_table_if_not_exists(spark, name, MASTER_USERS_SCHEMA)
    assert table_columns(spark, name) == ["CustomerID"]
    spark.sql(f"DROP TABLE {name}")


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """S-ops extension: many micro-appends -> one compaction pass ->
    fewer files, identical data."""
    from clv_data_pipeline_spark.sources.io import compact_parquet

    path = str(tmp_path / "micro")
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    before_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())

    files_before, files_after = compact_parquet(spark, path, target_files=2)
    assert files_before > files_after
    assert files_after <= 2
    after_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows


def test_csv_permissive_and_dropmalformed(spark, tmp_path):
    """Malformed raw rows must be quarantined (PERMISSIVE +
    _corrupt_record) or dropped (DROPMALFORMED), never silently
    mis-parsed — the ingest-side companion to the quality firewall."""
    import pyspark.sql.types as T

    p = tmp_path / "bad.csv"
    p.write_text(
        "CustomerID,Quantity,UnitPrice\n"
        "1,2,9.99\n"
        "oops,not,numeric\n"
        "3,4,1.50\n"
    )
    schema = T.StructType(
        [
            T.StructField("CustomerID", T.LongType()),
            T.StructField("Quantity", T.LongType()),
            T.StructField("UnitPrice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    perm = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    assert perm.count() == 3
    bad = perm.filter(perm["_corrupt_record"].isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "oops,not,numeric"

    dropped = (
        spark.read.schema(schema.fields and T.StructType(schema.fields[:3]))
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(r["CustomerID"] for r in dropped.collect()) == [1, 3]


def test_merge_upsert_semantics(spark):
    from clv_data_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, tag string, v double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, tag string, v double"
    )
    out = {r["id"]: r for r in merge_upsert(target, source, ["id"]).collect()}
    assert set(out) == {1, 2, 3, 4}          # passthrough + update + insert
    assert out[2]["tag"] == "B" and out[2]["v"] == 99.0   # matched -> source
    assert out[1]["tag"] == "a"                            # unmatched -> target
    assert out[4]["v"] == 40.0                             # source-only -> insert


def test_merge_upsert_rejects_schema_mismatch(spark):
    import pytest as _pytest

    from clv_data_pipeline_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, "a")], "id long, tag string")
    s = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(t, s, ["id"])


def test_load_table_normalizes_all_timestamp_encodings(spark):
    """Regression gate for the round-2 breakage: whatever physical
    timestamp encoding the driver testdata uses (TIMESTAMP(NANOS) ->
    bigint shim, us-no-tz -> TIMESTAMP_NTZ, us+tz -> TIMESTAMP), no
    timestamp_ntz or bigint-ts column may escape load_table — every
    downstream unix_micros / withWatermark consumer requires TIMESTAMP."""
    from clv_data_pipeline_spark.schemas import TESTDATA_TABLES
    from clv_data_pipeline_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    ts_like = ("ts", "o_orderdate", "l_shipdate")
    for name in TESTDATA_TABLES:
        df = load_table(spark, SF_SMOKE, name)
        types = dict(df.dtypes)
        for col, dtype in types.items():
            assert dtype != "timestamp_ntz", f"{name}.{col} escaped as NTZ"
        for col in ts_like:
            if col in types:
                assert types[col] in ("timestamp", "date"), (
                    f"{name}.{col} is {types[col]}, want timestamp/date"
                )


def test_normalize_timestamps_casts_ntz_parquet(spark, tmp_path):
    """A parquet file written by pandas/pyarrow without tz (the most
    common way event data arrives) must come back as plain TIMESTAMP
    with identical micros under the UTC session."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clv_data_pipeline_spark.sources.io import normalize_timestamps

    path = str(tmp_path / "ntz")
    tbl = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    ["2024-01-01 00:00:00.000001", "2024-01-02 12:34:56.789012"]
                ),
                pa.timestamp("us"),  # no tz -> Spark reads TIMESTAMP_NTZ
            ),
        }
    )
    import os as _os

    _os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, _os.path.join(path, "part-0.parquet"))

    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    fixed = normalize_timestamps(raw)
    assert dict(fixed.dtypes)["ts"] == "timestamp"
    micros = [
        r["us"]
        for r in fixed.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
    ]
    assert micros == [1704067200000001, 1704198896789012]


def test_materialize_temp_keyed_reuses_artifact(spark, tmp_path):
    """Content-keyed materialization: same key -> the dataset is built
    once and later calls scan the stored artifact; different key ->
    fresh build.  This is the derived-artifact contract q_simhash /
    q_clv_scores rely on to avoid re-running their kernels per
    invocation without any executor-cache residency."""
    import glob
    import os

    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.sources.io import materialize_temp

    src = str(tmp_path / "src")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(src)
    df = spark.read.parquet(src)

    key = f"test-materialize-{tmp_path.name}"
    out1 = materialize_temp(df, "test_mat_", key=key)
    path1 = out1.inputFiles()[0]
    # same key: no rebuild — the scan points at the same stored files
    out2 = materialize_temp(
        df.filter(F.col("id") < 0), "test_mat_", key=key
    )
    assert sorted(out2.inputFiles()) == sorted(out1.inputFiles())
    assert out2.count() == 100  # stored artifact wins over the new plan
    # different key: fresh build
    out3 = materialize_temp(
        df.filter(F.col("id") < 10), "test_mat_", key=key + "-other"
    )
    assert out3.count() == 10
    assert sorted(out3.inputFiles()) != sorted(out1.inputFiles())
    # unkeyed: always a fresh tempdir
    out4 = materialize_temp(df, "test_mat_")
    assert os.path.dirname(out4.inputFiles()[0]) != os.path.dirname(path1)
    local_dir = os.path.dirname(path1).removeprefix("file:")
    assert glob.glob(os.path.join(local_dir, "*.parquet"))


def test_load_table_infers_each_file_schema_once(spark, tmp_path):
    """A second load_table of an unchanged file runs no Spark job; a
    rewritten file, or a changed reader conf, infers again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clv_data_pipeline_spark.sources.io import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2], "b": [b"x", b"y"]}), path)
    first, jobs = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 1 and first.dtypes == [("id", "bigint"), ("b", "binary")]
    again, jobs = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0 and again.schema == first.schema
    assert sorted(r["id"] for r in again.collect()) == [1, 2]

    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        as_string = load_table(spark, str(tmp_path), "t")
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(as_string.dtypes)["b"] == "string"

    pq.write_table(pa.table({"id": [3], "extra": ["z"]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    rewritten = load_table(spark, str(tmp_path), "t")
    assert rewritten.dtypes == [("id", "bigint"), ("extra", "string")]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "z")]


def test_materialize_temp_reads_back_without_inference(spark, tmp_path):
    """A keyed reuse of a stored artifact runs no Spark job, and the
    unkeyed read-back has the written frame's columns and types."""
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.sources.io import materialize_temp

    df = spark.range(10).withColumn("v", F.col("id").cast("decimal(12,2)"))
    key = f"test-reuse-{tmp_path.name}"
    built = materialize_temp(df, "test_reuse_", key=key)
    reused, jobs = jobs_during(
        spark, lambda: materialize_temp(df, "test_reuse_", key=key)
    )
    assert jobs == 0
    assert reused.schema == built.schema and reused.count() == 10

    back = materialize_temp(df, "test_unkeyed_")
    assert back.dtypes == df.dtypes
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_scratch_dir_root_is_removed_at_exit(tmp_path):
    """Scratch directories live under one per-process root that an
    atexit hook removes: a process that wrote into one, and read back
    an unkeyed ``materialize_temp`` dataset, leaves its TMPDIR empty."""
    import os
    import pathlib
    import subprocess
    import sys

    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    code = (
        "import os\n"
        "from pyspark.sql import SparkSession\n"
        "from clv_data_pipeline_spark.sources.io import (\n"
        "    materialize_temp, scratch_dir)\n"
        "for prefix in ('a_', 'b_'):\n"
        "    d = scratch_dir(prefix)\n"
        "    open(os.path.join(d, 'f'), 'w').write('x')\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = materialize_temp(spark.range(3), 'unkeyed_')\n"
        "assert df.count() == 3\n"
        "spark.stop()\n"
    )
    subprocess.run(
        [sys.executable, "-c", code],
        cwd=pathlib.Path(__file__).resolve().parents[1],
        env={**os.environ, "TMPDIR": str(tmpdir)},
        check=True,
    )
    assert list(tmpdir.iterdir()) == []
