"""Batch ingest — the Spark analog of the reference's appender.

The reference's Add/AddFast + async ingest pipeline (per-metric pending
lists, elastic queues, UpdateItem expressions; ref:
pkg/appender/appender.go:194-287, pkg/appender/ingest.go:38-146,
pkg/appender/store.go:292-484) collapses on Spark into: normalize →
validate → dedup → one partitioned, sorted Parquet append + one rollup
partial append. The state machine, LRU cache, and expression builder
have no Spark counterpart because the write path is a bulk columnar
append rather than a per-item read-modify-write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from v3io_tsdb_spark.config import TSDBConfig
from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.labels import series_id_col
from v3io_tsdb_spark.timeutils import MAX_TIME_MS, MIN_TIME_MS

# typed variant columns, one per reserved on-disk kind
# (ref: pkg/chunkenc/vartype.go:32-50; string is the only kind the
# reference appender implements, vartype.go:119-132 — the rest are
# implemented here as real typed columns)
VARIANT_COLS = (
    ("value_str", "string"),
    ("value_bool", "boolean"),
    ("value_int", "long"),
    ("value_blob", "binary"),
)

_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_str", T.StringType()),
        T.StructField("value_bool", T.BooleanType()),
        T.StructField("value_int", T.LongType()),
        T.StructField("value_blob", T.BinaryType()),
    ]
)


def normalize_samples(spark: SparkSession, data) -> DataFrame:
    """Accept a DataFrame or rows of dicts ``{ts, name, labels, value}``
    and normalize to the samples schema (ts → int64 ms, series_id
    computed JVM-side via xxhash64)."""
    if isinstance(data, DataFrame):
        df = data
    else:
        rows = []
        for r in data:
            rows.append(
                (
                    int(r["ts"]),
                    r["name"],
                    dict(r.get("labels") or {}),
                    None if r.get("value") is None else float(r["value"]),
                    r.get("value_str"),
                    r.get("value_bool"),
                    None if r.get("value_int") is None else int(r["value_int"]),
                    r.get("value_blob"),
                )
            )
        df = spark.createDataFrame(rows, _INPUT_SCHEMA)

    if dict(df.dtypes).get("ts", "").startswith("timestamp"):
        df = df.withColumn("ts", F.unix_millis(F.col("ts")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("long"))
    if "labels" not in df.columns:
        df = df.withColumn("labels", F.create_map().cast("map<string,string>"))
    if "value" not in df.columns:
        df = df.withColumn("value", F.lit(None).cast("double"))
    else:
        df = df.withColumn("value", F.col("value").cast("double"))
    for vc, vt in VARIANT_COLS:
        if vc not in df.columns:
            df = df.withColumn(vc, F.lit(None).cast(vt))
    df = df.withColumn("series_id", series_id_col(F.col("name"), F.col("labels")))
    return df.select(
        "ts", "name", "labels", "series_id", "value", *[c for c, _ in VARIANT_COLS]
    )


def validate_samples(df: DataFrame) -> None:
    """Engine-level ingest validation, one aggregate job per batch.

    - timestamps must be within [1970, 2400]
      (ref: pkg/appender/appender.go:289-294)
    - metric names must be valid (ref: pkg/appender/appender.go:213-215)
    - a series is exclusively ONE value kind — float or a single
      variant type (ref: pkg/appender/appender.go:244-254 float-vs-
      variant; kinds per pkg/chunkenc/vartype.go:32-50)
    """
    kind_cols = ["value"] + [c for c, _ in VARIANT_COLS if c in df.columns]
    # ONE job for all three checks: per-series partial aggregates
    # (map-side combinable) then a tiny roll-up over series — the
    # two-job version scanned the un-materialized batch twice
    per_series = df.groupBy("series_id").agg(
        F.sum((~F.col("ts").between(MIN_TIME_MS, MAX_TIME_MS)).cast("int")).alias("bad_ts"),
        F.sum((~F.col("name").rlike("^[a-zA-Z_:][a-zA-Z0-9_:]*$")).cast("int")).alias("bad_name"),
        *[F.max(F.col(c).isNotNull().cast("int")).alias(f"has_{c}") for c in kind_cols],
    )
    bad = per_series.select(
        F.sum("bad_ts").alias("bad_ts"),
        F.sum("bad_name").alias("bad_name"),
        F.sum((sum(F.col(f"has_{c}") for c in kind_cols) > 1).cast("int")).alias("mixed"),
    ).first()
    if bad and bad["bad_ts"]:
        raise BadRequest(f"{bad['bad_ts']} samples outside valid time range (1970..2400)")
    if bad and bad["bad_name"]:
        raise BadRequest(f"{bad['bad_name']} samples with invalid metric name")
    if bad and bad["mixed"]:
        raise BadRequest("series cannot mix value kinds (float/str/bool/int/blob)")


def series_kind_col():
    """Per-row value kind (exactly one value column is non-null)."""
    expr = F.when(F.col("value").isNotNull(), F.lit("float"))
    for vc, _ in VARIANT_COLS:
        expr = expr.when(F.col(vc).isNotNull(), F.lit(vc.removeprefix("value_")))
    return expr


def series_kinds(df: DataFrame) -> DataFrame:
    """Distinct (series_id, kind) pairs of a batch — tiny (one row per
    series), the input to the cross-append type-conflict check."""
    return (
        df.select("series_id", series_kind_col().alias("kind"))
        .where(F.col("kind").isNotNull())
        .distinct()
    )


def prepare_for_write(df: DataFrame, config: TSDBConfig) -> DataFrame:
    """Dedup + layout for the storage table.

    Dedup on (series_id, ts) replicates the reference's
    duplicate-sample policy as idempotent last-write-wins
    (ref: pkg/appender/store.go:336-352, OverrideOld
    pkg/config/config.go:146-147). Rows are bucketed by
    (dt, series_id-hash) so no single date becomes one giant task, and
    sorted within partitions by (name, series_id, ts) so Parquet
    row-group min/max statistics prune both name and time predicates
    (ref analog: per-series KV items + sharding keys,
    pkg/partmgr/partmgr.go:459-487).
    """
    df = df.dropDuplicates(["series_id", "ts"])
    df = df.withColumn("dt", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    df = df.repartition(n, F.col("dt"), F.pmod(F.col("series_id"), F.lit(n)))
    return df.sortWithinPartitions("name", "series_id", "ts")
