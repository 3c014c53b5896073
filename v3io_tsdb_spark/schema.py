"""Core table schemas, and how a samples table with no partition reads.

Long-format samples table + rollup table, per SURVEY.md §7.1 and the
reference's data model (ref: pkg/aggregate/aggregate.go:68-79 for the
rollup fields; pkg/appender/appender.go:194-208 for the sample shape).

All timestamps are int64 Unix milliseconds (``ts`` / ``bucket``),
matching the reference and avoiding timezone ambiguity; a derived
``dt`` (yyyy-MM-dd string) partitions the storage table so time-range
predicates prune Parquet partitions.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # unix ms
        T.StructField("name", T.StringType(), False),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("series_id", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
        # Variant metrics: one typed column per on-disk variant kind the
        # reference's enum reserves (ref: pkg/chunkenc/vartype.go:32-50
        # varTypeString/Bool/Int*/Blob — its appender implements only
        # string+nil, vartype.go:119-132; here each reserved kind is a
        # real typed column). Sparse columns are near-free in Parquet
        # (null runs compress away; unread kinds never leave the
        # footer), and exactly ONE of the value columns is non-null per
        # row — a series is float XOR one variant kind (appender
        # validation).
        T.StructField("value_str", T.StringType(), True),
        T.StructField("value_bool", T.BooleanType(), True),
        T.StructField("value_int", T.LongType(), True),
        T.StructField("value_blob", T.BinaryType(), True),
    ]
)

# the per-series rollup format: build_rollup and merge_partials output
# exactly these fields in this order (``rollup.py`` owns the writer)
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),  # unix ms, floor(ts/gran)*gran
        T.StructField("name", T.StringType(), False),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("series_id", T.LongType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("sqr", T.DoubleType(), True),  # sum(v*v)
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("last", T.DoubleType(), True),
        T.StructField("last_ts", T.LongType(), True),
    ]
)


def has_partitions(path: str, key: str) -> bool:
    """Whether the table at ``path`` holds any ``key=`` partition
    directory — a listing, no Spark read."""
    return bool(glob.glob(os.path.join(path, f"{key}=*")))


def read_samples(spark: SparkSession, path: str) -> DataFrame:
    """The samples table at ``path``. A table with no ``dt=`` partition
    (never written, or every partition deleted) reads as an EMPTY frame
    on the stored layout — SAMPLES_SCHEMA plus ``dt`` — not as an
    UNABLE_TO_INFER_SCHEMA error: a query over an empty TSDB returns an
    empty result (ref: pkg/pquerier/querier.go Select over empty
    partitions), and a full-range delete leaves a queryable table, like
    the reference's delete-all (ref: pkg/tsdb/delete_integration_test.go:
    97-127)."""
    if not has_partitions(path, "dt"):
        return spark.createDataFrame([], SAMPLES_SCHEMA).withColumn(
            "dt", F.lit(None).cast("string")
        )
    return spark.read.parquet(path)
