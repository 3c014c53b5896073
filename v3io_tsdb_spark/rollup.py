"""Rollup (pre-aggregate) tables: the format, its merge algebra and its writer.

The reference maintains per-series, per-bucket aggregate arrays
(count/sum/sqr/min/max/last) updated by server-side expressions at
ingest time (ref: pkg/aggregate/aggregate.go:68-79,
pkg/aggregate/functions.go:30-151, pkg/appender/store.go:374-397).

Spark-first design: the rollup is an **append-only partial-aggregate
log**. Every ingested batch appends one partially-aggregated row per
(series, bucket); the query path (and the optional compactor) merges
partials with the standard mergeable-aggregate algebra:

    count=Σcount, sum=Σsum, sqr=Σsqr, min=min(min), max=max(max),
    last=argmax(last, last_ts)

This keeps ingest free of read-modify-write (no MERGE needed on plain
Parquet), is idempotent-friendly, and scales: each batch does exactly
one map-side-combinable groupBy. Cross-label pre-aggregates
(ref: pkg/appender/appender.go:220-231) are additional rollup tables
keyed by a label subset.

This module is the only one that knows the rollup format: the partial
columns (:data:`PARTIAL_COLS`, the per-series layout being
``schema.ROLLUP_SCHEMA``), the merge algebra (:func:`merge_exprs`), the
``rdt`` day partitioning and the writer (:func:`write_rollup`). The
adapter and the querier go through it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from v3io_tsdb_spark.labels import group_keeping_labels
from v3io_tsdb_spark.operators import aggregates as agg
from v3io_tsdb_spark.operators.bucketing import wall_bucket
from v3io_tsdb_spark.schema import ROLLUP_SCHEMA, has_partitions

# the partial columns every rollup row carries, in their stored order
PARTIAL_COLS = agg.RAW_AGGREGATES + ("last_ts",)

# mergeable-aggregate algebra combining partial rows
# (ref: pkg/aggregate/functions.go:48-79)
_MERGE = {
    "count": lambda: F.sum("count"),
    "sum": lambda: F.sum("sum"),
    "sqr": lambda: F.sum("sqr"),
    "min": lambda: F.min("min"),
    "max": lambda: F.max("max"),
    "last": lambda: F.max_by("last", "last_ts"),
    "last_ts": lambda: F.max("last_ts"),
}


def merge_exprs(cols) -> list[Column]:
    """Aggregate expressions that merge partial rows into one row, for
    the partial columns ``cols`` (each aliased to its own name)."""
    return [_MERGE[c]().alias(c) for c in cols]


def _bucketed(samples: DataFrame, gran_ms: int) -> DataFrame:
    """Float samples with their wall-aligned rollup ``bucket``."""
    return samples.where(F.col("value").isNotNull()).withColumn(
        "bucket", wall_bucket(F.col("ts"), gran_ms)
    )


def _partial_exprs() -> list[Column]:
    """Every partial column, computed from samples."""
    return agg.raw_agg_exprs(agg.RAW_AGGREGATES) + [F.max("ts").alias("last_ts")]


def build_rollup(samples: DataFrame, gran_ms: int) -> DataFrame:
    """Partial rollup rows for a batch of samples (float metrics only),
    on ``schema.ROLLUP_SCHEMA``."""
    return group_keeping_labels(
        _bucketed(samples, gran_ms), ["name", "series_id", "bucket"], _partial_exprs()
    ).select(*ROLLUP_SCHEMA.fieldNames())


def build_label_rollup(samples: DataFrame, gran_ms: int, label_subset: tuple) -> DataFrame:
    """Cross-label pre-aggregate: rollup keyed by a label subset
    (ref: pkg/partmgr/partmgr.go:472-485 agg/<labels>/ path)."""
    keys = [F.element_at(F.col("labels"), k).alias(k) for k in label_subset]
    return (
        _bucketed(samples, gran_ms)
        .groupBy(F.col("name"), *keys, F.col("bucket"))
        .agg(*_partial_exprs())
    )


def merge_partials(rollup: DataFrame) -> DataFrame:
    """Compact partial rollup rows to one row per (series, bucket)."""
    return group_keeping_labels(
        rollup, ["name", "series_id", "bucket"], merge_exprs(PARTIAL_COLS)
    ).select(*ROLLUP_SCHEMA.fieldNames())


def rdt_col(bucket: Column) -> Column:
    """The ``rdt`` day partition of a rollup row: the UTC date its
    bucket starts on."""
    return F.date_format(F.timestamp_millis(bucket), "yyyy-MM-dd")


def write_rollup(
    partial: DataFrame, path: str, mode: str = "append", dates: list | None = None
) -> None:
    """The one rollup writer: partition ``partial`` by ``rdt`` and write
    it to the table at ``path``.

    Every write repartitions on ``rdt`` first, so it leaves one file
    per date directory instead of the aggregation shuffle's fan-out
    (measured at sf0.1 on the append path: 150 files -> 30, write
    3.8s -> 1.3s). An append writes only its batch's (series, bucket)
    rows, so each day's share is small; compaction and the delete
    rebuild write every series x bucket of a day, still in one task.
    A deployment with very large per-day rollups would add a
    series-id salt here, as ``compact_samples`` does.

    The writer sets the partition-overwrite mode itself, whatever the
    session's: an overwrite without ``dates`` replaces the whole table,
    and ``dates`` makes it a replacement of exactly those ``rdt``
    partitions. Rows on other dates are dropped, and a listed date left
    with no bucket is removed, since a dynamic overwrite only rewrites
    the partitions present in the frame."""
    out = partial.withColumn("rdt", rdt_col(F.col("bucket")))
    overwrite = "static"
    stale = set()
    if dates is not None:
        out = out.where(F.col("rdt").isin(list(dates)))
        stale = set(dates) - {r["rdt"] for r in out.select("rdt").distinct().collect()}
        overwrite = "dynamic"
    writer = out.repartition(F.col("rdt")).write.mode(mode)
    writer.option("partitionOverwriteMode", overwrite).partitionBy("rdt").parquet(path)
    for day in stale:
        shutil.rmtree(os.path.join(path, f"rdt={day}"), ignore_errors=True)


@dataclass(frozen=True)
class RollupTable:
    """One rollup table of a TSDB: the per-series rollup (``labels``
    None) or a cross-label pre-aggregate keyed by a label subset."""

    labels: tuple | None
    path: str

    @staticmethod
    def dirname(labels: tuple | None) -> str:
        return "rollup" if labels is None else "rollup_by_" + "_".join(labels)

    @property
    def name(self) -> str:
        return self.dirname(self.labels)

    def exists(self) -> bool:
        """Whether the table holds any partition — a listing, no read."""
        return has_partitions(self.path, "rdt")

    def build(self, samples: DataFrame, gran_ms: int) -> DataFrame:
        if self.labels is None:
            return build_rollup(samples, gran_ms)
        return build_label_rollup(samples, gran_ms, self.labels)
