"""TSDB configuration — the Spark analog of the reference's schema object.

The reference stores a JSON ``.schema`` object at CreateTSDB time with
rollup functions, granularity, rate-derived partition/chunk intervals,
and pre-aggregate label sets (ref: pkg/tsdb/schema/schema.go:35-134,
pkg/config/config.go:56,61,203-244). On Spark, partition/chunk sizing
is unnecessary (Parquet row groups + date partitioning replace chunks),
so the config keeps only query-relevant knobs.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from v3io_tsdb_spark.timeutils import str2duration_ms

SCHEMA_FILE = "_tsdb_schema.json"

DEFAULT_AGGREGATES = ("count", "sum", "sqr", "min", "max", "last")


@dataclass
class TSDBConfig:
    """Engine configuration.

    - ``aggregation_granularity``: rollup bucket width
      (ref: pkg/config/config.go:56, default 1h).
    - ``aggregates``: rollup functions maintained at ingest
      (ref: pkg/aggregate/aggregate.go:34-66).
    - ``use_server_aggregate_coefficient``: use the rollup table when
      ``step / granularity > coefficient``
      (ref: pkg/config/config.go:61, pkg/aggregate/aggregationParams.go:67-77).
    - ``pre_aggregates``: label subsets maintained as extra rollup
      tables (ref: pkg/config/config.go:203-207).
    - ``max_late_arrival``: streaming watermark / late-data window
      (ref: pkg/appender/store.go:42, 59 minutes).
    - ``override_old``: allow re-writing older samples (last-write-wins
      dedup) (ref: pkg/config/config.go:146-147).
    """

    aggregation_granularity: str = "1h"
    aggregates: tuple = DEFAULT_AGGREGATES
    use_server_aggregate_coefficient: int = 3
    use_only_client_aggr: bool = False
    # Serve aggregations ONLY from rollups (no client re-aggregation) —
    # the Prometheus-library mode (ref: pkg/config/config.go:165-166
    # DisableClientAggr). Queries that cannot use server aggregates
    # fall back to raw data, and steps coarser than the rollup
    # granularity are clamped to it (ref: pkg/pquerier/select.go:185-187).
    disable_client_aggr: bool = False
    # Always aggregate from raw samples for exact results — overrides
    # every server-aggregate route (ref: pkg/config/config.go:172-173).
    use_precise_aggregations: bool = False
    pre_aggregates: tuple = ()  # tuple of tuples of label names
    max_late_arrival: str = "59m"
    override_old: bool = True
    # Retention, in hours; 0 = keep forever. The sweep drops sample/
    # rollup date partitions wholly older than now - retention — the
    # analog of the reference's partition expiry
    # (ref: pkg/config/config.go:196-200 SampleRetention /
    # LayerRetentionTime, pkg/partmgr/partmgr.go:330,357 retentionDays).
    retention_hours: int = 0
    # Declared ingestion rate "[0-9]+/[smh]" (ref: tsdbctl create -r).
    # The reference derives chunk/partition intervals from it
    # (pkg/tsdb/schema/schema.go:137-164); here it is validated and
    # stored as metadata only — Parquet row groups need no rate-based
    # sizing. Empty = unset.
    ingestion_rate: str = ""

    def validate(self) -> "TSDBConfig":
        """Create-time schema validation (ref: pkg/tsdb/schema/
        schema.go:54,69 + schema_test.go goldens): the ingestion rate
        must parse when set, and the aggregation granularity must be a
        divisor or dividend of one day."""
        from v3io_tsdb_spark.errors import SchemaError

        if self.ingestion_rate:
            from v3io_tsdb_spark.timeutils import rate_to_hours

            rate_to_hours(self.ingestion_rate)
        day_ms = 24 * 3_600_000
        gran = self.granularity_ms
        if day_ms % gran != 0 and gran % day_ms != 0:
            raise SchemaError(
                "the aggregation granularity should be a divisor or a "
                'dividend of 1 day. Examples: "10m"; "30m"; "2h"'
            )
        return self

    @property
    def granularity_ms(self) -> int:
        return str2duration_ms(self.aggregation_granularity)

    @property
    def late_arrival_ms(self) -> int:
        return str2duration_ms(self.max_late_arrival)

    def to_json(self) -> str:
        d = asdict(self)
        d["aggregates"] = list(self.aggregates)
        d["pre_aggregates"] = [list(p) for p in self.pre_aggregates]
        return json.dumps(d, indent=2)

    @classmethod
    def from_json(cls, s: str) -> "TSDBConfig":
        d = json.loads(s)
        # a field removed from the config; schema files written
        # before its removal still carry it
        d.pop("samples_partitions", None)
        d["aggregates"] = tuple(d.get("aggregates", DEFAULT_AGGREGATES))
        d["pre_aggregates"] = tuple(tuple(p) for p in d.get("pre_aggregates", []))
        return cls(**d)

    def save(self, base_path: str) -> None:
        os.makedirs(base_path, exist_ok=True)
        with open(os.path.join(base_path, SCHEMA_FILE), "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, base_path: str) -> "TSDBConfig":
        with open(os.path.join(base_path, SCHEMA_FILE)) as f:
            return cls.from_json(f.read())
