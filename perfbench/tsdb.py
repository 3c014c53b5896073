"""The TSDB lifecycle workloads: dashboard, explore and ingest.

Each op is built and run through the package's public entry points the
way a caller would, from a fresh ``adapter.querier()`` to the last
result byte at the caller. Its answer is checked afterwards, outside the
timed region, against DuckDB over the same generated samples.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from feed import BASE_MS, COUNTER, DAY_MS, GAUGES, HOUR_MS, MIN_MS, SCRAPE_MS, Feed, Oracle, host_name, write_batch

STEP_6H = 6 * HOUR_MS
GRANULARITY = "1h"
PRE_AGGREGATE = ("dc",)


@dataclass
class Op:
    kind: str
    cls: str  # "read" or "append"
    run: Callable[[], object]
    check: Callable[[object], bool]
    samples: int = 0
    aggregate: bool = False  # an aggregate read, for the rollup route ratio
    after: Callable[[], None] | None = None  # untimed bookkeeping on success


@dataclass
class Shape:
    """Sizes of one workload; ``tiny`` is the smoke-test size."""

    days: int = 4
    hosts: int = 8
    late_hosts: int = 4

    @classmethod
    def tiny(cls) -> "Shape":
        return cls(days=3, hosts=2, late_hosts=1)


# -- answer comparison -----------------------------------------------------

def _key(row) -> tuple:
    return tuple("" if v is None else (round(v, 6) if isinstance(v, float) else v) for v in row)


def same_rows(actual, expected) -> bool:
    a = sorted((tuple(r) for r in actual), key=_key)
    e = sorted((tuple(r) for r in expected), key=_key)
    if len(a) != len(e):
        return False
    for ra, re_ in zip(a, e):
        if len(ra) != len(re_):
            return False
        for x, y in zip(ra, re_):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def _num(v):
    return None if v is None else float(v)


# -- shared table ------------------------------------------------------------

class Table:
    """A TSDB table plus the oracle that mirrors every accepted sample."""

    def __init__(self, api, spark, root: str, seed: int, shape: Shape):
        self.api, self.spark = api, spark
        self.feed = Feed(seed, shape.hosts)
        self.oracle = Oracle()
        cfg = api.TSDBConfig(aggregation_granularity=GRANULARITY, pre_aggregates=(PRE_AGGREGATE,))
        self.adapter = api.TSDBAdapter(spark, os.path.join(root, "tsdb"), cfg)
        self.inputs = os.path.join(root, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self._n = 0

    def stage(self, df) -> tuple:
        """Write a generated batch where a collector would drop it."""
        path = os.path.join(self.inputs, f"batch-{self._n:05d}.parquet")
        self._n += 1
        write_batch(df, path)
        return path, df

    def append_op(self, kind: str, staged) -> Op:
        path, df = staged
        sdf = self.spark.read.parquet(path)  # listing only; read inside append
        return Op(kind, "append", lambda: self.adapter.append(sdf), lambda _: True,
                  samples=len(df), after=lambda: self.oracle.add(df))

    def disk_bytes(self) -> tuple:
        files, size = 0, 0
        for d, _, fs in os.walk(self.adapter.path):
            for f in fs:
                files += 1
                size += os.path.getsize(os.path.join(d, f))
        return files, size


# -- read ops ------------------------------------------------------------------

class Reads:
    """Read op builders; each returns an ``Op`` whose check runs DuckDB."""

    def __init__(self, api, table: Table):
        self.api, self.t = api, table
        self.o = table.oracle

    def _q(self):
        return self.t.adapter.querier()

    def _params(self, **kw):
        return self.api.SelectParams(**kw)

    def _json_records(self, text, cols):
        return [tuple(r[c] if c in ("host", "dc", "t") else _num(r[c]) for c in cols)
                for r in ({**rec, **(rec.get("labels") or {})} for rec in json.loads(text))]

    def agg(self, kind, name, funcs, step_ms, lo, hi, group_by=None, client=False) -> Op:
        keys = [group_by] if group_by else ["host"]
        cols = keys + ["t"] + funcs

        def run():
            df = self._q().select(self._params(
                name=name, functions=",".join(funcs), step=f"{step_ms // MIN_MS}m", from_time=lo, to_time=hi,
                group_by=group_by, use_only_client_aggr=client))
            return self.api.format_df(df, kind="json")

        sql_f = {"avg": "avg(value)", "max": "max(value)", "min": "min(value)",
                 "sum": "sum(value)", "count": "count(value)::DOUBLE"}

        def check(text):
            exp = self.o.q(
                f"SELECT {keys[0]}, ?::BIGINT + floor((ts - ?) / ?)::BIGINT * ? AS t, "
                + ", ".join(sql_f[f] for f in funcs)
                + f" FROM samples WHERE name = ? AND ts BETWEEN ? AND ? GROUP BY 1, 2",
                lo, lo, step_ms, step_ms, name, lo, hi)
            return same_rows(self._json_records(text, cols), exp)

        return Op(kind, "read", run, check, aggregate=True)

    def raw(self, kind, names, hosts, lo, hi, fmt) -> Op:
        flt = "host in (" + ",".join(f"'{h}'" for h in hosts) + ")"

        def run():
            df = self._q().select(self._params(name=",".join(names), filter=flt, from_time=lo, to_time=hi))
            return self.api.format_df(df, kind=fmt)

        def check(text):
            if fmt == "json":
                got = [(s["target"], t, _num(v)) for s in json.loads(text) for v, t in s["datapoints"]]
                exp = self.o.q(
                    "SELECT name || '{dc=' || dc || ',host=' || host || '}', ts, value FROM samples "
                    "WHERE list_contains(?, name) AND list_contains(?, host) AND ts BETWEEN ? AND ?",
                    list(names), list(hosts), lo, hi)
                return same_rows(got, exp)
            got = [(r["name"], r["labels"], int(r["t"]), float(r["value"]) if r["value"] else None,
                    r["value_str"] or None) for r in csv.DictReader(io.StringIO(text))]
            exp = self.o.q(
                "SELECT name, 'dc=' || dc || ',host=' || host, ts, "
                "CASE WHEN isnan(value) THEN NULL ELSE value END, value_str FROM samples "
                "WHERE list_contains(?, name) AND list_contains(?, host) AND ts BETWEEN ? AND ?",
                list(names), list(hosts), lo, hi)
            return same_rows(got, exp)

        return Op(kind, "read", run, check)

    def label_values(self) -> Op:
        return Op("label_values", "read",
                  lambda: sorted(r["value"] for r in self._q().label_values("host").collect()),
                  lambda got: got == [r[0] for r in self.o.q("SELECT DISTINCT host FROM samples ORDER BY 1")])

    def label_sets(self, name) -> Op:
        return Op("label_sets", "read",
                  lambda: sorted(r["labels_str"] for r in self._q().get_label_sets(metric=name).collect()),
                  lambda got: got == [r[0] for r in self.o.q(
                      "SELECT DISTINCT 'dc=' || dc || ',host=' || host FROM samples WHERE name = ? ORDER BY 1",
                      name)])

    def sql_max(self, name, host, lo, hi) -> Op:
        stmt = f"select max({name}) from tsdb where host=='{host}'"

        def run():
            return [(r[0], r[1]) for r in self.api.run_sql(
                self._q(), stmt, step="6h", from_time=lo, to_time=hi).collect()]

        def check(got):
            exp = self.o.q(
                "SELECT ?::BIGINT + floor((ts - ?) / ?)::BIGINT * ?, max(value) FROM samples "
                "WHERE name = ? AND host = ? AND ts BETWEEN ? AND ? GROUP BY 1",
                lo, lo, STEP_6H, STEP_6H, name, host, lo, hi)
            return same_rows([(t, _num(v)) for t, v in got], exp)

        return Op("sql_panel", "read", run, check, aggregate=True)

    def rate(self, kind, step_ms, lo, hi, prom=False) -> Op:
        step = f"{step_ms // MIN_MS}m"

        def run():
            p = self._params(name=COUNTER, functions="rate", step=step, from_time=lo, to_time=hi)
            if prom:
                return [(s.labels["host"], t, _num(v)) for s in self.api.select_series(self._q(), p)
                        for t, v in s.points]
            return self.api.format_df(self._q().select(p), kind="json")

        def check(out):
            got = out if prom else self._json_records(out, ["host", "t", "rate"])
            exp = self.o.q(
                "SELECT host, t, (last - lag(last) OVER (PARTITION BY host ORDER BY t)) / (? / 1000.0) "
                "FROM (SELECT host, ?::BIGINT + floor((ts - ?) / ?)::BIGINT * ? AS t, arg_max(value, ts) AS last "
                "FROM samples WHERE name = ? AND ts BETWEEN ? AND ? GROUP BY 1, 2)",
                step_ms, lo, lo, step_ms, step_ms, COUNTER, lo, hi)
            return same_rows([r for r in got if r[2] is not None], [r for r in exp if r[2] is not None])

        return Op(kind, "read", run, check, aggregate=True)

    def cross_sum(self, kind, name, step_ms, lo, hi) -> Op:
        """``sum_all``: every series aligned to the step grid (next value
        within twice the step), summed across series per grid point."""
        step = f"{step_ms // MIN_MS}m"

        def run():
            df = self._q().select(self._params(name=name, functions="sum_all", step=step, from_time=lo, to_time=hi))
            return [(r["t"], r["sum"]) for r in df.collect()]

        def check(got):
            exp = self.o.q(
                "WITH grid AS (SELECT ?::BIGINT + k * ? AS t FROM range(0, (? - ?) // ? + 1) r(k)), "
                "s AS (SELECT host, ts, value FROM samples WHERE name = ? AND ts BETWEEN ? AND ?) "
                "SELECT t, sum(v) FROM (SELECT g.t, s.host, arg_min(s.value, s.ts) AS v FROM grid g "
                "JOIN s ON s.ts >= g.t AND s.ts <= g.t + 2 * ? GROUP BY 1, 2) GROUP BY 1",
                lo, step_ms, hi, lo, step_ms, name, lo, hi, step_ms)
            return same_rows([(t, _num(v)) for t, v in got], exp)

        return Op(kind, "read", run, check, aggregate=True)

    def window_avg(self, kind, name, step_ms, window_ms, lo, hi) -> Op:
        """Sliding aggregation window: a sample at ``t`` feeds every
        bucket ``b`` with ``b - window <= t <= b``."""

        def run():
            df = self._q().select(self._params(
                name=name, functions="avg", step=f"{step_ms // MIN_MS}m",
                aggregation_window=f"{window_ms // MIN_MS}m", from_time=lo, to_time=hi))
            return [(r["labels"]["host"], r["t"], r["avg"]) for r in df.collect()]

        def check(got):
            exp = self.o.q(
                "SELECT host, ?::BIGINT + k * ? AS t, avg(value) FROM (SELECT host, value, "
                "unnest(range(ceil((ts - ?) / ?::DOUBLE)::BIGINT, floor((ts - ? + ?) / ?::DOUBLE)::BIGINT + 1)) AS k "
                "FROM samples WHERE name = ? AND ts BETWEEN ? AND ?) WHERE k >= 0 AND ? + k * ? <= ? GROUP BY 1, 2",
                lo, step_ms, lo, step_ms, lo, window_ms, step_ms, name, lo - window_ms, hi, lo, step_ms, hi)
            return same_rows([(h, t, _num(v)) for h, t, v in got], exp)

        return Op(kind, "read", run, check, aggregate=True)


# -- workloads -----------------------------------------------------------------

@dataclass
class TsdbWorkload:
    """Shared set-up: a multi-day table built by daily appends, then the
    maintained layout (one ``compact_samples`` and one ``compact_rollup``)."""

    api: object
    spark: object
    root: str
    seed: int
    shape: Shape
    table: Table = field(init=False)
    min_reads = 0  # reads a run needs for its tail percentile
    state_cycles = None  # cycles before the table state is taken; None: at the end

    def __post_init__(self):
        self.table = Table(self.api, self.spark, self.root, self.seed, self.shape)
        self.reads = Reads(self.api, self.table)
        self.lo = BASE_MS
        self.hi = BASE_MS + self.shape.days * DAY_MS - 1

    def setup(self, runner) -> None:
        t = self.table
        t.adapter.create()
        for d in range(self.shape.days):
            # the first two appends of a process still run cold code
            # (class loading, JIT); only the later ones count as appends
            kind = ("cold_append", "warmup_append")[d] if d < 2 else "daily_append"
            runner.timed(t.append_op(kind, t.stage(t.feed.days(d, d + 1))), phase="setup")
        t.adapter.compact_samples()
        t.adapter.compact_rollup()

    def warmup(self) -> list:
        """One untimed pass, so lazy set-up and JIT warm-up are done."""
        return self.cycle(1_000_000)

    def state(self) -> dict:
        files, size = self.table.disk_bytes()
        glob = os.path.join(self.table.adapter.rollup_path, "**", "*.parquet")
        rows, cells = self.table.oracle.q(
            f"SELECT count(*), count(DISTINCT (series_id, bucket)) FROM read_parquet('{glob}')")[0]
        return {"files": files, "bytes": size, "samples": self.table.oracle.rows,
                "rollup_rows": rows, "rollup_cells": cells}


class Dashboard(TsdbWorkload):
    """Grafana-style panels over the whole table, repeated in a fixed order."""

    name = "dashboard"
    tail_pct = 68
    min_reads = 32  # ten beyond p68: four cycles of eight panels

    def cycle(self, i: int) -> list:
        r, lo, hi = self.reads, self.lo, self.hi
        end = hi + 1
        return [
            r.agg("rollup_avg_max", "cpu", ["avg", "max"], STEP_6H, lo, hi),
            r.agg("preagg_groupby_dc", "cpu", ["sum", "count"], STEP_6H, lo, hi, group_by="dc"),
            r.raw("raw_last_hour", ["cpu"], [host_name(3 % self.shape.hosts)], end - HOUR_MS, hi, "json"),
            r.label_values(),
            r.label_sets("mem"),
            r.sql_max("disk", host_name(5 % self.shape.hosts), lo, hi),
            r.rate("prom_rate", STEP_6H, lo, hi, prom=True),
            r.cross_sum("cluster_total", "mem", HOUR_MS, end - STEP_6H, hi),
        ]


class Explore(TsdbWorkload):
    """Each op asks a new seeded range; the rollup is bypassed."""

    name = "explore"
    tail_pct = 70
    min_reads = 34  # ten beyond p70

    def cycle(self, i: int) -> list:
        r = self.reads
        rng = np.random.default_rng([self.seed, 7, i])
        hosts = [host_name(h) for h in range(self.shape.hosts)]

        def span(hours):
            lo = self.lo + int(rng.integers(0, (self.hi - self.lo - hours * HOUR_MS) // MIN_MS)) * MIN_MS
            return lo, lo + hours * HOUR_MS - 1

        gauge = GAUGES[int(rng.integers(0, len(GAUGES)))]
        return [
            r.agg("client_agg", gauge, ["avg", "min", "max", "count"], 30 * MIN_MS, *span(12)),
            r.cross_sum("cross_sum_all", gauge, 10 * MIN_MS, *span(3)),
            r.window_avg("sliding_window", gauge, HOUR_MS, 3 * HOUR_MS, *span(12)),
            r.rate("client_rate", 15 * MIN_MS, *span(12)),
            r.raw("csv_export", ["cpu", "mem"], hosts, *span(2), "csv"),
            r.agg("client_twin", "cpu", ["avg", "max"], STEP_6H, self.lo, self.hi, client=True),
        ]


class Ingest(TsdbWorkload):
    """A single writer: live scrape windows, a day-sized late backfill
    every fifth append, and after each append a read-after-write and a
    full-range rollup panel. Nothing is compacted."""

    name = "ingest"
    tail_pct = None  # too few reads per run for a tail with ten beyond
    state_cycles = 1  # disk state after the first round: the same feed on every run

    def setup(self, runner) -> None:
        t = self.table
        t.adapter.create()
        # the first append is the cold one; it is set-up, not measured
        runner.timed(t.append_op("cold_append", t.stage(t.feed.days(0, 1))), phase="setup")
        self.k = DAY_MS // SCRAPE_MS  # next live scrape window
        self.late = 0

    def warmup(self) -> list:
        t = self.table
        seed_day = t.oracle.q("SELECT max(ts) FROM samples")[0][0]
        return [self.reads.raw("read_after_write", ["cpu"], [host_name(0)], seed_day - HOUR_MS, seed_day, "csv"),
                self.reads.agg("rollup_panel", "cpu", ["avg", "max"], STEP_6H, self.lo, seed_day)]

    def _read_after_write(self, df) -> Op:
        hosts = sorted(df["host"].unique())
        top = int(df["ts"].max())
        names = sorted(df["name"].unique())
        return self.reads.raw("read_after_write", names, hosts, max(int(df["ts"].min()), top - HOUR_MS), top, "csv")

    def cycle(self, i: int) -> list:
        """One round: four live appends and one late backfill, each
        followed by its read-after-write and a full-range rollup panel."""
        t, ops = self.table, []
        for j in range(5):
            if j < 4:
                df = t.feed.windows(self.k, self.k + 1)
                self.k += 1
                kind = "live_append"
            else:
                h0 = self.shape.hosts + self.late * self.shape.late_hosts
                df = t.feed.days(0, 1, range(h0, h0 + self.shape.late_hosts))
                self.late += 1
                kind = "backfill_append"
            ops.append(t.append_op(kind, t.stage(df)))
            ops.append(self._read_after_write(df))
            hi = BASE_MS + self.k * SCRAPE_MS - 1
            ops.append(self.reads.agg("rollup_panel", "cpu", ["avg", "max"], STEP_6H, self.lo, hi))
        return ops
