"""Seeded scrape feed for the TSDB workloads, and its DuckDB answer oracle.

The feed is a monitoring scrape of ``hosts`` machines split over ``DCS``
data centres, one sample per series every ``SCRAPE_MS`` with jitter:

- three gauges (``cpu``, ``mem``, ``disk``) with ``host`` and ``dc`` labels;
- missing scrapes: random drops plus one outage per host and day, so the
  interpolation tolerance and the gap paths do work;
- one counter (``http_requests_total``) with resets, so ``rate`` does work;
- one string-valued series per host (``build_info``), so the variant path
  and the series-kind check run.

Every series is a pure function of ``(seed, host, scrape index)``, so the
same seed gives the same inputs whichever slice of the timeline a
workload asks for. The program under test only ever sees the generated
Parquet batches; the oracle holds the same rows in DuckDB.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z, day aligned
MIN_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
GAUGES = ("cpu", "mem", "disk")
COUNTER = "http_requests_total"
STRING = "build_info"
COLUMNS = ["ts", "name", "host", "dc", "value", "value_str"]

_ARROW_SCHEMA = pa.schema([
    ("ts", pa.int64()),
    ("name", pa.string()),
    ("labels", pa.map_(pa.string(), pa.string())),
    ("value", pa.float64()),
    ("value_str", pa.string()),
])


SCRAPE_MS = MIN_MS
JITTER_MS = 2_000
DROP_P = 0.02
OUTAGE_MS = 30 * MIN_MS
RESET_P = 0.002
STRING_EVERY = 10  # build_info is scraped every 10th window
DCS = 2


def host_name(i: int) -> str:
    return f"h{i:02d}"


class Feed:
    def __init__(self, seed: int, hosts: int = 8):
        self.seed = int(seed)
        self.hosts = hosts

    def _rng(self, host: int, part: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, host, part])

    def windows(self, k0: int, k1: int, hosts: range | None = None) -> pd.DataFrame:
        """All samples of scrape windows ``[k0, k1)`` (window k starts at
        ``BASE_MS + k * SCRAPE_MS``) for the given host indices."""
        hosts = range(self.hosts) if hosts is None else hosts
        k = np.arange(k0, k1, dtype=np.int64)
        frames = []
        for h in hosts:
            host, dc = host_name(h), f"dc{h % DCS}"
            t_nom = BASE_MS + k * SCRAPE_MS
            # one generator per stream, each drawn over the whole prefix
            # [0, k1) and indexed by k, so any slice gives the same rows
            n_all = int(k1)
            jitter = self._rng(h, 10).integers(0, JITTER_MS, n_all)[k]
            drop = [self._rng(h, 20 + j).random(n_all)[k] < DROP_P for j in range(len(GAUGES) + 1)]
            noise = [self._rng(h, 30 + j).normal(0.0, 1.0, n_all)[k] for j in range(len(GAUGES))]
            inc = self._rng(h, 40).poisson(50, n_all)
            reset = self._rng(h, 41).random(n_all) < RESET_P
            day = (k * SCRAPE_MS) // DAY_MS
            outage_at = self._rng(h, 1).integers(0, DAY_MS - OUTAGE_MS, int(day.max()) + 1)
            in_day = (k * SCRAPE_MS) % DAY_MS
            outage = (in_day >= outage_at[day]) & (in_day < outage_at[day] + OUTAGE_MS)
            ts = t_nom + jitter
            phase = 2 * math.pi * (t_nom % DAY_MS) / DAY_MS
            values = [
                np.clip(50 + 30 * np.sin(phase + h) + 5 * noise[0], 0, 100),
                60 + 10 * np.cos(phase / 2 + h) + 2 * noise[1],
                np.exp(3 + 0.5 * noise[2]),
            ]
            # counter: cumulative increments, restarting from 0 at a reset
            grp = np.cumsum(reset)
            cum = np.cumsum(inc)
            start = np.zeros(grp.max() + 1, dtype=np.int64)
            first = np.flatnonzero(np.r_[True, np.diff(grp) != 0])
            start[grp[first]] = cum[first] - inc[first]
            counter = (cum - start[grp]).astype(float)[k]
            for j, name in enumerate(GAUGES):
                keep = ~(drop[j] | outage)
                frames.append(pd.DataFrame({
                    "ts": ts[keep], "name": name, "host": host, "dc": dc,
                    "value": np.round(values[j][keep], 3), "value_str": None,
                }))
            keep = ~(drop[-1] | outage)
            frames.append(pd.DataFrame({
                "ts": ts[keep], "name": COUNTER, "host": host, "dc": dc,
                "value": counter[keep], "value_str": None,
            }))
            sk = (k % STRING_EVERY) == 0
            frames.append(pd.DataFrame({
                "ts": ts[sk], "name": STRING, "host": host, "dc": dc,
                "value": np.nan, "value_str": [f"v1.{h % 3}.{int(x) // 720}" for x in k[sk]],
            }))
        df = pd.concat(frames, ignore_index=True)[COLUMNS]
        df["value"] = df["value"].astype("float64")
        return df.sort_values(["ts", "name", "host"], kind="stable").reset_index(drop=True)

    def days(self, d0: int, d1: int, hosts: range | None = None) -> pd.DataFrame:
        per_day = DAY_MS // SCRAPE_MS
        return self.windows(d0 * per_day, d1 * per_day, hosts)


def write_batch(df: pd.DataFrame, path: str) -> None:
    """One Parquet file in the engine's input shape (labels as a map)."""
    labels = [[("dc", d), ("host", h)] for h, d in zip(df["host"], df["dc"])]
    value = df["value"].to_numpy()
    tbl = pa.table({
        "ts": pa.array(df["ts"].to_numpy(), pa.int64()),
        "name": pa.array(df["name"].tolist(), pa.string()),
        "labels": pa.array(labels, pa.map_(pa.string(), pa.string())),
        "value": pa.array(value, pa.float64(), mask=np.isnan(value)),
        "value_str": pa.array(df["value_str"].tolist(), pa.string()),
    }, schema=_ARROW_SCHEMA)
    pq.write_table(tbl, path)


class Oracle:
    """DuckDB over every sample the program has accepted so far."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE samples (ts BIGINT, name VARCHAR, host VARCHAR, dc VARCHAR, "
            "value DOUBLE, value_str VARCHAR)"
        )
        self.rows = 0

    def add(self, df: pd.DataFrame) -> None:
        self.con.register("_batch", df)
        self.con.execute("INSERT INTO samples SELECT * FROM _batch")
        self.con.unregister("_batch")
        self.rows += len(df)

    def q(self, sql: str, *params) -> list:
        return self.con.execute(sql, list(params)).fetchall()

    def close(self) -> None:
        self.con.close()
