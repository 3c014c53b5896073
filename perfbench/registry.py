"""The registry workload: a fixed roster of ``queries()`` rows through the
noop sink, as ``bench.py`` runs them, over seeded tables in the shape of
the repository's sf test tables.

Roster rule: the rows ROADMAP names, plus the heaviest row (by the
recorded sf0.1 warm time) of each other family prefix, plus a few rows
under 0.5 s. Two of them are ``stream_*`` rows, which run real
micro-batch streams. The seed permutes the roster order, nothing else.

Each row is checked once per run against its ``oracle_sql()`` twin in
DuckDB; that pass is also the warm-up. A row that fails its check counts
every one of its timed runs as failed.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tsdb import Op

ROADMAP_ROWS = (
    "tsdb_asof_join", "doc_perplexity_buckets", "doc_dsir_scores", "doc_classifier_score",
    "doc_cooccur_pmi", "doc_ngram_jaccard", "stream_sessions_30m", "det_mn_probe", "emb_mmr_topk",
)
FAMILY_HEAVIEST = (
    "events_session_score_panel", "tsdb_interp_linear", "tpch_fk_integrity", "emb_silhouette",
    "mm_image_ahash", "corpus_pipeline",
)
SECOND_STREAM = ("stream_cms_sketch",)
FAST_ROWS = ("tsdb_raw_filter", "events_seasonality", "tpch_q6_forecast_revenue")
ROSTER = ROADMAP_ROWS + FAMILY_HEAVIEST + SECOND_STREAM + FAST_ROWS
TINY_ROSTER = ("tsdb_raw_filter", "stream_cms_sketch", "det_mn_probe")

WORDS = ("join hash row batch scan column customer filter small slow merge order vector line "
         "table data agg value key stream window a spark part group big sort query fast the").split()
LANGS = ("en", "en", "en", "en", "zh", "de", "fr", "es")


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype="int64"), pa.timestamp("us"))


def make_tables(path: str, seed: int, scale: float) -> dict:
    """Seeded tables with the sf test-table schemas; ``scale`` 1.0 has the
    sf0.01 row counts. Returns {table: rows}."""
    rng = np.random.default_rng([seed, 99])
    n = {"region": 5, "nation": 25, "customer": int(1500 * scale), "supplier": max(10, int(100 * scale)),
         "part": int(2000 * scale), "orders": int(15000 * scale), "lineitem": int(60000 * scale),
         "events": int(10000 * scale), "documents": max(50, int(500 * scale)),
         "embeddings": max(50, int(500 * scale))}
    day_us = 86_400_000_000
    t95 = 788_918_400_000_000  # 1995-01-01
    t24 = 1_704_067_200_000_000  # 2024-01-01
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
    }
    nc, ns, np_, no, nl = n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    tables["customer"] = {
        "c_custkey": np.arange(nc, dtype="int64"), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], nc)}
    tables["supplier"] = {
        "s_suppkey": np.arange(ns, dtype="int64"), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}
    adj, noun = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"], ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    tables["part"] = {
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10.0, 2)}
    tables["orders"] = {
        "o_orderkey": np.arange(no, dtype="int64"), "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["P", "O", "F"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(t95 + rng.integers(0, 2404, no) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)}
    okey = np.sort(rng.integers(0, no, nl))
    line_no = np.ones(nl, dtype="int32")
    for i in range(1, nl):
        if okey[i] == okey[i - 1]:
            line_no[i] = line_no[i - 1] + 1
    tables["lineitem"] = {
        "l_orderkey": okey, "l_partkey": rng.integers(0, np_, nl), "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0, "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl), "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(t95 + rng.integers(1, 2500, nl) * day_us)}
    ne = n["events"]
    ev_ts = np.sort(t24 + rng.integers(0, 30 * day_us, ne))
    tables["events"] = {
        "event_id": np.arange(ne, dtype="int64"), "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(15, int(150 * math.sqrt(scale))), ne),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 90, nd)]
    for i in range(0, nd, 25):  # near-duplicate pairs, so the dedup rows have signal
        if i + 1 < nd:
            texts[i + 1] = texts[i] + " dup"
    tables["documents"] = {
        "doc_id": np.arange(nd, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, nd), "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}
    os.makedirs(path, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))
    return n


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def same_frame(s: pd.DataFrame, o: pd.DataFrame) -> bool:
    """Order-insensitive cell equality, as the repository's oracle sweep."""
    s, o = _norm(s), _norm(o)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    for c in s.columns:
        a, b = s[c], o[c]
        if str(a.dtype).startswith("float") or str(b.dtype).startswith("float"):
            bad = ~((a.isna() & b.isna()) | (a == b) | ((a - b).abs() <= 1e-9))
        else:
            bad = ~((a.isna() & b.isna()) | (a.astype(str) == b.astype(str)))
        if bad.any():
            return False
    return True


class Registry:
    name = "registry"
    tail_pct = 75
    min_reads = 40

    def __init__(self, spark, root: str, seed: int, tiny: bool):
        self.spark, self.seed = spark, seed
        self.sf = os.path.join(root, "sf")
        self.artifacts = os.path.join(root, "artifacts")
        self.roster = list(TINY_ROSTER if tiny else ROSTER)
        self.scale = 0.05 if tiny else 1.0
        self.verdict: dict = {}
        import __spark_entry__ as entry

        self.entry = entry
        # ingest-time artifacts (rollups, indexes, stream fixtures) are
        # persisted under a fixed system temp path by the registry; keep
        # them inside this run's work dir instead
        os.makedirs(self.artifacts, exist_ok=True)
        tag = entry._src_tag
        entry._persist_path = lambda prefix, sf_dir, table: os.path.join(
            self.artifacts, f"{prefix}_{tag(sf_dir, table)}")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def setup(self, runner) -> None:
        self.rows = make_tables(self.sf, self.seed, self.scale)
        self.con = duckdb.connect()
        for t in self.rows:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf, t + '.parquet')}'")

    def warmup(self) -> list:
        """The once-per-run oracle check, which also warms every row."""
        return [Op(f"check/{name}", "check", self._collect(name), self._oracle_check(name))
                for name in self.roster]

    def _collect(self, name):
        return lambda: self.queries[name](self.spark, self.sf).toPandas()

    def _oracle_check(self, name):
        def check(got):
            ok = same_frame(got, self.con.sql(self.oracles[name]).df())
            self.verdict[name] = ok
            return ok
        return check

    def _build(self, name):
        return self.queries[name](self.spark, self.sf)

    def cycle(self, i: int) -> list:
        order = np.random.default_rng([self.seed, 11, i]).permutation(len(self.roster))
        ops = []
        for j in order:
            name = self.roster[j]

            def run(name=name):
                self._build(name).write.format("noop").mode("overwrite").save()

            ops.append(Op(name, "read", run, lambda _, name=name: self.verdict.get(name, False)))
        return ops

    def state(self) -> dict:
        return {}

    def install_spans(self, tracer) -> None:
        tracer.wrap(self, "_build", "registry.build")

    def layer_metrics(self, tracer, records) -> dict:
        from layers import timed_ops

        selfs = tracer.self_times()
        reads = timed_ops(records, "read")
        out = {"registry.build_ms": (
            sum(selfs[r["trace_op"]].get("registry.build", 0.0) for r in reads) / max(1, len(reads)), "ms")}
        streams = [tracer.ops[r["trace_op"]] for r in reads if r["kind"].startswith("stream_")]
        events = [d for t, d in tracer.stream_progress
                  if any(o["t0_epoch_ms"] <= t <= o["t1_epoch_ms"] + 1000 for o in streams)]
        k = max(1, len(streams))
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms")):
            out[f"streaming.{name}"] = (sum(d.get(key, 0) for d in events) / k, "ms")
        out["streaming.batches"] = (len(events) / k, "count")
        return out

