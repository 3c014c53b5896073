"""Per-layer metrics and the reconciliation table of a traced run.

Read-side metrics are means per timed read; append-side metrics are
means per append (the timed appends on ``ingest``, the appends that
built the table on the read-only workloads). Each layer is named after
the package module whose entry point its span wraps.
"""

from __future__ import annotations

from collections import defaultdict

READ_LAYERS = ("adapter.querier", "querier.select", "sql.parse", "sql.run_sql", "catalog.load",
               "operators.align", "formatters.format", "prom.select_series", "spark.action")
APPEND_LAYERS = {
    "appender.normalize": "appender.normalize_ms", "appender.validate": "appender.validate_ms",
    "appender.prepare": "appender.prepare_ms", "adapter.append": "adapter.append_self_ms",
    "rollup.build": "rollup.build_ms", "catalog.merge": "catalog.merge_ms",
    "catalog.save": "catalog.save_ms",
}
SPARK_COUNTERS = {
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.input_records": "count",
    "spark.input_bytes": "B", "jvm.gc_ms": "ms",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def timed_ops(records: list, cls: str) -> list:
    ops = [r for r in records if r["phase"] == "run" and r["cls"] == cls and r["ok"] and "trace_op" in r]
    if not ops and cls == "append":
        ops = [r for r in records if r["phase"] == "setup" and r["kind"] == "daily_append" and r["ok"]
               and "trace_op" in r]
    return ops


def per_layer(tracer, records: list, state: dict, workload) -> dict:
    """{metric: (value, unit)}"""
    selfs = tracer.self_times()
    out: dict = {}
    reads = timed_ops(records, "read")
    rops = [tracer.ops[r["trace_op"]] for r in reads]
    rattrs = [tracer.op_attrs(r["trace_op"]) for r in reads]
    for layer in READ_LAYERS + ("tracing", "unattributed"):
        out[f"{layer}_ms"] = (_mean(selfs[r["trace_op"]].get(layer, 0.0) for r in reads), "ms")
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = (_mean(a.get(f"catalyst.{ph}_ms", 0.0) for a in rattrs), "ms")
    out["py4j.calls"] = (_mean(o["py4j_calls"] for o in rops), "count")
    out["driver.no_job_ms"] = (_mean(o["no_job_ms"] for o in rops), "ms")
    out["spark.jobs"] = (_mean(o["counters"].get("spark.jobs", 0.0) for o in rops), "count")
    for k, unit in SPARK_COUNTERS.items():
        out[k] = (_mean(o["counters"].get(k, 0.0) for o in rops), unit)
    aggs = [a for r, a in zip(reads, rattrs) if r["aggregate"]]
    out["querier.rollup_route_ratio"] = (
        sum(1 for a in aggs if a.get("rollup_scan")) / len(aggs) if aggs else 0.0, "ratio")
    rows = sum(a.get("rows", 0.0) for a in rattrs)
    read_in = sum(o["counters"].get("spark.input_records", 0.0) for o in rops)
    out["querier.rows_read_per_row_returned"] = (read_in / rows if rows else 0.0, "ratio")
    out["formatters.rows_collected"] = (_mean(a.get("rows", 0.0) for a in rattrs), "count")

    apps = timed_ops(records, "append")
    aops = [tracer.ops[r["trace_op"]] for r in apps]
    for layer, name in APPEND_LAYERS.items():
        out[name] = (_mean(selfs[r["trace_op"]].get(layer, 0.0) for r in apps), "ms")
    out["spark.jobs_per_append"] = (_mean(o["counters"].get("spark.jobs", 0.0) for o in aops), "count")
    out["spark.output_bytes"] = (_mean(o["counters"].get("spark.output_bytes", 0.0) for o in aops), "B")
    disk = [r for r in apps if "disk_before" in r]
    out["adapter.files"] = (_mean(r["disk_after"][0] - r["disk_before"][0] for r in disk), "count")
    out["adapter.bytes_written"] = (_mean(r["disk_after"][1] - r["disk_before"][1] for r in disk), "B")
    if state.get("rollup_cells"):
        out["rollup.partial_rows_per_cell"] = (state["rollup_rows"] / state["rollup_cells"], "ratio")
    out.update(workload.layer_metrics(tracer, records) if hasattr(workload, "layer_metrics") else {})
    return out


def reconcile(tracer, records: list) -> dict:
    """Per (phase, op kind): mean wall ms, mean self ms of every layer and
    the residual of layers + unattributed against wall (zero by
    construction, kept as the check)."""
    selfs = tracer.self_times()
    groups = defaultdict(list)
    for r in records:
        if "trace_op" in r:
            groups[f"{r['phase']}/{r['kind']}"].append(r)
    table = {}
    for key, recs in sorted(groups.items()):
        layers = defaultdict(float)
        walls = []
        for r in recs:
            op = tracer.ops[r["trace_op"]]
            walls.append((op["span"]["end"] - op["span"]["start"]) * 1000.0)
            for layer, ms in selfs[r["trace_op"]].items():
                layers[layer] += ms / len(recs)
        wall = _mean(walls)
        table[key] = {"n": len(recs), "wall_ms": wall, "self_ms": dict(layers),
                      "unattributed_share": layers.get("unattributed", 0.0) / wall if wall else 0.0,
                      "residual_ms": sum(layers.values()) - wall}
    return table
