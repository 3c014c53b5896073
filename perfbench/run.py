"""TSDB lifecycle benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Everything runs in this process: one
Spark session ``local[n]`` with ``n`` = the usable CPU count (nproc), built by the
package CLI's own session builder (UTC, UI off, every other setting at
Spark's default), plus two measurement-only additions passed at JVM
launch: status-store retention and driver memory. One client thread
drives a closed loop: each op waits for the previous reply.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The lines before it print every metric by name with its unit, plus the
host-noise markers. See ``perfbench/SPEC.md`` for definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SESSION_ADDITIONS = {
    "spark.driver.memory": "1g",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}
# every end-to-end metric a workload may print; the JSON line carries
# the ones BENCHMARK.json names
E2E_UNITS = {
    "setup_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms", "queries_per_s": "1/s",
    "append_p50_ms": "ms", "ingest_samples_per_s": "samples/s",
    "bytes_per_sample": "B", "peak_rss_mb": "MB", "failed_op_ratio": "ratio",
}
WORKLOADS = ("dashboard", "explore", "ingest", "registry")
MAX_RUN_S = 150.0  # stop starting cycles here, whatever the sample count


class Runner:
    """Times ops, checks answers outside the timed region, keeps records."""

    def __init__(self, tracer=None, probe=None, corrupt=False):
        self.tracer = tracer
        self.probe = probe  # untimed (files, bytes) of the table, around appends
        self.corrupt = corrupt
        self.records: list = []

    def timed(self, op, phase: str = "run") -> None:
        rec = {"phase": phase, "cls": op.cls, "kind": op.kind, "samples": op.samples,
               "aggregate": op.aggregate, "ok": False, "ms": None, "err": None}
        self.records.append(rec)
        if self.probe is not None and op.cls == "append":
            rec["disk_before"] = self.probe()
        ctx = self.tracer.op(op.kind, phase) if self.tracer else None
        t0 = time.perf_counter()
        try:
            if ctx is not None:
                with ctx as trace_rec:
                    out = op.run()
                rec["trace_op"] = trace_rec["id"]
            else:
                out = op.run()
        except Exception as exc:
            rec["err"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            return
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        if self.corrupt:
            out = corrupt(out)
        try:
            rec["ok"] = bool(op.check(out))
            if not rec["ok"]:
                rec["err"] = "answer check failed"
        except Exception as exc:
            rec["err"] = f"check {type(exc).__name__}: {str(exc)[:300]}"
        if rec["ok"] and op.after is not None:
            op.after()
        if "disk_before" in rec:
            rec["disk_after"] = self.probe()


def corrupt(out):
    """Self-test: damage an answer the way a wrong result would look."""
    if isinstance(out, str):
        i = max(out.rfind(d) for d in "0123456789")
        return out[:i] + str((int(out[i]) + 1) % 10) + out[i + 1:] if i >= 0 else out + "?"
    if isinstance(out, list):
        return out[:-1] if out else [None]
    if hasattr(out, "iloc"):
        return out.iloc[:-1] if len(out) else None
    return out


def percentile(values: list, pct: float) -> float | None:
    """Nearest-rank percentile, or None unless ten samples lie beyond it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _root_ok(root: str) -> bool:
    return os.path.isdir(os.path.join(root, "v3io_tsdb_spark")) and os.path.isfile(
        os.path.join(root, "__spark_entry__.py"))


def start_spark(root: str, work: str):
    """The CLI's session, with measurement additions at JVM launch.
    Scratch space (Spark local dirs, temp files) stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    confs = " ".join(f"--conf {k}={v}" for k, v in SESSION_ADDITIONS.items() if k != "spark.driver.memory")
    java_tmp = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {SESSION_ADDITIONS['spark.driver.memory']} {confs} "
        f"--conf spark.driver.extraJavaOptions={java_tmp} pyspark-shell")
    from v3io_tsdb_spark import cli

    return cli._spark(str(len(os.sched_getaffinity(0))))


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def api_namespace():
    """The public entry points the workloads call. Module functions are
    looked up at call time, so the traced run's wrappers are seen."""
    from types import SimpleNamespace

    import v3io_tsdb_spark.formatters as formatters
    import v3io_tsdb_spark.prom as prom
    import v3io_tsdb_spark.sql.parser as parser
    from v3io_tsdb_spark import SelectParams, TSDBAdapter, TSDBConfig

    return SimpleNamespace(
        TSDBAdapter=TSDBAdapter, TSDBConfig=TSDBConfig, SelectParams=SelectParams,
        format_df=lambda *a, **k: formatters.format_df(*a, **k),
        run_sql=lambda *a, **k: parser.run_sql(*a, **k),
        select_series=lambda *a, **k: prom.select_series(*a, **k),
    )


def make_workload(name: str, api, spark, work: str, seed: int, tiny: bool):
    if name == "registry":
        import registry

        return registry.Registry(spark, work, seed, tiny)
    import tsdb

    cls = {"dashboard": tsdb.Dashboard, "explore": tsdb.Explore, "ingest": tsdb.Ingest}[name]
    return cls(api, spark, work, seed, tsdb.Shape.tiny() if tiny else tsdb.Shape())


def measure(w, runner: Runner, seconds: float, min_reads: int, max_cycles: int | None) -> tuple:
    """Whole cycles until ``seconds`` have passed and enough reads are in.
    Returns the wall time and the workload's state, taken untimed after
    ``w.state_cycles`` cycles (a fixed feed prefix, so it does not depend
    on how many cycles the host allows) or at the end when that is None."""
    at = getattr(w, "state_cycles", None)
    state = None
    t0 = time.perf_counter()
    i = 0
    while True:
        for op in w.cycle(i):
            runner.timed(op)
        i += 1
        if i == at:
            state = w.state()
        elapsed = time.perf_counter() - t0
        reads = sum(1 for r in runner.records if r["phase"] == "run" and r["cls"] == "read" and r["ok"])
        if max_cycles is not None and i >= max_cycles:
            break
        if elapsed >= seconds and reads >= min_reads:
            break
        if time.perf_counter() - T_START > MAX_RUN_S:
            break
    elapsed = time.perf_counter() - t0
    return elapsed, state if state is not None else w.state()


def end_to_end(w, records: list, setup_s: float, rss_mb: float, state: dict | None) -> dict:
    run = [r for r in records if r["phase"] == "run"]
    by_kind: dict = {}
    for r in run:
        if r["cls"] == "read" and r["ok"]:
            by_kind.setdefault(r["kind"], []).append(r["ms"])
    reads = [ms for v in by_kind.values() for ms in v]
    apps = [r for r in run if r["cls"] == "append" and r["ok"]]
    if not apps:  # read-only workloads: the warm appends that built the table
        apps = [r for r in records if r["phase"] == "setup" and r["kind"] == "daily_append" and r["ok"]]
    checked = [r for r in records if r["phase"] in ("setup", "warmup", "run")]
    m = {"setup_s": setup_s, "peak_rss_mb": rss_mb,
         "failed_op_ratio": sum(1 for r in checked if not r["ok"]) / max(1, len(checked))}
    if reads:
        # mean of the per-kind medians: with a few read kinds of different
        # cost, a pooled median falls in the gap between them and jumps
        m["query_p50_ms"] = statistics.mean(statistics.median(v) for v in by_kind.values())
        m["queries_per_s"] = len(reads) / (sum(reads) / 1000.0)
        if w.tail_pct is not None and percentile(reads, w.tail_pct) is not None:
            m["query_tail_ms"] = percentile(reads, w.tail_pct)
    if apps:
        ms = [r["ms"] for r in apps]
        m["append_p50_ms"] = statistics.median(ms)
        m["ingest_samples_per_s"] = sum(r["samples"] for r in apps) / (sum(ms) / 1000.0)
    if state and state.get("samples"):
        m["bytes_per_sample"] = state["bytes"] / state["samples"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test size: tiny inputs, one cycle")
    ap.add_argument("--corrupt-answers", action="store_true",
                    help="self-test: damage every answer before its check, which must then fail")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _root_ok(root):
        print(f"perfbench: {root} is not a checkout of the package (no v3io_tsdb_spark/ "
              "or __spark_entry__.py); run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from bench import _host_markers

    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host_pre = _host_markers()
    spark = None
    try:
        spark = start_spark(root, work)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        api = api_namespace()
        w = make_workload(args.workload, api, spark, work, args.seed, args.tiny)
        runner = Runner(tracer, getattr(getattr(w, "table", None), "disk_bytes", None), args.corrupt_answers)
        if tracer is not None and hasattr(w, "install_spans"):
            w.install_spans(tracer)
            tracer.add_stream_listener()
        w.setup(runner)
        for op in w.warmup():
            runner.timed(op, phase="warmup")
        setup_s = time.perf_counter() - T_START
        measure_s, state = measure(w, runner, args.seconds, 0 if args.tiny else getattr(w, "min_reads", 0),
                                   1 if args.tiny else None)
        pid = os.getpid()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss_kb = {"python": vm_hwm_kb(pid), "jvm": vm_hwm_kb(jvm.pid) if jvm else 0}
        rss_mb = sum(rss_kb.values()) / 1024.0
        e2e = end_to_end(w, runner.records, setup_s, rss_mb, state)
        layers = None
        if tracer is not None:
            import layers as layer_mod

            layers = layer_mod.per_layer(tracer, runner.records, state, w)
            tracer.uninstall()
    except Exception:
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    t_down = time.perf_counter()
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    t_down = time.perf_counter() - t_down
    host_post = _host_markers()

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    records = runner.records
    attempted = sum(1 for r in records if r["phase"] in ("setup", "warmup", "run"))
    failed = sum(1 for r in records if r["phase"] in ("setup", "warmup", "run") and not r["ok"])
    for r in records:
        if not r["ok"]:
            print(f"FAILED op {r['phase']}/{r['kind']}: {r['err']}")
    runs = [r for r in records if r["phase"] == "run"]
    print(f"workload {args.workload} seed {args.seed}: {len(runs)} timed ops in {measure_s:.1f} s "
          f"({sum(1 for r in runs if r['cls'] == 'read')} reads, "
          f"{sum(1 for r in runs if r['cls'] == 'append')} appends), tail percentile "
          f"{'p%d' % w.tail_pct if w.tail_pct else 'n/a'}")
    print(f"host markers: before {host_pre} after {host_post}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {E2E_UNITS[k]}")
    if layers is not None:
        for k, (v, unit) in sorted(layers.items()):
            print(f"  {k} = {v:.6g} {unit}")

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "rss_kb": rss_kb,
              "measure_s": measure_s, "teardown_s": t_down, "host_pre": host_pre, "host_post": host_post,
              "e2e": e2e, "records": records}
    if tracer is not None:
        import layers as layer_mod

        detail["layers"] = {k: v for k, (v, _) in layers.items()}
        detail["reconcile"] = layer_mod.reconcile(tracer, records)
        detail["spans"] = tracer.spans
        detail["ops"] = [{k: v for k, v in o.items() if k != "span"} for o in tracer.ops]
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, default=str)

    if args.trace:
        wanted = [m["name"] for m in bench["per_layer"]]
        metrics = {k: {"value": layers[k][0], "unit": layers[k][1]} for k in wanted if k in layers}
    else:
        wanted = [m["name"] for m in bench["end_to_end"]]
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in wanted if k in e2e}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
