"""Reconciliation report: where each op kind's wall time goes, and what
tracing costs.

    python3 perfbench/report.py --workload dashboard --seed 1 --seconds 15

Runs the workload twice, in two processes: untraced (``--trace 0``) and
traced (``--trace 1``), same seed. For each op kind it prints every
layer's self time, ``unattributed`` as a share of the op's wall time, the
residual of the sum against wall (zero by construction); self times are
means over the traced run's ops of that kind. It also prints the tracing
overhead: traced median wall over untraced median wall, minus one.
Run from the root of a checkout; writes ``.perfbench/report-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    with open(os.path.join(".perfbench", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def _medians(records: list) -> dict:
    by = defaultdict(list)
    for r in records:
        if r["ok"] and r["phase"] in ("setup", "run"):
            by[f"{r['phase']}/{r['kind']}"].append(r["ms"])
    return {k: statistics.median(v) for k, v in by.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    base, slow = _medians(plain["records"]), _medians(traced["records"])
    out = {}
    for kind, row in traced["reconcile"].items():
        if kind not in base:
            continue
        overhead = slow[kind] / base[kind] - 1.0
        layers = {k: v for k, v in sorted(row["self_ms"].items(), key=lambda kv: -kv[1]) if v >= 0.05}
        out[kind] = {"n": row["n"], "untraced_median_ms": base[kind], "traced_median_ms": slow[kind],
                     "tracing_overhead": overhead, "unattributed_share": row["unattributed_share"],
                     "residual_ms": row["residual_ms"], "self_ms": layers}
        print(f"{kind}: n={row['n']} median wall {slow[kind]:.1f} ms traced, {base[kind]:.1f} ms untraced "
              f"(overhead {overhead:+.1%}), unattributed {row['unattributed_share']:.2%}, "
              f"residual {row['residual_ms']:+.3f} ms")
        for layer, ms in layers.items():
            print(f"    {layer:24s} {ms:10.1f} ms")
    e2e = {k: (plain["e2e"][k], traced["e2e"].get(k)) for k in plain["e2e"]}
    print("end-to-end, untraced vs traced:", {k: (round(a, 3), round(b, 3) if b else b) for k, (a, b) in e2e.items()})
    with open(os.path.join(".perfbench", f"report-{args.workload}.json"), "w") as f:
        json.dump({"op_kinds": out, "end_to_end": e2e, "layers": traced.get("layers", {})}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
