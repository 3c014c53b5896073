"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke_test.py

From the root of a checkout: runs every workload for one cycle of ops,
untraced and traced, and asserts that every metric BENCHMARK.json names
prints with its unit and every answer check passes; then runs the
dashboard and registry with every answer damaged before its check and
asserts the damaged answers are counted as failed. Exits non-zero on
any failure.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return {"result": result, "text": "\n".join(lines[:-1])}


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    gated = {w["name"] for w in bench["workloads"]}
    for workload in ("dashboard", "explore", "ingest", "registry"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(workload, trace)
            res = out["result"]
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (workload, res)
            for m in bench[key]:
                if workload in gated:  # the JSON line carries every named metric
                    assert res["metrics"][m["name"]]["unit"] == m["unit"], (workload, m)
                if m["name"] in res["metrics"]:
                    line = rf"^  {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$"
                    assert re.search(line, out["text"], re.M), (workload, m)
            print(f"ok {workload} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops checked")
    for workload in ("dashboard", "registry"):
        res = run(workload, 0, "--corrupt-answers")["result"]
        assert not res["correct"] and res["failed"] >= 1, (workload, res)
        print(f"ok {workload} damaged answers: {res['failed']} of {res['attempted']} ops counted failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
