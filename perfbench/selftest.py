"""Tiny-size self-test of the benchmark's output contract.

Runs every workload at sf0.001 with a one-second budget (one round each),
untraced and traced, and checks that:

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every end-to-end (untraced) or per-layer (traced) metric that
  ``BENCHMARK.json`` names is emitted, with its unit and nothing else;
- the outputs were correct: ``failed`` is 0 (fail ratio 0) and ``correct``
  is true.

Usage, from the repository root: ``python3 perfbench/selftest.py``.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> dict:
    """One run of ``run.py`` in a fresh interpreter, on the sf0.001 fixture."""
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    code = f"import sys, run; sys.exit(run.main({argv!r}, sf=0.001))"
    cmd = [sys.executable, "-c", code]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=HERE)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            where = f"{wl} --trace {trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want:
                problems.append(f"{where}: metric/unit mismatch "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            bad = [n for n, m in res["metrics"].items()
                   if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
            if bad:
                problems.append(f"{where}: non-numeric values {bad}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{where}: attempted={res['attempted']} failed={res['failed']} "
                                f"correct={res['correct']}")
            print(f"{where}: {len(res['metrics'])} metrics, attempted {res['attempted']}, "
                  f"failed {res['failed']}")
    for p in problems:
        print(f"FAIL {p}")
    print("SELFTEST " + ("FAILED" if problems else "OK"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
