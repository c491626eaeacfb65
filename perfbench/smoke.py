"""Tiny-scale smoke run of every workload, untraced and traced.

    python3 perfbench/smoke.py

Runs ``run.py`` for each workload (including ``harvest_increment``, which
BENCHMARK.json leaves out) on a 2k-turn corpus with its correctness checks,
and asserts that each run exits 0, reports no failed operation, and emits
every metric BENCHMARK.json names with the unit named there.  Takes about
nine minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("harvest_batch", "browse_mix", "harvest_increment")
INC_METRICS = {
    "inc.delta_s": "s", "inc.validate_s": "s", "inc.link_s": "s", "inc.cc_s": "s",
    "inc.materialize_s": "s", "inc.touched_ratio": "ratio",
}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--turns", "2000",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']}")
            wanted = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
            if trace and workload == "harvest_increment":
                wanted.update(INC_METRICS)
            for name, unit in wanted.items():
                got = out["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    problems.append(f"{tag}: metric {name} missing or not in {unit}: {got}")
                elif not trace and not got["value"] > 0:
                    problems.append(f"{tag}: end-to-end metric {name} is {got['value']}")
            print(f"{tag}: attempted={out['attempted']} failed={out['failed']}", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
