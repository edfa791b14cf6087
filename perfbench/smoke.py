"""Fast smoke check of the benchmark. Run from the repository root:

    python3 perfbench/smoke.py

Runs every workload once at scale 0.001 (lineitem 6k rows), untraced
and traced, with a one-second window, and asserts that no op failed and
that every metric BENCHMARK.json names is printed with its unit. Takes
a few minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(p.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {w['name']} trace={trace}: exit {p.returncode}")
                return 1
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2])
            problems = []
            if res["failed"] or not res["correct"]:
                problems.append(f"failed ops: {detail['errors']}")
            for m in wanted[trace]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"metric {m['name']}: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted[trace]}
            if extra:
                problems.append(f"unlisted metrics {sorted(extra)}")
            status = "ok" if not problems else "FAIL"
            print(f"{status} {w['name']} trace={trace} "
                  f"attempted={res['attempted']} failed_frac={detail['failed_frac']}")
            if problems:
                print("\n".join(problems))
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
