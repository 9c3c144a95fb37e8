"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at scale 0.01 (1,000 image rows,
500 points: the size floors) with tracing off and on, and checks that

- each run exits 0 and its last line is a result with ``correct`` true
  and ``failed`` 0;
- every end-to-end metric (untraced) and every per-layer metric
  (traced) of BENCHMARK.json is present, numeric and in its unit;
- end-to-end metrics are positive;
- every layer has a non-zero record in at least one traced run.

Exits 1 and lists the problems when a check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = (
    "session", "io", "plan", "engine", "functions", "cells", "join", "geom",
    "tiles", "ops",
)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.01",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems: list[str] = []
    nonzero_layers: set[str] = set()
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            tag = f"{w['name']} trace={trace}"
            try:
                res = run(w["name"], trace)
            except Exception as ex:  # report and go on to the next run
                problems.append(str(ex))
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}")
            got = res.get("metrics", {})
            if set(got) != {m["name"] for m in declared}:
                problems.append(
                    f"{tag}: metric names differ: {sorted(set(got) ^ {m['name'] for m in declared})}"
                )
            for m in declared:
                v = got.get(m["name"])
                if not v or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: bad metric {m['name']}: {v}")
                elif trace == 0 and not v["value"] > 0:
                    problems.append(f"{tag}: {m['name']} is not positive: {v['value']}")
                elif trace == 1 and v["value"] != 0 and not m["name"].startswith("trace."):
                    nonzero_layers.add(m["name"].split(".")[0])
    missing = set(LAYERS) - nonzero_layers
    if missing:
        problems.append(f"layers without a non-zero traced record: {sorted(missing)}")
    for p in problems:
        print("FAIL", p)
    print("smoke:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
