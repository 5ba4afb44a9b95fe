#!/usr/bin/env python3
"""Per-layer report for one workload and seed.

    python3 perfbench/tools/layer_report.py --workload <name> --seed <n> \
        [--seconds 10] [--out report.json]

Runs the benchmark three times with the same seed: once untraced, twice
traced. It prints and writes:

- every per-layer metric of the first traced run;
- the tracing overhead: each end-to-end metric of the traced run minus
  that of the untraced run;
- which per-layer counts (units count and bytes) repeat exactly between
  the two traced runs, so a later change knows which counts it may cite;
- the spans' self time summed per span name (the layer), from the first
  traced run's span file.
"""
import argparse
import json
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()

    plain, _ = run(a.workload, a.seed, a.seconds, 0)
    spans_file = ROOT / ".bench_work" / "trace" / f"{a.workload}-seed{a.seed}.jsonl"
    traced, report = run(a.workload, a.seed, a.seconds, 1)
    spans = [json.loads(l) for l in spans_file.read_text().splitlines() if l]
    again, _ = run(a.workload, a.seed, a.seconds, 1)

    traced_e2e = {}
    for line in report:
        name, eq, rest = line.partition(" = ")
        if eq and name in plain["metrics"]:
            traced_e2e[name] = float(rest.split()[0])
    overhead = {k: {"untraced": m["value"], "traced": traced_e2e.get(k),
                    "overhead": None if k not in traced_e2e else traced_e2e[k] - m["value"],
                    "unit": m["unit"]}
                for k, m in plain["metrics"].items()}
    repeats = {k: m["value"] == again["metrics"].get(k, {}).get("value")
               for k, m in traced["metrics"].items() if m["unit"] in ("count", "bytes")}
    self_ms = defaultdict(float)
    for s in spans:
        self_ms[s["name"].split(":")[0]] += s["self_ms"]

    result = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "correct": plain["correct"] and traced["correct"] and again["correct"],
              "per_layer": traced["metrics"], "tracing_overhead": overhead,
              "count_repeats_exactly": repeats,
              "span_self_ms": {k: round(v, 1) for k, v in sorted(self_ms.items())},
              "notes": [l for l in report if " = " not in l]}
    text = json.dumps(result, indent=1)
    print(text)
    if a.out:
        Path(a.out).write_text(text + "\n")


if __name__ == "__main__":
    main()
