#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads query_mix egress_fanout --seeds 1-10

Runs the benchmark once per seed and workload (untraced, BENCHMARK.json's
run_seconds) and prints, per workload and metric, the median of the
per-run values and their spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound. The table also goes to
``perfbench/out/spread.json``.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    table = {}
    for w in a.workloads:
        runs = []
        for s in seeds(a.seeds):
            out = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr[-2000:])
                raise SystemExit(f"{w} seed {s}: run failed")
            res = json.loads(lines[-1])
            runs.append(res)
            print(f"{w} seed {s}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            rows[m] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds[m],
                       "values": vals}
            print(f"  {w} {m}: median {med:.4g}, spread {(q3 - q1) / med:.3f} "
                  f"(bound {bounds[m]})", flush=True)
        table[w] = {"all_correct": all(r["correct"] for r in runs), "metrics": rows}
    (BENCH / "out").mkdir(exist_ok=True)
    (BENCH / "out" / "spread.json").write_text(json.dumps(table, indent=1) + "\n")


if __name__ == "__main__":
    main()
