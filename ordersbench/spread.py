#!/usr/bin/env python3
"""Repeats the benchmark over several seeds and reports, per end-to-end
metric, the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
``BENCHMARK.json``. Runs that started under load are flagged.

    python3 ordersbench/spread.py --workload orders_live --seeds 1-10 [--out runs.jsonl]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

from benchlib import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--out", help="append each run's result and note to this JSON-lines file")
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    runs = []
    for seed in seeds(a.seeds):
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
        run = {"seed": seed, "result": json.loads(lines[-1]), "note": json.loads(lines[-2][5:])}
        runs.append(run)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(run) + "\n")
        flag = " (started under load)" if run["note"]["started_under_load"] else ""
        print(f"seed {seed}: correct={run['result']['correct']}{flag}", flush=True)
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        spread = stats.quartile_spread(vals) if len(vals) > 1 else float("nan")
        print(f"{m['name']:18s} median {statistics.median(vals):12.4f} {m['unit']:5s} "
              f"spread {spread:.3f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
