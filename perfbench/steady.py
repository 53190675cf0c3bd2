"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steady.py --workload crawl_durable --seeds 1-10 \
        --record perfbench/steadiness.json --label ten-seeds

For every end-to-end metric it prints the median of the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
BENCHMARK.json. ``--record`` stores the values and spreads under
``--label`` in a JSON file, so a run set can be kept with the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 42,42,42")
    p.add_argument("--record", help="JSON file to add this run set to")
    p.add_argument("--label", default="runs")
    p.add_argument("--write-pins", action="store_true",
                   help="pass --write-pins to every run")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in parse_seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"]
            + (["--write-pins"] if args.write_pins else []),
            cwd=ROOT, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        # the summary lines before the JSON: "  name  value  unit"
        res["summary"] = {f[0]: float(f[1]) for f in (ln.split() for ln in lines[1:-1])
                          if len(f) >= 2 and f[1].replace(".", "", 1).lstrip("-").isdigit()}
        res.update(seed=seed, run_s=round(time.perf_counter() - t, 1))
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} {vals} "
              f"calib={res['summary'].get('machine.calib_tasks_per_s', 0):.1f} "
              f"raw_op_s={res['summary'].get('raw.op_wall_s', 0):.2f} "
              f"attempted={res['summary'].get('attempted_urls', 0):.0f} run={res['run_s']}s",
              flush=True)

    summary = {}
    for name, bound in bounds.items():
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        summary[name] = {"median": med, "spread": sp, "bound": bound}
        print(f"{name:20s} median={med:10.4f} spread={sp:.4f} "
              f"bound={bound} ({sp / bound:.2f} of bound)")
    if args.record:
        data = {}
        if os.path.exists(args.record):
            with open(args.record) as f:
                data = json.load(f)
        data.setdefault(args.workload, {})[args.label] = {
            "seeds": [r["seed"] for r in runs],
            "correct": all(r["correct"] for r in runs),
            "values": {n: [r["metrics"][n]["value"] for r in runs] for n in bounds},
            "run_s": [r["run_s"] for r in runs],
            "calib_tasks_per_s": [r["summary"].get("machine.calib_tasks_per_s")
                                  for r in runs],
            "summary": summary,
        }
        with open(args.record, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
