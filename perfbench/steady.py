"""Steadiness: two interleaved sets of runs of one workload on the same code.

    python3 perfbench/steady.py --workload posts_live --runs 10 --traced 2

Set A uses seeds base..base+runs-1 and set B the next `runs` seeds; runs
alternate A, B, A, B. For each end-to-end metric it prints both medians,
both quartile ranges as a share of their median, and whether B's median
is within the metric's bound of A's. With --traced N it also makes N
traced runs and reports the tracing overhead: the traced run's own
end-to-end figure minus the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> tuple[float, float, float]:
    """median, first and third quartile"""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed-base", type=int, default=1000)
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    sets = {"A": [], "B": []}
    for i in range(args.runs):
        for k, name in enumerate("AB"):
            seed = args.seed_base + k * args.runs + i
            r = one_run(args.workload, seed, seconds, 0)
            sets[name].append(r)
            print(f"{name} seed={seed} " + " ".join(
                f"{m}={v['value']:.4f}" for m, v in r["metrics"].items())
                + f" failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)

    report = {"workload": args.workload, "runs_per_set": args.runs, "metrics": {}}
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        row = {"bound": bound}
        for s, runs in sets.items():
            med, q1, q3 = spread([r["metrics"][name]["value"] for r in runs])
            row[s] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med}
        a, b = row["A"]["median"], row["B"]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        row["b_worse_share"] = worse
        row["medians_agree"] = worse <= bound
        report["metrics"][name] = row
    shares = {s: sorted({r["failed"] / r["attempted"] for r in runs})
              for s, runs in sets.items()}
    report["failed_shares"] = shares
    report["failed_shares_equal"] = shares["A"] == shares["B"] and len(shares["A"]) == 1

    if args.traced:
        traced = [one_run(args.workload, args.seed_base + 2 * args.runs + i, seconds, 1)
                  for i in range(args.traced)]
        untraced = sets["A"] + sets["B"]
        report["tracing_overhead_s"] = {
            name: statistics.median(t["metrics"][f"trace.{name}"]["value"] for t in traced)
            - statistics.median(r["metrics"][name]["value"] for r in untraced)
            for name in ("latency_p50_s", "read_s")
        }
        report["traced"] = [{m: v["value"] for m, v in t["metrics"].items()} for t in traced]
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
