"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload posts_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
--seed under `.bench_work/`, drives the engine through its public
functions with Spark as `local[nproc]` in this one process, checks the
outputs, and prints `{"correct", "attempted", "failed", "metrics"}` as the
last line. --trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics and writes the spans to `.bench_work/traces/`.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "reddit_sentiment_spark_streaming_pipeline_spark"
WORKLOADS = ("posts_live", "curation_batch")  # each a module run_<name>(run)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                spec: dict, trace: bool, layers: tuple[str, ...]) -> str:
    """The last stdout line: every metric the spec lists for this mode,
    with its unit. A layer metric outside the workload's `layers`
    prefixes reads 0; one inside them must have been measured."""
    names = spec["per_layer"] if trace else spec["end_to_end"]
    out = {}
    for m in names:
        if m["name"] in metrics:
            value = metrics[m["name"]]
        elif trace and not m["name"].startswith(layers):
            value = 0.0  # a layer this workload does not exercise
        else:
            raise KeyError(f"workload did not measure {m['name']}")
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": out})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import Run  # noqa: E402 (needs the package on sys.path)

    run = Run(work, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    try:
        mod = importlib.import_module(args.workload)
        metrics = getattr(mod, f"run_{args.workload}")(run)
        line = result_line(run.correct, run.attempted, run.failed, metrics, spec,
                           bool(args.trace), mod.LAYERS)
        if args.trace:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    for msg in run.problems[:20]:
        print("check failed:", msg, file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
