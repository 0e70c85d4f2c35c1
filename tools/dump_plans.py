"""Regenerate PLANS.md: formatted physical plans for the bench headline
queries, each preceded by its registry scale note.

The plan text is the evidence behind every scale claim in COVERAGE.md —
broadcast joins where dims are small, TakeOrderedAndProject for top-k,
PushedFilters/PartitionFilters at the scans, whole-stage codegen spans.
Regenerate after plan-affecting changes:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from reddit_sentiment_spark_streaming_pipeline_spark import registry  # noqa: E402
from reddit_sentiment_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, _REPO)
    import bench

    spark = get_spark("dump-plans")
    specs = registry.load_all()
    out = [
        "# PLANS — physical plans of the bench headline queries",
        "",
        f"Auto-generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(regenerate after plan-affecting changes). Each query's registry "
        "scale note states the intended shape; the `explain(\"formatted\")` "
        "output below it is the proof.",
        "",
    ]
    for name in bench.HEADLINE:
        spec = specs[name]
        df = spec.fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append("")
        if spec.doc:
            out.append(f"> {spec.doc}")
            out.append("")
        out.append("```")
        # the physical-plan tree + operator details; drop trailing blank runs
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(bench.HEADLINE)} queries)")


if __name__ == "__main__":
    main()
