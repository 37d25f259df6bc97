"""Ad-hoc per-query measurement harness for optimization work
(guide §1: measure first, noop-sink isolation, labeled jobs).

NOT the driver contract — bench.py stays frozen; this file exists so
optimization rounds can time single queries at any SF, capture
`.explain("formatted")` plans, and A/B changes without paying for the
whole suite. Examples:

    python bench_extra.py --queries ivf_trained_topk,rp_ivf_topk \
        --sf-dir /root/testdata/sf0.1 --passes 2 \
        --explain-dir plans/r06 --explain-suffix _before

    python bench_extra.py                  # whole headline suite, 1 pass
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (frozen list; read-only import)
from marc_data_migration_spark.entry_queries import QUERIES  # noqa: E402
from marc_data_migration_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--queries", default=None, help="comma list; default headline")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument(
        "--explain-only",
        action="store_true",
        help="construct + capture plans, skip the timed noop writes",
    )
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else list(HEADLINE)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra", parallelism=cpus)
    sc = spark.sparkContext

    if not args.no_warm:
        # same session warmers bench.py uses (codegen, shuffle, Python pool)
        from pyspark.sql import functions as F

        from marc_data_migration_spark.functions.similarity import token_sort_ratio

        sc.setJobDescription("warm: cdc_apply")
        QUERIES["cdc_apply"](spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        sc.setJobDescription("warm: python workers")
        (
            spark.range(cpus * 64)
            .repartition(cpus)
            .select(token_sort_ratio(F.lit("warm up"), F.lit("up warm")))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    for p in range(args.passes):
        for name in names:
            sc.setJobDescription(f"{name} [pass {p}]")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            if not args.explain_only:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            construct[name] = round(min(construct.get(name, 1e18), t1 - t0), 3)
            timings[name] = round(min(timings.get(name, 1e18), t2 - t1), 3)
            if p == 0 and args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                path = os.path.join(
                    args.explain_dir, f"{name}{args.explain_suffix}.txt"
                )
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                with open(path, "w") as fh:
                    fh.write(buf.getvalue())
    sc.setJobDescription(None)
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "passes": args.passes,
                "exec_sec": timings,
                "construct_sec": construct,
                "total_exec_sec": round(sum(timings.values()), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
