#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (bench.py is frozen for
measurement; this file holds the guide-§1 isolation tooling).

KG-pipeline layer timings live in perfbench/ (``--trace 1``).

Modes:
  --noop  Q [Q...]   per-query noop-sink timing at $SPARK_GRAFT_SF_DIR.
  --plans Q [Q...]   write .explain("formatted") for queries to
                     plans/<tag>/<q>_<suffix>.txt (--tag r06 --suffix
                     before|after).
  --all-queries      expand Q to every registered query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark(app="bench-extra"):
    from ontocast_spark.session import build_spark

    spark = build_spark(app_name=app, master=f"local[{CPUS}]",
                        shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, runs=3):
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(round(time.perf_counter() - t0, 3))
    return min(samples), samples


def noop_queries(names, runs=3):
    from ontocast_spark.queries import QUERIES

    spark = _spark("noop-queries")
    res = {}
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        spark.sparkContext.setJobDescription(f"noop: {name}")
        _noop(df)  # warmup
        best, samples = _time(lambda: _noop(QUERIES[name](spark, SF_DIR)), runs)
        res[name] = {"best": best, "samples": samples}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": SF_DIR, "queries": res}))
    spark.stop()


def write_plans(names, tag, suffix):
    from ontocast_spark.queries import QUERIES

    spark = _spark("plans")
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e!r}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--noop", nargs="*", default=None)
    ap.add_argument("--plans", nargs="*", default=None)
    ap.add_argument("--all-queries", action="store_true")
    ap.add_argument("--tag", default="r06")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    names = args.noop if args.noop is not None else args.plans
    if args.all_queries:
        from ontocast_spark.queries import QUERIES

        names = list(QUERIES)
    if args.noop is not None:
        noop_queries(names, args.runs)
    elif args.plans is not None:
        write_plans(names, args.tag, args.suffix)


if __name__ == "__main__":
    main()
