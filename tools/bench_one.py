"""Re-measure individual bench suites in isolation (guide §1: isolate
each expensive query with the noop sink so you time the computation,
not the sink — and not its neighbors).

Usage:  python tools/bench_one.py [-n REPS] [--explain DIR] suite [suite ...]

Uses exactly the bench's own suite callables (bench.build_suites)
and timing loop (bench.run) at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints per-rep and best-of timings, and
optionally dumps .explain("formatted") per suite.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("suites", nargs="*")
    ap.add_argument("-n", "--reps", type=int, default=3)
    ap.add_argument("--explain", metavar="DIR",
                    help="write <suite>.txt explain('formatted') here")
    ap.add_argument("--suffix", default="",
                    help="append to explain file names (e.g. _before)")
    args = ap.parse_args()

    import bench
    from kafkadirect_spark.session import get_spark
    from kafkadirect_spark.sources.batch import load_table
    from kafkadirect_spark.testing import explain_formatted

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("kafkadirect-bench-one")
    spark.sparkContext.setLogLevel("ERROR")
    suites, extras = bench.build_suites()
    all_suites = {**suites, **extras}

    unknown = [s for s in args.suites if s not in all_suites]
    if unknown:
        print(f"unknown suites: {unknown}; known: {sorted(all_suites)}")
        return 1

    def dump(name, df):
        os.makedirs(args.explain, exist_ok=True)
        path = os.path.join(args.explain, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_formatted(df))

    load_table(spark, sf_dir, "lineitem").count()  # JVM warmup

    for name in args.suites:
        times = bench.run(spark, sf_dir, {name: all_suites[name]}, args.reps,
                          dump if args.explain else None)[name]
        print(f"{name:32s} best={min(times):7.3f}  "
              + " ".join(f"{t:.3f}" for t in times))
    return 0


if __name__ == "__main__":
    sys.exit(main())
