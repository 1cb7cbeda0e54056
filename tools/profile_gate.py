"""Time registered queries one at a time, for a quick A/B.

Usage: python tools/profile_gate.py [--sf DIR] [--repeat N] name [name...]

Each query is built at the scale-factor directory (default sf0.01) and
written to Spark's noop sink through bench.py's ``noop_runs``: one
untimed warm-up run, then ``--repeat`` timed runs, the cache cleared
before every run and plan building timed with its run. Prints each
timed run's seconds. The session is ``get_spark()``'s:
``local[$SPARK_GRAFT_CPUS]``, else every core.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import noop_runs
    from convert_parquet_to_csv_spark.plans import registry
    from convert_parquet_to_csv_spark.session import get_spark

    registry.load_all()
    spark = get_spark()
    for name in args.names:
        fn = registry.QUERIES[name]
        plans = {name: lambda: fn(spark, args.sf)}
        for runs in noop_runs(spark, plans, 1, args.repeat).values():
            for r, dt in enumerate(runs):
                print(f"{name} run{r}: {dt:.2f}s", flush=True)


if __name__ == "__main__":
    main()
