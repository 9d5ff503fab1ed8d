"""Dump `.explain("formatted")` of declared queries to plans/r<N>/.

Usage:  python scripts/dump_plans.py --round N <suffix> name [name ...]

Writes plans/r<N>/<name>_<suffix>.txt for each query (registered name
or bench EXTRA name). Streaming audit families execute their stream to
build the returned table; their committed plan is the final returned
DataFrame's plan (often a memory-sink/local scan — the audit's
distributed work happens in foreachBatch/microbatch plans), which is
exactly what the driver's `queries()[name]` returns. Job-level
evidence for those lives in OPTIMIZATION_r<N>.md (profile_family.py
output).
"""

from __future__ import annotations

import argparse
import os
import sys

from gen_plans import SF  # the plan audit's SPARK_GRAFT_SF_DIR default

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    out = os.path.join(ROOT, "plans", f"r{args.round}")
    os.makedirs(out, exist_ok=True)

    import bench
    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark(f"dump_plans_r{args.round}")

    for name in args.names:
        df = bench._query(name)(spark, SF)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
