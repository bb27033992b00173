"""Per-query profiling harness for the optimization rounds.

Usage:
    python tools/profile_query.py QUERY [QUERY ...] [--runs N] \
        [--explain-tag TAG] [--plans-dir plans/r17]

Times each named registered query exactly the way bench.py does
(count() of the result, owned caches released between runs), min over
--runs (default 3), and optionally writes .explain("formatted") to
<plans-dir>/<query>_<tag>.txt.  Jobs are labelled with
setJobDescription so event logs stay readable.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as _pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_feast_spark import workload
from my_feast_spark.session import get_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-tag", default=None,
                    help="write <plans-dir>/<q>_<tag>.txt explain output")
    ap.add_argument("--plans-dir", default="plans/r17",
                    help="where --explain-tag dumps go (round dir)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    registry = {**workload.QUERIES, **workload.RETIRED_QUERIES}
    unknown = [name for name in args.queries if name not in registry]
    if unknown:
        # checked before the session starts: a typo costs no JVM start-up
        sys.exit(f"unknown queries: {', '.join(unknown)}")

    spark = get_session(app_name="mfs-profile")

    from my_feast_spark.operators.graph import release_checkpoint
    from my_feast_spark.sources.readers import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:
        load_table(spark, args.sf_dir, t).count()

    from pyspark.sql.functions import col as _col, pandas_udf as _pandas_udf

    @_pandas_udf("long")
    def _warm(s: _pd.Series) -> _pd.Series:
        return s

    spark.range(512).repartition(32).select(_warm(_col("id"))).count()

    def _release(df):
        for c in getattr(df, "_owned_caches", ()):
            c.unpersist()
        for c in getattr(df, "_owned_checkpoints", ()):
            release_checkpoint(c)

    for name in args.queries:
        fn = registry[name][0]
        if args.explain_tag:
            df = fn(spark, args.sf_dir)
            os.makedirs(args.plans_dir, exist_ok=True)
            with open(
                f"{args.plans_dir}/{name}_{args.explain_tag}.txt", "w"
            ) as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            _release(df)
        runs = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.monotonic()
            df = fn(spark, args.sf_dir)
            df.count()
            runs.append(round(time.monotonic() - t0, 3))
            _release(df)
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
