"""Jobs-per-entry audit: run each catalog entry once warm and count the
Spark jobs it launches (driver-sequential job count is the sf0.1 scheduling
floor — guide §1/§2.6; VERDICT r11 item 2).

Usage: python tools/jobcount.py [--cpus 32] [names ...]
Writes tools/jobcount.json: {name: {"jobs": N, "sec_warm": t}} sorted by jobs.

Method: each entry runs under its own job group; the statusTracker's
getJobIdsForGroup(group) gives the exact job ids launched by the entry's
second (warm) execution. The first execution warms caches/codegen so the
count reflects the steady-state plan, matching bench.py's min-of-2 metric.

Job groups are thread-local properties of the SparkContext: only jobs
submitted from the thread that set the group are counted, so an entry that
launches jobs from its own worker threads under-reports. The group is
cleared by unsetting the ``spark.jobGroup.id`` local property directly —
``setJobGroup(None, None)`` is not a supported way to clear it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.plans.registry import load_all
    from nba_data_pipeline_spark.session import get_spark

    spark = get_spark("jobcount", cpus=args.cpus)
    sc = spark.sparkContext
    specs = load_all()
    names = args.names or list(specs)

    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(args.cpus * 4).repartition(args.cpus).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in names:
        if name not in specs:
            print(f"skip (unknown): {name}", file=sys.stderr)
            continue
        try:
            # cold run (codegen/footers/caches), not counted
            specs[name].fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            group = f"jc:{name}"
            sc.setJobGroup(group, name)
            try:
                t0 = time.time()
                specs[name].fn(spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            out[name] = {"jobs": len(jobs), "sec_warm": round(dt, 2)}
            print(f"{name}: jobs={len(jobs)} sec_warm={dt:.2f}", flush=True)
        except Exception as e:  # noqa: BLE001
            out[name] = {"jobs": -1, "sec_warm": -1.0, "err": str(e)[:200]}
            print(f"{name}: FAILED {e}", file=sys.stderr, flush=True)
        spark.catalog.clearCache()

    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]["jobs"]))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobcount.json")
    with open(path, "w") as f:
        json.dump(ranked, f, indent=1)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
