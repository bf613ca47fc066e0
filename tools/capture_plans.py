"""Capture .explain("formatted") output for named catalog entries.

Usage:
    [SPARK_GRAFT_SF_DIR=dir] python tools/capture_plans.py --out DIR [--suffix S] name ...

Writes ``<out>/<name><suffix>.txt`` per entry, planned at sf0.1 by default on
as many cores as bench.py uses (``SPARK_GRAFT_CPUS``, else the host's count),
so exchanges have the partition counts that bench.py times. Run from any
checkout (the repo root is derived from this file's location), so a checkout
of a pre-change commit produces the matching ``_before`` files.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from nba_data_pipeline_spark.plans.registry import load_all
    from nba_data_pipeline_spark.session import get_spark

    spark = get_spark("capture_plans")
    specs = load_all()
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        if name not in specs:
            print(f"skip (unknown): {name}", file=sys.stderr)
            continue
        df = specs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
