"""Time catalog entries one at a time the way bench.py does, and count the
Spark jobs each one launches.

Usage: [SPARK_GRAFT_SF_DIR=dir] python tools/solo_time.py [--n 2] [name ...]

The SF directory defaults to sf0.1 and the core count follows get_spark
(``SPARK_GRAFT_CPUS``, else the host's count), as in bench.py. One process
runs bench.py's warm-up, then each entry (default: the whole catalog) ``--n``
times into the noop sink, with ``clearCache`` after each entry. Per entry it
prints every iteration's seconds, their min (bench.py's metric is min-of-2)
and the job count of the last, warm iteration; at the end it prints one JSON
line and writes no file. An unknown or failing entry records -1 and the run
goes on.

Jobs are counted from any thread: the count is the rise of the newest job id
over the call. A job group set on the calling thread would miss the
micro-batch jobs a streaming entry runs on its stream-execution thread under
the stream's own group. Each iteration still runs under a job group of its
own (``solo:<name>:<i>``), so its jobs stay labelled in the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, sf_from_dir, warm_up
from nba_data_pipeline_spark.plans.registry import load_all
from nba_data_pipeline_spark.session import get_spark


def newest_job_id(spark) -> int:
    """The highest job id started so far (-1 before any). Ids are handed out
    in order and the status store drops its oldest jobs first, so the newest
    one is always kept; the listener bus is drained first so that the store
    has seen every job that was submitted."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return -1 if jobs.isEmpty() else jobs.head().jobId()


def run_entry(spark, name: str, fn, sf_dir: str, n: int) -> dict:
    """``n`` timed noop-sink runs of one entry: their seconds, the min and
    the last run's job count. A failure records -1 for both."""
    sc = spark.sparkContext
    secs: list[float] = []
    try:
        for i in range(n):
            sc.setJobGroup(f"solo:{name}:{i}", name)
            before = newest_job_id(spark)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs.append(round(time.time() - t0, 2))
            jobs = newest_job_id(spark) - before
    except Exception as e:  # noqa: BLE001 — one entry fails, the run goes on
        print(f"{name}: FAILED {type(e).__name__}: {e}", file=sys.stderr, flush=True)
        return {"sec": secs, "min": -1.0, "jobs": -1}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
    return {"sec": secs, "min": min(secs), "jobs": jobs}


def measure(spark, specs: dict, names: list[str], sf_dir: str, n: int) -> dict:
    """Run each named entry through :func:`run_entry`, printing one line per
    entry as it finishes; an unknown name records -1."""
    out: dict[str, dict] = {}
    for name in names:
        if name not in specs:
            print(f"{name}: unknown entry", file=sys.stderr, flush=True)
            out[name] = {"sec": [], "min": -1.0, "jobs": -1}
            continue
        r = out[name] = run_entry(spark, name, specs[name].fn, sf_dir, n)
        print(f"{name}: {r['sec']} min={r['min']} jobs={r['jobs']}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()
    if args.n < 1:
        ap.error("--n must be at least 1")

    spark = get_spark("solo_time")
    cpus = spark.sparkContext.defaultParallelism
    specs = load_all()
    warm_up(spark, SF_DIR, cpus)
    out = measure(spark, specs, args.names or list(specs), SF_DIR, args.n)
    print(json.dumps({"sf": sf_from_dir(SF_DIR), "cpus": cpus, "n": args.n, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
