"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()``
twin on DuckDB over the same parquet, then compares row count, sorted column
names, and order-insensitive values (exact for ints/strings, near-exact for
floats). Usage:

    python tools/check.py [name ...]              # default: all registered queries
    python tools/check.py --sf sf1                # full sweep at 10x (sf_scaled/sf1)
    python tools/check.py --sf sf1 --lanes dedup,ann,text    # lane presets
    python tools/check.py --list-lanes            # show lane -> entry mapping

Standing cadence:
  * default sf0.01 full sweep after any catalog edit — it checks the
    branch each size fork takes by default;
  * the forced lane, ``python -m pytest tests/test_size_forks.py``, after
    any catalog edit — it checks every fork's other branch (each
    ``io.fits`` site forced to its scale side on sf0.001);
  * full sf1 (10x) sweep at HEAD before any round close.

``--sf`` accepts a directory path or a shorthand: driver SFs
(sf0.001/sf0.01/sf0.1) resolve to ``/root/testdata/<sf>``; scaled SFs
(sf1/sf3) resolve to ``sf_scaled/<sf>`` (built on demand by
``tools/make_sf_scaled.py``).
"""

from __future__ import annotations

import argparse
import atexit
import math
import os
import re
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from nba_data_pipeline_spark.io import TABLES
from nba_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Lane presets: prefix regex -> catalog subset. ``misc`` is computed as the
# complement so the union of all lanes is always the full registry (asserted
# in tests/test_check_lanes.py) — a new entry can never silently fall outside
# the scale-ladder cadence.
LANES: dict[str, str] = {
    "dedup": r"^(d\d|corpus_|skew_)",
    "ann": r"^sim_",
    "text": r"^ta_",
    "stats": r"^(a\d|a_|udaf_|mi\d|mb\d|sky\d|flagship|sql_)",
    "windows": r"^w\d",
    "ts": r"^ts\d",
    "joins": r"^(j\d|u\d)",
    "graph": r"^g\d",
    "streaming": r"^s\d",
    "multimodal": r"^mm_",
    "sources": r"^(src_|snk\d|n_|nba_|f\d|x\d|x_|ud\d|lo\d|dq\d|geo\d|cdc_)",
}


def lane_members(names: list[str]) -> dict[str, list[str]]:
    """Partition catalog names into lanes; unmatched names land in ``misc``."""
    out: dict[str, list[str]] = {lane: [] for lane in LANES}
    out["misc"] = []
    for n in names:
        for lane, pat in LANES.items():
            if re.match(pat, n):
                out[lane].append(n)
                break
        else:
            out["misc"].append(n)
    return out


def names_all_streaming(names: list[str], lanes: dict[str, list[str]]) -> bool:
    streaming = set(lanes.get("streaming", ()))
    return bool(names) and all(n in streaming for n in names)


def streaming_worker_cap(
    heap_gb: float | None = None, per_worker_gb: float = 4.5
) -> int:
    """Python-worker count the box can actually feed at a deep-decade
    streaming drain: (MemAvailable − JVM heap) / measured per-worker peak.

    The 4.5 GB/worker figure is the sf300 s11 measurement solved backward:
    32 workers OOM'd and 16 ran clean on a 125 GB box with a 48 g heap —
    (120 − 48) / 16 ≈ 4.5. On a box without /proc, falls back to cpu
    count (no cap)."""
    try:
        with open("/proc/meminfo") as f:
            kb = {
                line.split(":")[0]: int(line.split()[1]) for line in f
            }
        avail_gb = kb["MemAvailable"] / 1024 / 1024
    except Exception:  # noqa: BLE001
        return os.cpu_count() or 8
    if heap_gb is None:
        m = re.match(r"(\d+)g", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        heap_gb = float(m.group(1)) if m else 48.0
    usable = max(avail_gb - heap_gb, per_worker_gb)
    return max(4, min(os.cpu_count() or 8, int(usable // per_worker_gb)))


def resolve_sf(sf: str) -> str:
    """Shorthand SF name or directory path -> parquet directory."""
    if os.path.isdir(sf):
        return sf
    if sf in ("sf0.001", "sf0.01", "sf0.1"):
        return f"/root/testdata/{sf}"
    if re.fullmatch(r"sf\d+", sf):
        path = os.path.join(REPO, "sf_scaled", sf)
        if not os.path.isdir(path):
            raise SystemExit(
                f"{path} missing — build it first: "
                f"python tools/make_sf_scaled.py {int(sf[2:]) * 10} sf_scaled/{sf}"
            )
        return path
    raise SystemExit(f"unknown --sf {sf!r}: not a directory or known shorthand")


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle's memory and give it a spill dir: at the sf100
    # (1000x) probe the CC oracle's recursive walk ballooned DuckDB to
    # ~56 GB WHILE the Spark JVM still held its engine-phase RSS — the two
    # engines' co-resident peaks exceeded the box and the OS OOM-killer
    # took the JVM down mid-sweep. With a limit DuckDB spills (or fails
    # that ONE entry cleanly) instead of detonating the whole lane.
    duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM", "40GB")
    tmp = tempfile.mkdtemp(prefix="check_duck_spill_")
    # an aborted deep-decade run must not strand a multi-GB spill dir in
    # /tmp: best-effort rmtree at interpreter exit (normal completion leaves
    # the dir empty anyway — DuckDB cleans its own spill files). atexit does
    # NOT run on SIGTERM (how `timeout` kills a runaway entry — the r9
    # sim_ivf sf300 kill stranded 22 GB), so route TERM through sys.exit.
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    import signal

    if threading.current_thread() is threading.main_thread():
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    con.sql(f"SET memory_limit='{duck_mem}'")
    con.sql(f"SET temp_directory='{tmp}'")
    # Deep-decade tilings are built PHASE-WISE (the full sf300 set outgrows
    # one box's disk — see tools/make_sf_scaled.py --tables): register the
    # tables that exist; an entry that reads a missing one fails with the
    # usual missing-view error instead of blocking the whole connection.
    missing = []
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        else:
            missing.append(t)
    if missing:
        print(f"# note: tables absent in {sf_dir}: {', '.join(missing)}")
    return con


def canon(v):
    """Canonicalize a cell for order-insensitive compare."""
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", round(v, 9))
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    return (type(v).__name__[:1], str(v))


#: past this many rows per side, the compare stops RETAINING canonical
#: tuples and keeps only the streaming multiset hash — same verdict (an
#: md5-sum multiset equality; collision odds are negligible), bounded
#: memory. Below it, behavior is the original exact diff with examples.
#: Why: the sf10 sweep's fact-grain outputs (15M rows x 2 engines) put
#: >80 GB of Python tuples in the harness — the compare, not either
#: engine, became the sweep's memory hazard.
HASH_COMPARE_THRESHOLD = 2_000_000


def _row_sig(canon_tuple) -> int:
    import hashlib

    return int.from_bytes(
        hashlib.md5(repr(canon_tuple).encode()).digest(), "big"
    )


#: dtypes the vectorized fast-accept path trusts: exact canon-equivalent
#: multiset equality is expressible column-wise (floats rounded to the same
#: 9 digits on both sides; ints/bools/strings compared directly). Anything
#: else (dates arrive as datetime64 on one side and date objects on the
#: other, lists/structs as objects) defers to the exact streaming compare.
_FAST_DTYPES = ("int64", "int32", "int16", "float64", "bool", "object")


def _fast_multiset_equal(spdf, ddf) -> bool | None:
    """Vectorized canon-equivalent multiset compare of two pandas frames
    (same sorted column order). Returns True only when equality is PROVEN
    under the canon semantics; None when this path cannot decide (dtype
    mismatch / non-scalar cells / sort failure) — never False-accepts.

    Why it exists: the streaming compare is exact but pure-Python per-row;
    at the 100x tiling a fact-grain result (15-60M rows x 2 engines) costs
    tens of minutes PER ENTRY in canon loops while both engines are long
    done. Green results dominate a sweep, so proving equality cheaply via
    Arrow->pandas (round floats to canon's 9 digits, sort rows, frame
    equality with NaN==NaN) removes nearly all harness cost; any non-equal
    or undecidable case falls through to the exact path for the verdict."""
    import numpy as np

    if list(spdf.columns) != list(ddf.columns) or len(spdf) != len(ddf):
        return None
    for c in spdf.columns:
        st, dt = str(spdf[c].dtype), str(ddf[c].dtype)
        if st != dt or st not in _FAST_DTYPES:
            return None
        if st == "object":
            for frame in (spdf, ddf):
                head = frame[c].dropna().head(20)
                if not all(isinstance(v, str) for v in head):
                    return None
    try:
        a, b = spdf.copy(), ddf.copy()
        for c in a.columns:
            if str(a[c].dtype) == "float64":
                a[c] = np.round(a[c], 9)
                b[c] = np.round(b[c], 9)
        cols = list(a.columns)
        a = a.sort_values(cols, na_position="last").reset_index(drop=True)
        b = b.sort_values(cols, na_position="last").reset_index(drop=True)
        return True if a.equals(b) else None
    except Exception:  # noqa: BLE001 — mixed-type sort etc.: undecidable
        return None


def compare(name: str, spark_df, duck_rel) -> list[str]:
    problems: list[str] = []
    scols = sorted(spark_df.columns)
    dcols_raw = duck_rel.columns
    order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
    dcols = [dcols_raw[i] for i in order]
    if scols != dcols:
        problems.append(f"columns differ: spark={scols} duck={dcols}")
        return problems

    # Fast accept (see _fast_multiset_equal) — falls through to the exact
    # streaming compare on anything but proven equality.
    try:
        spdf = spark_df.toPandas()[scols]
        ddf = duck_rel.df()
        ddf = ddf[sorted(ddf.columns)]
        if _fast_multiset_equal(spdf, ddf) is True:
            return []
        del spdf, ddf
    except Exception:  # noqa: BLE001 — arrow conversion failures etc.
        pass

    def accumulate(row_iter):
        n, acc, kept = 0, 0, []
        for t in row_iter:
            acc = (acc + _row_sig(t)) & ((1 << 127) - 1)
            n += 1
            if kept is not None:
                kept.append(t)
                if n > HASH_COMPARE_THRESHOLD:
                    kept = None  # hash-only from here; memory stays bounded
        return n, acc, kept

    s_n, s_acc, s_rows = accumulate(
        tuple(canon(r[c]) for c in scols) for r in spark_df.toLocalIterator()
    )

    def duck_iter():
        while True:
            chunk = duck_rel.fetchmany(65536)
            if not chunk:
                return
            for row in chunk:
                yield tuple(canon(row[i]) for i in order)

    d_n, d_acc, d_rows = accumulate(duck_iter())

    if s_n != d_n:
        problems.append(f"row count differs: spark={s_n} duck={d_n}")
    if s_acc != d_acc:
        if s_rows is not None and d_rows is not None:
            sset, dset = sorted(s_rows), sorted(d_rows)
            dseen, sseen = set(dset), set(sset)
            diff_s = [r for r in sset if r not in dseen][:3]
            diff_d = [r for r in dset if r not in sseen][:3]
            problems.append(
                f"values differ; spark-only={diff_s} duck-only={diff_d}"
            )
        else:
            problems.append(
                f"values differ (multiset hash mismatch over {s_n} rows; "
                "past HASH_COMPARE_THRESHOLD, no example diff retained)"
            )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="explicit query names (default: all)")
    ap.add_argument("--sf", default=None, help="SF shorthand (sf0.01/sf1) or dir")
    ap.add_argument("--lanes", default=None, help="comma-separated lane presets")
    ap.add_argument("--list-lanes", action="store_true", help="print lane membership")
    ap.add_argument(
        "--entry-timeout",
        type=float,
        default=None,
        help="seconds per entry before the in-flight DuckDB query and Spark "
        "jobs are interrupted (the entry FAILs, the sweep continues) — the "
        "backstop that keeps one runaway oracle from eating a lane's budget",
    )
    args = ap.parse_args()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    lanes = lane_members(list(qs))
    if args.list_lanes:
        for lane, members in lanes.items():
            print(f"{lane} ({len(members)}): {' '.join(members)}")
        return 0
    names = list(args.names)
    if args.lanes:
        for lane in args.lanes.split(","):
            if lane not in lanes:
                raise SystemExit(f"unknown lane {lane!r}; have {sorted(lanes)}")
            names.extend(lanes[lane])
    if not names:
        names = list(qs)
    sf_dir = resolve_sf(args.sf) if args.sf else SF_DIR
    print(f"# sf_dir={sf_dir}  entries={len(names)}", flush=True)

    # Size the Spark session by the SWEEP DECADE, not a fixed 8-thread/16g
    # default: the sf100 (1000x) probe showed a 16g/8-thread session dying
    # inside a single candidate-join stage (GCLocker alloc failures, JVM
    # OOM-kill) on a plan that runs in ~2 min at 32 threads / 64g — the
    # harness, not the engine, was the 1000x bottleneck (the r8 lesson:
    # at scale the harness joins the suspect list). Explicit env vars
    # always win; the decade only moves the DEFAULTS.
    m = re.search(r"sf(\d+)$", sf_dir)
    decade = int(m.group(1)) if m else 0
    default_cpus = os.cpu_count() or 8 if decade >= 10 else 8
    # Deep-decade STREAMING runs: thread count is a first-class memory
    # knob (BENCH_sf1 sixth decade — s11 at sf300 with 32 threads stacks
    # one resident Arrow-worker peak per core and a Python worker dies;
    # 16 ran clean). When every requested entry is in the streaming lane
    # at decade >= 300, derive the worker count from the memory actually
    # available to Python workers instead of requiring a hand-set
    # SPARK_GRAFT_CPUS. Explicit env still wins.
    if decade >= 300 and names_all_streaming(names, lanes):
        default_cpus = min(default_cpus, streaming_worker_cap())
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or default_cpus
    if decade >= 30 and not os.environ.get("SPARK_DRIVER_MEMORY"):
        # past ~300x a 16g heap cannot hold one stage's execution memory at
        # full thread count. 48g measured sufficient for the heaviest sf100
        # engine phase (d5_cc's 1.27e9-row candidate join, spills cleanly);
        # larger heaps LOWER survival — the JVM keeps its peak RSS while
        # the DuckDB oracle runs, and 64g+40GB oracle+workers already
        # brushed the 125g box (96g heap was OS-OOM-killed outright).
        os.environ["SPARK_DRIVER_MEMORY"] = "48g"
    extra = {}
    if decade >= 30:
        # zstd shuffle/spill compression: the deep decades' array-laden
        # verify exchanges (d9's ~10^8 candidate rows x 0.4 KB docset
        # arrays) are scratch-disk-bound on a single box under lz4; zstd
        # buys ~2x on hash-array payloads for a few % CPU — the standard
        # trade on shuffle-heavy clusters.
        extra["spark.io.compression.codec"] = "zstd"
    if os.environ.get("SPARK_GRAFT_EXTRA_FAULTHANDLER"):
        # deep-decade worker-crash triage: dump the real Python traceback
        # when an Arrow worker dies mid-task
        extra["spark.python.worker.faulthandler.enabled"] = "true"
        extra["spark.sql.execution.pyspark.udf.faulthandler.enabled"] = "true"
    spark = get_spark("check", cpus=cpus, extra_conf=extra)
    con = duck_connect(sf_dir)
    failed = []
    for name in names:
        t0 = time.time()
        timer = None
        if args.entry_timeout:

            def _interrupt():
                try:
                    con.interrupt()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    spark.sparkContext.cancelAllJobs()
                except Exception:  # noqa: BLE001
                    pass

            timer = threading.Timer(args.entry_timeout, _interrupt)
            timer.daemon = True
            timer.start()
        try:
            sdf = qs[name](spark, sf_dir)
            if name in oracles:
                problems = compare(name, sdf, con.sql(oracles[name]))
            else:
                n = sdf.count()
                problems = [] if n >= 0 else ["negative count?"]
                print(f"  (rows-only: {n} rows)")
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        finally:
            if timer is not None:
                timer.cancel()
        # Same discipline as bench.py: queries that persist() multi-consumer
        # intermediates must not accumulate cached blocks across a 264-query
        # session (MEMORY_AND_DISK keeps it correct but taxes later queries).
        spark.catalog.clearCache()
        dt = time.time() - t0
        status = "OK " if not problems else "FAIL"
        print(f"{status} {name} ({dt:.1f}s)", flush=True)
        for p in problems:
            print(f"     {p}")
        if problems:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
