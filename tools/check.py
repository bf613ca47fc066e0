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

Sizing follows the host, as every tool here does: the Spark session is
``get_spark("check")`` — ``local[$SPARK_GRAFT_CPUS]``, else all cores, and
a driver heap of half of MemTotal (at most 16g) unless
``SPARK_DRIVER_MEMORY`` is set — and the DuckDB oracle gets a quarter of
MemTotal as its memory limit, spilling to a temp dir past it. The header
line prints the master the run got.
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
from nba_data_pipeline_spark.session import get_spark, mem_total_mb

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
    # Bound the oracle's memory and give it a spill dir. The Spark driver
    # heap takes half of MemTotal and DuckDB's own default is 80% of it, so
    # the two engines side by side would exceed the host; a quarter leaves
    # room for the Python workers. Past the limit DuckDB spills (or fails
    # that ONE entry cleanly) instead of the OS killing the JVM mid-sweep.
    total_mb = mem_total_mb()
    if total_mb:
        con.sql(f"SET memory_limit='{total_mb // 4}MiB'")
    tmp = tempfile.mkdtemp(prefix="check_duck_spill_")
    # an aborted run must not strand a spill dir in /tmp: best-effort
    # rmtree at interpreter exit (normal completion leaves the dir empty
    # anyway — DuckDB cleans its own spill files). atexit does NOT run on
    # SIGTERM (how `timeout` kills a runaway entry), so route TERM through
    # sys.exit.
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    import signal

    if threading.current_thread() is threading.main_thread():
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    con.sql(f"SET temp_directory='{tmp}'")
    # A partial tiling (tools/make_sf_scaled.py --tables, e.g. the
    # documents-only sf1 set) holds only some tables: register the ones
    # that exist; an entry that reads a missing one fails with the usual
    # missing-view error instead of blocking the whole connection.
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
    spark = get_spark("check")
    print(
        f"# sf_dir={sf_dir}  entries={len(names)}  "
        f"master={spark.sparkContext.master}",
        flush=True,
    )
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
