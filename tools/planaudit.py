"""Physical-plan shape gate: build every catalog query's plan and reject
known scale anti-patterns before they can ship.

Rules enforced on the optimized physical plan of every catalog query:

  R1  no ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan means
      a hot path fell off the vectorized Arrow lane (``ArrowEvalPython``,
      ``MapInPandas``, ``FlatMapGroupsInPandas`` are the allowed Python
      touchpoints);
  R2  no ``CartesianProduct`` — an all-pairs join that isn't a broadcast
      nested-loop against a tiny frame is quadratic at 100 TB
      (``BroadcastNestedLoopJoin`` against a 1-row/centroid frame is fine
      and is what a hinted small cross-join compiles to);
  R3  every parquet scan must prune columns: a scan whose ``ReadSchema``
      carries every column of a wide table when the query uses a few is a
      wasted-IO flag (enforced as: no scan of ``lineitem``/``orders``
      reads all 16/9 columns);
  R4  no UNPARTITIONED window — ``Window.orderBy(...)`` with an empty
      partition spec moves the whole input to ONE task (WindowExec logs
      "No Partition Defined"). Data-grain total orders must go through
      ``operators/totalorder.total_order`` (range-partitioned two-pass);
      frames bounded by construction must declare it via
      ``operators/totalorder.bounded_window`` (constant-keyed spec, same
      physical execution, visible to this audit). A bare empty spec is
      always a bug.
  R5  no trivially-true join condition — ``df1["k"] == df2["k"]`` where
      both columns share lineage (df2 derived from df1) makes Spark log
      ``WARN Column: Constructing trivially true equals predicate`` and
      rely on self-join disambiguation to guess the intent; the analyzed
      plan comes out correct TODAY, but the predicate as written is
      `k == k` and one refactor away from a silent cross product. The
      artifact never reaches the plan string (disambiguation rewrites the
      expr IDs), so this rule taps fd 2 — where log4j's console appender
      writes — during query construction and fails any query whose build
      emits that WARN. Fix sites by aliasing one side's key before the
      join (see plans/timeseries_plans.py ts6).

Streaming queries (s1/s2/s3/s7) execute a stream when built, and their final
DataFrame is a drained in-memory table — both pointless to lint — so they
are skipped by name.

Usage:
    python tools/planaudit.py [name ...]    # default: all catalog queries
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nba_data_pipeline_spark.plans.registry import load_all
from nba_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: Queries whose build executes a streaming drain; plan lint is meaningless
#: on the post-hoc memory-sink table they return. Same rationale for the
#: sink/source round-trips: their build lands fixture files driver-side and
#: snk7's returned frame is a locally re-created workbook read, so R1-R3
#: over that plan would lint the re-read scaffolding, not the distributed
#: aggregate under test (which d3/a4-style queries already cover).
SKIP = {
    "s1_stream_ingest_counts",
    "s2_stream_arrival_dedupe",
    "s3_stability_tracker",
    "s7_stream_static_join",
    "s8_stream_stream_join",
    "s9_foreach_batch_upsert",
    "s13_stream_outer_join",
    "snk9_stream_file_sink",
    "snk10_dynamic_partition_overwrite",
    "snk7_xlsx_roundtrip",
    "src_csv_roundtrip",
}

FULL_WIDTH = {"lineitem": 16, "orders": 9}

#: The log4j message R5 hunts. Emitted by org.apache.spark.sql.Column at
#: Column construction time (i.e. while the query builder runs), never
#: visible in any explain output.
R5_MARKER = "Constructing trivially true equals predicate"


class StderrTap:
    """Capture everything written to fd 2 (including the JVM's log4j
    console appender) while still forwarding it to the original stderr.

    MUST be installed BEFORE the SparkSession (JVM) launches: the JVM is a
    child process that inherits fd 2 at spawn time, so a dup2 performed
    afterwards only redirects the Python side. ``drain()`` returns text
    appended since the previous drain and echoes it to the real stderr so
    console behavior is unchanged."""

    def __init__(self) -> None:
        import tempfile

        self._orig_fd = os.dup(2)
        self._buf = tempfile.TemporaryFile(mode="w+b")
        os.dup2(self._buf.fileno(), 2)
        self._pos = 0

    def drain(self) -> str:
        self._buf.seek(0, os.SEEK_END)
        end = self._buf.tell()
        self._buf.seek(self._pos)
        chunk = self._buf.read(end - self._pos)
        self._pos = end
        if chunk:
            os.write(self._orig_fd, chunk)
        return chunk.decode("utf-8", errors="replace")

    def close(self) -> None:
        self.drain()
        os.dup2(self._orig_fd, 2)
        os.close(self._orig_fd)
        self._buf.close()


def unpartitioned_window_specs(plan: str) -> list[str]:
    """Return every ``windowspecdefinition(...)`` in ``plan`` whose
    partition spec is empty (first top-level argument is a sort entry or
    the frame itself). Used by R4 and by tests/test_totalorder.py."""
    bad: list[str] = []
    marker = "windowspecdefinition("
    pos = 0
    while True:
        i = plan.find(marker, pos)
        if i < 0:
            return bad
        j = i + len(marker)
        depth = 0
        first_arg = []
        while j < len(plan):
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            first_arg.append(ch)
            j += 1
        arg = "".join(first_arg).strip()
        if arg.startswith("specifiedwindowframe") or " ASC NULL" in arg or " DESC NULL" in arg:
            bad.append(plan[i : j + 40].split("\n")[0])
        pos = j


def plan_string(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    )


def audit_one(name: str, df) -> list[str]:
    problems: list[str] = []
    plan = plan_string(df)

    # BatchEvalPythonUDTF is excluded deliberately: plain (non-Arrow) UDTFs
    # are the measured-faster lane in pyspark 4.1.2 (Arrow-optimized UDTFs
    # benched ~15x slower), and the UDTF row volume here is bounded by the
    # upstream parse fan-out, not the corpus.
    if re.search(r"BatchEvalPython(?!UDTF)", plan):
        problems.append("R1: row-at-a-time Python UDF (BatchEvalPython) in plan")
    if "CartesianProduct" in plan:
        problems.append("R2: CartesianProduct join in plan")
    for spec in unpartitioned_window_specs(plan):
        problems.append(f"R4: unpartitioned window in plan: {spec[:90]}")

    for m in re.finditer(r"FileScan parquet \[(?P<cols>[^\]]*)\][^\n]*?(?P<tbl>\w+)\.parquet", plan):
        tbl = m.group("tbl")
        if tbl in FULL_WIDTH:
            ncols = len([c for c in m.group("cols").split(",") if c.strip()])
            if ncols >= FULL_WIDTH[tbl]:
                problems.append(
                    f"R3: scan of {tbl} reads all {ncols} columns (no pruning)"
                )
    return problems


def main(argv: list[str]) -> int:
    tap = StderrTap()  # before get_spark: the JVM inherits fd 2 at spawn
    spark = get_spark("planaudit")
    specs = load_all()
    names = argv or [n for n in specs if n not in SKIP]
    bad = 0
    for name in names:
        if name in SKIP:
            print(f"skip {name} (streaming drain)")
            continue
        try:
            tap.drain()  # discard noise from the previous query's run
            df = specs[name].fn(spark, SF_DIR)
            build_log = tap.drain()
            problems = audit_one(name, df)
            if R5_MARKER in build_log:
                problems.append(
                    "R5: trivially-true join condition constructed during "
                    "build (alias one side's key)"
                )
        except Exception as e:  # noqa: BLE001
            problems = [f"build failed: {e}"]
        if problems:
            bad += 1
            print(f"FAIL {name}")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name}")
    tap.close()
    total = len([n for n in names if n not in SKIP])
    print(f"\n{total - bad}/{total} plan-clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
