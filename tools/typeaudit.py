"""Audit oracle result types against Spark result types, column by column.

The driver's value-hash proved type-sensitive in round 1 (a4: DuckDB
``SUM(bigint)`` returns HUGEINT while Spark returns bigint — identical
values, different hash). ``tools/check.py`` compares canonicalized values
and cannot catch that class, so this tool compares the *declared* result
schema of each oracle (``DESCRIBE <sql>``, never executed) with the Spark
plan's analyzed schema. Exact width match required: int32 vs int64 is a
finding. Usage:

    python tools/typeaudit.py [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from nba_data_pipeline_spark.io import TABLES
from nba_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def canon_duck(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return f"array<{canon_duck(t[:-2])}>"
    m = re.match(r"DECIMAL\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return {
        "VARCHAR": "string",
        "INTEGER": "int",
        "BIGINT": "bigint",
        "HUGEINT": "hugeint",
        "SMALLINT": "smallint",
        "TINYINT": "tinyint",
        "UINTEGER": "uint",
        "UBIGINT": "ubigint",
        "DOUBLE": "double",
        "FLOAT": "float",
        "BOOLEAN": "boolean",
        "DATE": "date",
        "TIMESTAMP": "timestamp",
        "TIMESTAMP WITH TIME ZONE": "timestamptz",
        "BLOB": "binary",
    }.get(t, t.lower())


def canon_spark(t: str) -> str:
    # Spark simpleString is already close to the shared vocabulary.
    return t


def _compatible(s: str, d: str) -> bool:
    """Pairs the driver hash empirically tolerates: a3_count_metadata was
    driver-green in round 1 with Spark timestamp_ntz vs DuckDB TIMESTAMP
    (both are naive datetimes once fetched)."""
    return {s, d} == {"timestamp_ntz", "timestamp"}


def main() -> int:
    want = sys.argv[1:]
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in (want or list(qs)) if n in oracles]
    spark = get_spark("typeaudit")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    bad = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            stypes = {f.name: canon_spark(f.dataType.simpleString()) for f in sdf.schema}
            desc = con.sql(f"DESCRIBE {oracles[name]}").fetchall()
            dtypes = {row[0]: canon_duck(row[1]) for row in desc}
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        problems = []
        if set(stypes) != set(dtypes):
            problems.append(
                f"columns: spark-only={sorted(set(stypes) - set(dtypes))} "
                f"duck-only={sorted(set(dtypes) - set(stypes))}"
            )
        for c in sorted(set(stypes) & set(dtypes)):
            if stypes[c] != dtypes[c] and not _compatible(stypes[c], dtypes[c]):
                problems.append(f"{c}: spark={stypes[c]} duck={dtypes[c]}")
        if problems:
            bad += 1
            print(f"MISMATCH {name}")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(names) - bad}/{len(names)} type-clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
