"""CSV ingestion seam (SURVEY §2.1 SRC7/SNK5): header CSV with BOM handling
and key/value trimming (ctg_export_league.py:403-431 DictReader semantics),
as native ``spark.read.csv`` options + a trim pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_csv_clean(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV → DataFrame: BOM stripped from the first header, all
    string cells trimmed (the reference trims every key and value)."""
    df = (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        .option("ignoreLeadingWhiteSpace", True)
        .option("ignoreTrailingWhiteSpace", True)
        .csv(path)
    )
    renames = {c: c.lstrip("﻿").strip() for c in df.columns if c.lstrip("﻿").strip() != c}
    if renames:
        df = df.withColumnsRenamed(renames)
    return df.select(
        *[
            F.trim(F.col(c)).alias(c) if t == "string" else F.col(c)
            for c, t in df.dtypes
        ]
    )
