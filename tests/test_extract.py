"""Unit tests for the scalar extraction library (SURVEY §2.4) on
reference-shaped strings (FIXTURES.md §7 insight cards, lineup headers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.functions import extract as X


@pytest.fixture(scope="module")
def cards(spark):
    rows = [
        (1, "James Harden has failed to exceed 3.5 three pointers in 8 of his "
            "last 10 games UTA @ LAC Today 10:30 PM -135 Underdog 80%"),
        (2, "O 25.5 Points -110 +250 FanDuel"),
        (3, "CLE vs NYK 7:30 PM CLE by 6.5 o/u 224.5"),
        (4, "no signal here"),
    ]
    return spark.createDataFrame(rows, ["id", "content"])


def _one(df, col, id_):
    return df.filter(F.col("id") == id_).select(col).collect()[0][0]


def test_odds_extraction(cards):
    df = cards.select("id", X.extract_first_odds(F.col("content")).alias("o"))
    assert _one(df, "o", 1) == -135
    assert _one(df, "o", 2) == -110
    assert _one(df, "o", 4) is None


def test_prop_line(cards):
    df = cards.select("id", X.extract_prop_line(F.col("content")).alias("line"))
    assert _one(df, "line", 1) == 3.5
    assert _one(df, "line", 2) == 25.5
    assert _one(df, "line", 4) is None


def test_hit_rate_book_spread(cards):
    df = cards.select(
        "id",
        X.extract_hit_rate_pct(F.col("content")).alias("hr"),
        X.detect_sportsbook(F.col("content")).alias("book"),
        X.extract_over_under(F.col("content")).alias("ou"),
    )
    assert _one(df, "hr", 1) == 80
    assert _one(df, "book", 1) == "underdog"
    assert _one(df, "book", 2) == "fanduel"
    assert _one(df, "ou", 3) == 224.5
    fav, spread = X.extract_spread(F.col("content"))
    df2 = cards.select("id", fav.alias("fav"), spread.alias("sp"))
    assert _one(df2, "fav", 3) == "CLE"
    assert _one(df2, "sp", 3) == 6.5


def test_cleaning_helpers(spark):
    df = spark.createDataFrame(
        [(" Chicago   (14-15) ", "us US", 'a<b>:c/d', "May 5, 1998")],
        ["team", "country", "fname", "bdate"],
    )
    row = df.select(
        X.norm_ws(X.strip_record_paren(F.col("team"))).alias("t"),
        X.fix_country(F.col("country")).alias("c"),
        X.sanitize_filename(F.col("fname")).alias("f"),
        X.format_date_mdY(F.to_date(F.col("bdate"), "MMM d, yyyy")).alias("d"),
    ).collect()[0]
    assert row.t == "Chicago"
    assert row.c == "US"
    assert row.f == "a_b_c_d"
    assert row.d == "05/05/1998"


def test_implied_probability(spark):
    df = spark.createDataFrame([(-110,), (150,)], ["odds"])
    vals = {r.odds: r.p for r in df.select(
        "odds", X.implied_probability(F.col("odds")).alias("p")).collect()}
    assert abs(vals[-110] - 110 / 210) < 1e-12
    assert abs(vals[150] - 100 / 250) < 1e-12


def test_md5_key_stable(spark):
    df = spark.createDataFrame([("LeBron", "LAL")], ["p", "t"])
    k = df.select(X.md5_key(F.col("p"), F.col("t")).alias("k")).collect()[0].k
    import hashlib

    assert k == hashlib.md5(b"LeBron_LAL").hexdigest()[:12]
