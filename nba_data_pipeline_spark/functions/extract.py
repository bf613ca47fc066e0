"""Scalar extraction/cleaning expression library (SURVEY §2.4 X1-X21).

Each helper returns a pyspark Column built ONLY from built-in JVM-side
functions (regexp_*, when/otherwise, date/time) so the hot path stays inside
whole-stage codegen — these replace the reference's row-at-a-time Python
parsers (nba_props_scraper.py:733-822, nba_insights_scraper.py:350-516,
hardrock_scraper.py:381-451) with vectorized expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- X1: American-odds extraction (nba_props_scraper.py:757) --------------

ODDS_PATTERN = r"[+-]\d{3,4}"


def extract_first_odds(c: Column) -> Column:
    """First odds token → int (null if absent)."""
    return F.nullif(F.regexp_extract(c, ODDS_PATTERN, 0), F.lit("")).try_cast("int")


# --- X2: line/points extraction (nba_props_scraper.py:746-754) ------------


def extract_prop_line(c: Column) -> Column:
    """'O 25.5' / 'U 7' style first, else a standalone half-point number."""
    ou = F.regexp_extract(c, r"[OU]\s*(\d+\.?\d*)", 1)
    half = F.regexp_extract(c, r"(\d+\.5)", 1)
    return F.nullif(F.coalesce(F.nullif(ou, F.lit("")), half), F.lit("")).try_cast("double")


# --- X7: hit-rate percent (nba_insights_scraper.py:467-471) ---------------


def extract_hit_rate_pct(c: Column) -> Column:
    return F.nullif(F.regexp_extract(c, r"(\d{1,3})%", 1), F.lit("")).try_cast("int")


# --- X8: sportsbook detect (nba_insights_scraper.py:481-484) --------------

SPORTSBOOKS = ("fanduel", "draftkings", "betmgm", "caesars", "espn bet",
               "hard rock", "bet365", "underdog")


def detect_sportsbook(c: Column) -> Column:
    lc = F.lower(c)
    expr = F.lit(None).cast("string")
    for book in reversed(SPORTSBOOKS):
        expr = F.when(lc.contains(book), F.lit(book)).otherwise(expr)
    return expr


# --- X9: whitespace normalize (DEFENSEVSPOSTION.PY:155-156) ---------------


def norm_ws(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# --- X10: trailing record-paren strip (DEFENSEVSPOSTION.PY:174-175) -------


def strip_record_paren(c: Column) -> Column:
    return F.regexp_replace(c, r"\s*\([^)]*\)\s*$", "")


# --- X13: filename sanitization (nba_props_scraper.py:862-872) ------------


def sanitize_filename(c: Column, max_len: int = 80) -> Column:
    cleaned = F.regexp_replace(c, r'[<>:"/\\|?*]', "_")
    collapsed = F.regexp_replace(cleaned, r"_+", "_")
    return F.substring(F.regexp_replace(collapsed, r"^_|_$", ""), 1, max_len)


# --- X14: country fixups (Basketball_Refrence_alltables.py:167-170) -------


def fix_country(c: Column) -> Column:
    """Literal 'us US'/'US US' → 'US' fixups + trim, as the reference does."""
    t = F.trim(c)
    return F.when(t.isin("us US", "US US"), F.lit("US")).otherwise(t)


# --- X15/X16: date parse/format/relative ----------------------------------


def format_date_mdY(c: Column) -> Column:
    """pd.to_datetime(...).strftime('%m/%d/%Y') equivalent."""
    return F.date_format(c, "MM/dd/yyyy")


def resolve_relative_date(c: Column) -> Column:
    """'today'/'tomorrow'/ISO string → date (nba_props_scraper.py:94-102)."""
    lc = F.lower(F.trim(c))
    return (
        F.when(lc == "today", F.current_date())
        .when(lc == "tomorrow", F.date_add(F.current_date(), 1))
        .otherwise(F.to_date(c))
    )


# --- X19: MD5 surrogate key (nba_insights_scraper.py:508-510) -------------


def md5_key(*cols: Column | str, length: int = 12) -> Column:
    return F.substring(F.md5(F.concat_ws("_", *cols)), 1, length)


# --- X20: betting-header parse (lineup_scraper.py:71-78) ------------------


def extract_spread(c: Column) -> tuple[Column, Column]:
    fav = F.nullif(F.regexp_extract(c, r"([A-Z]{3}) by (\d+\.?\d*)", 1), F.lit(""))
    spread = F.nullif(
        F.regexp_extract(c, r"([A-Z]{3}) by (\d+\.?\d*)", 2), F.lit("")
    ).try_cast("double")
    return fav, spread


def extract_over_under(c: Column) -> Column:
    return F.nullif(
        F.regexp_extract(c, r"o/u\s*(\d+\.?\d*)", 1), F.lit("")
    ).try_cast("double")


# --- X21: American-odds implied probability (hardrock_scraper.py:497-503) -


def implied_probability(odds: Column) -> Column:
    """±American odds → implied probability in [0,1]."""
    o = odds.cast("double")
    return F.when(o > 0, 100.0 / (o + 100.0)).otherwise(-o / (-o + 100.0))


def vig(over_odds: Column, under_odds: Column) -> Column:
    """Book vig: sum of implied probabilities minus 1."""
    return implied_probability(over_odds) + implied_probability(under_odds) - 1.0


# --- X4: multi-pattern game-time parse (nba_insights_scraper.py:407-417) ---

TIME12_PATTERN = r"(\d{1,2}):(\d{2})\s*(AM|PM)"
MDTIME_PATTERN = r"(\d{1,2})/(\d{1,2})\s+(\d{1,2}):(\d{2})\s*(AM|PM)"
ISO_PATTERN = r"(\d{4})-(\d{2})-(\d{2})[ T](\d{2}):(\d{2})"


def parse_game_time(
    c: Column, anchor_year: int = 2024, anchor_month: int = 6, anchor_day: int = 1
) -> Column:
    """Game-time resolution across the reference's alternative shapes —
    'Today 7:30 PM', '12/25 7:30 PM', ISO '2024-03-05 19:30' — tried in
    order via coalesce. Relative 'Today' resolves against an injected
    anchor date (determinism rule §7.3: never the wall clock). The value is
    built through a canonical 'yyyy-MM-dd HH:mm' string so the parse is
    format-table-free and oracle-reproducible."""
    # One regex execution per pattern (full-match extraction), then one
    # try_to_timestamp per alternative with a lenient format. Keeping each
    # branch a single linear expression matters: repeated sub-references
    # (e.g. element_at(split(m), i) four times) defeat common-subexpression
    # elimination under conditionals and re-run the regex per reference —
    # the first cut of this function cost 250 µs/row that way.
    iso_m = F.nullif(F.regexp_extract(c, ISO_PATTERN, 0), F.lit(""))
    iso = F.try_to_timestamp(
        F.replace(iso_m, F.lit("T"), F.lit(" ")), F.lit("yyyy-MM-dd HH:mm")
    )

    md_m = F.nullif(F.regexp_extract(c, MDTIME_PATTERN, 0), F.lit(""))
    md = F.try_to_timestamp(
        F.concat(F.lit(f"{anchor_year}/"), md_m), F.lit("yyyy/M/d h:mm a")
    )

    t12_m = F.nullif(F.regexp_extract(c, TIME12_PATTERN, 0), F.lit(""))
    today = F.when(
        c.contains("Today"),
        F.try_to_timestamp(
            F.concat(
                F.lit(f"{anchor_year:04d}-{anchor_month:02d}-{anchor_day:02d} "), t12_m
            ),
            F.lit("yyyy-MM-dd h:mm a"),
        ),
    )
    return F.coalesce(iso, md, today)


# --- X5: context-window extraction (nba_insights_scraper.py:420-442) ------


def extract_context_window(c: Column, pattern: str, before: int = 20, after: int = 30) -> Column:
    """±N-char context around the first match of ``pattern``: locate the
    matched text, then substring a window [pos-before, len(match)+before+
    after] clamped to the string start — the reference's perf-pattern
    snippet extraction as two scalar expressions."""
    m = F.nullif(F.regexp_extract(c, pattern, 0), F.lit(""))
    pos = F.instr(c, m)
    start = F.greatest(pos - before, F.lit(1))
    return F.when(
        m.isNotNull(), F.substring(c, start, F.length(m) + before + after)
    )


# --- X6: prop outcome/line/type alternative-shape parse -------------------
#     (nba_insights_scraper.py:445-464)

_SHAPE_OU_FIRST = r"^(Over|Under)\s+(\d+\.?\d*)\s+(\w+)"
_SHAPE_STAT_FIRST = r"^(\w+)\s+(Over|Under)\s+(\d+\.?\d*)"


def parse_prop_outcome(c: Column) -> tuple[Column, Column, Column]:
    """(outcome, prop_line, prop_type) from either '(Over|Under) line stat'
    or 'stat (Over|Under) line' — alternatives tried as a when/otherwise
    chain, unparsed rows yield nulls (reference returns {} on no match)."""
    ou1 = F.nullif(F.regexp_extract(c, _SHAPE_OU_FIRST, 1), F.lit(""))
    ou2 = F.nullif(F.regexp_extract(c, _SHAPE_STAT_FIRST, 2), F.lit(""))
    outcome = F.coalesce(ou1, ou2)
    line = F.when(
        ou1.isNotNull(), F.regexp_extract(c, _SHAPE_OU_FIRST, 2)
    ).otherwise(F.regexp_extract(c, _SHAPE_STAT_FIRST, 3)).try_cast("double")
    ptype = F.lower(
        F.when(ou1.isNotNull(), F.regexp_extract(c, _SHAPE_OU_FIRST, 3)).otherwise(
            F.regexp_extract(c, _SHAPE_STAT_FIRST, 1)
        )
    )
    return outcome, F.when(outcome.isNotNull(), line), F.when(
        outcome.isNotNull(), F.nullif(ptype, F.lit(""))
    )
