"""HTML-table ingestion seam (SURVEY §2.1 SRC1-SRC3, §2.12 UD5).

The reference's densest source: pick the best visible <table> from a page,
including tables hidden inside HTML comments
(Cleaning_Glass_#1.py:382-428; Basketball_Refrence_alltables.py:226-234).
Implemented dependency-free on stdlib html.parser. The distributed paths
over a corpus of landed pages are :func:`html_corpus_cascade` (a
``mapInPandas`` over (url, html) rows — each Arrow batch parses locally,
no driver round-trip) and the ``htmltable`` data source
(``sources/html_datasource.py``), which reads landed files per partition.

Ingestion adapters (browser automation, retries) stay outside the engine
(SURVEY §7.4) — input here is landed HTML text.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

from pyspark.sql import DataFrame

_COMMENT_RE = re.compile(r"<!--(.*?)-->", re.DOTALL)


class _TableParser(HTMLParser):
    """Collect every <table> as (headers, rows) of cell text; the table
    tag's attributes are kept in a parallel ``attrs`` list so selector-based
    table picking (SRC6) can match on id/class."""

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[tuple[list[str], list[list[str]]]] = []
        self.attrs: list[dict[str, str]] = []
        self._rows: list[list[str]] | None = None
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._header_cells = 0
        self._cur_attrs: dict[str, str] = {}

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "table":
            self._rows = []
            self._header_cells = 0
            self._cur_attrs = {k: (v or "") for k, v in attrs}
        elif tag == "tr" and self._rows is not None:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []
            if tag == "th":
                self._header_cells += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None
        elif tag == "tr" and self._row is not None and self._rows is not None:
            if self._row:
                self._rows.append(self._row)
            self._row = None
        elif tag == "table" and self._rows is not None:
            rows = self._rows
            self._rows = None
            if not rows:
                return
            if self._header_cells:
                headers, body = rows[0], rows[1:]
            else:
                headers = [f"col_{i}" for i in range(len(rows[0]))]
                body = rows
            self.tables.append((headers, body))
            self.attrs.append(self._cur_attrs)

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def parse_html_tables(html: str, include_comments: bool = True) -> list[tuple[list[str], list[list[str]]]]:
    """All tables in a page; SRC2: tables embedded in comments are parsed
    too (Basketball-Reference hides full tables there)."""
    parser = _TableParser()
    parser.feed(html)
    tables = parser.tables
    if include_comments:
        for comment in _COMMENT_RE.findall(html):
            if "<table" in comment:
                inner = _TableParser()
                inner.feed(comment)
                tables.extend(inner.tables)
    return tables


def best_table(tables: list[tuple[list[str], list[list[str]]]]):
    """SRC1's selector-cascade terminal rule: most rows wins
    (Cleaning_Glass_#1.py:405-414)."""
    return max(tables, key=lambda t: len(t[1]), default=None)


def parse_html_tables_with_attrs(
    html: str, include_comments: bool = True
) -> list[tuple[dict[str, str], list[str], list[list[str]]]]:
    """Like ``parse_html_tables`` but each table carries its tag attributes
    (id/class/...) so selectors can address tables the way the reference's
    CSS cascade does. Comment-embedded tables (SRC2) keep their attrs too."""
    parser = _TableParser()
    parser.feed(html)
    out = [(a, h, r) for a, (h, r) in zip(parser.attrs, parser.tables)]
    if include_comments:
        for comment in _COMMENT_RE.findall(html):
            if "<table" in comment:
                inner = _TableParser()
                inner.feed(comment)
                out.extend(
                    (a, h, r) for a, (h, r) in zip(inner.attrs, inner.tables)
                )
    return out


def select_table_cascade(
    html: str, selectors: list[dict]
) -> tuple[list[str], list[list[str]]] | None:
    """SRC6: selector-cascade table scan — try selectors in order, first one
    that matches ≥1 table wins; among its matches the most-rows rule breaks
    ties (the reference tries N CSS selectors against the DOM and takes the
    first non-empty result — hardrock_scraper.py:114-135,
    nba_insights_scraper.py:308-336; here the selectors address landed
    tables instead of a live DOM).

    Selector spec (one or more keys per dict, all must hold):
      ``{"id": "dvp_stats"}``          — exact table id attribute
      ``{"class_contains": "stats"}``  — token of the class attribute
      ``{"header": "Player"}``         — a header cell equals this text
      ``{"min_rows": 10}``             — at least this many body rows
      ``{}``                           — matches anything (terminal fallback)
    """
    tables = parse_html_tables_with_attrs(html)

    def matches(sel: dict, attrs: dict, headers: list[str], rows: list[list[str]]) -> bool:
        if "id" in sel and attrs.get("id") != sel["id"]:
            return False
        if "class_contains" in sel and sel["class_contains"] not in attrs.get("class", "").split():
            return False
        if "header" in sel and sel["header"] not in headers:
            return False
        if "min_rows" in sel and len(rows) < sel["min_rows"]:
            return False
        return True

    for sel in selectors:
        hits = [(h, r) for a, h, r in tables if matches(sel, a, h, r)]
        if hits:
            return best_table(hits)
    return None


def html_corpus_cascade(
    df: DataFrame,
    selectors: list[dict],
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Distributed SRC6: apply the selector cascade to a corpus of landed
    pages — one chosen table per page, exploded to (url, row_idx, headers,
    cells) rows via mapInPandas (Arrow batches, parsing runs executor-side;
    pages whose cascade misses entirely produce no rows, mirroring the
    reference's skip-on-no-match)."""
    import json

    import pandas as pd

    schema = f"{url_col} string, row_idx int, headers string, cells string"

    def parse_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                chosen = select_table_cascade(html, selectors)
                if chosen is None:
                    continue
                headers, rows = chosen
                hdr = json.dumps(headers)
                out.extend(
                    (url, r_idx, hdr, json.dumps(row))
                    for r_idx, row in enumerate(rows)
                )
            yield pd.DataFrame(out, columns=[url_col, "row_idx", "headers", "cells"])

    return df.mapInPandas(parse_batch, schema=schema)
