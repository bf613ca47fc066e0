"""Source round-trip catalog queries (SURVEY §2.1 SRC1-SRC3/SRC6/SRC7).

The HTML and CSV ingestion seams were previously verified only by unit
tests; these queries put them on the driver's oracle gate. Each query
synthesizes landed input FROM a base table deterministically, pushes it
through the real distributed parser, and re-aggregates — so the DuckDB
oracle (which reads the base table directly) hash-matches iff the parser
reproduced every row and cell bit-for-bit.

Scale posture: in production the HTML/CSV corpus IS the input (landed by
the ingestion adapters, SURVEY §7.4); the synthesis step here exists only
to make the round-trip self-contained. The measured path — parse via
``mapInPandas`` (Arrow batches, executor-side), then hash-aggregate — is
the 100 TB shape: no driver round-trip, parsing parallelism = input
partitions.

Reference parity: table picking incl. comment-embedded tables
(Cleaning_Glass_#1.py:382-428, Basketball_Refrence_alltables.py:226-234),
DictReader BOM/trim semantics (ctg_export_league.py:403-431).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table, session_tmpdir, table_stamp
from nba_data_pipeline_spark.plans.exact import dsum, sql_dsum
from nba_data_pipeline_spark.plans.registry import query
from nba_data_pipeline_spark.sources.csv_source import read_csv_clean
from nba_data_pipeline_spark.sources.html_table import html_corpus_cascade

# ---------------------------------------------------------------------------
# SRC1/SRC2/SRC3/SRC6: HTML corpus → selector cascade → aggregate
# ---------------------------------------------------------------------------

_HTML_PAGE_HEAD = (
    "<html><body>"
    # SRC2: a comment-embedded decoy table — the parser must SEE it (it
    # parses commented tables) and the cascade must REJECT it (wrong id).
    '<!-- <table id="hidden_note"><tr><th>k</th></tr>'
    "<tr><td>decoy</td></tr></table> -->"
    # A visible decoy without the target id: the id selector must skip it.
    '<table id="nav"><tr><td>home</td></tr><tr><td>stats</td></tr></table>'
    # The real table. th-cells mark the header row (SRC1 header detection).
    '<table id="supstats"><tr><th>suppkey</th><th>name</th></tr>'
)


#: (sf_dir, supplier.parquet mtime) pairs already validated — the guard is a
#: driver-side dim-table read, run once per process per data generation.
_HTML_FIXTURE_OK: set[tuple[str, int]] = set()


def _guard_html_fixture(sf_dir: str) -> None:
    """Fail loudly if a data regeneration puts non-normalized whitespace in
    s_name: the HTML cell extractor collapses/strips whitespace, so such a
    value would silently corrupt the round-trip and surface only as an
    opaque oracle hash mismatch (same posture as _land_csv's CSV-safety
    guard)."""
    key = (sf_dir, table_stamp(sf_dir, "supplier"))
    if key in _HTML_FIXTURE_OK:
        return
    import pyarrow.parquet as pq

    names = (
        pq.read_table(os.path.join(sf_dir, "supplier.parquet"), columns=["s_name"])
        .column("s_name")
        .to_pylist()
    )
    bad = [n for n in names if n != " ".join(n.split())]
    if bad:
        raise ValueError(
            "src_html_roundtrip fixture needs whitespace-safe s_name values; "
            f"HTML extraction would collapse e.g. {bad[0]!r}"
        )
    _HTML_FIXTURE_OK.add(key)


@query(
    "src_html_roundtrip",
    oracle="""
SELECT CAST(s_nationkey AS INT) AS nationkey,
       COUNT(*) AS n_suppliers,
       CAST(SUM(s_suppkey) AS BIGINT) AS sum_suppkey,
       MIN(s_name) AS min_name
FROM supplier GROUP BY 1 ORDER BY nationkey
""",
)
def src_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC1-SRC3/SRC6 round-trip: supplier rows → one HTML page per nation
    (with a comment-embedded table and a visible decoy table) → distributed
    selector cascade picks ``id="supstats"`` → cells re-aggregated per
    nation. Hash-matching the base-table oracle proves header detection,
    comment parsing, selector addressing, and cell extraction all survived.

    The page build is a groupBy + ``concat_ws(collect_list(...))`` — pages
    are nation-sized (dim cardinality), so no group outgrows an executor;
    parsing runs in ``mapInPandas`` with no shuffle after the cascade until
    the final hash-aggregate."""
    _guard_html_fixture(sf_dir)
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    # Entity-escape the one free-text cell (& first, then angle brackets):
    # html.parser unescapes char refs on read, so the round-trip preserves
    # the raw value even if a data regeneration introduces markup chars.
    esc_name = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s_name"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    tr = F.concat(
        F.lit("<tr><td>"),
        F.col("s_suppkey").cast("string"),
        F.lit("</td><td>"),
        esc_name,
        F.lit("</td></tr>"),
    )
    pages = (
        sup.withColumn("tr", tr)
        .groupBy("s_nationkey")
        .agg(F.concat_ws("", F.sort_array(F.collect_list("tr"))).alias("body"))
        .select(
            F.concat(
                F.lit("nation://"), F.col("s_nationkey").cast("string")
            ).alias("url"),
            F.concat(
                F.lit(_HTML_PAGE_HEAD), F.col("body"), F.lit("</table></body></html>")
            ).alias("html"),
        )
    )
    parsed = html_corpus_cascade(pages, selectors=[{"id": "supstats"}])
    cells = F.from_json("cells", "array<string>")
    return (
        parsed.select(
            F.regexp_extract("url", r"nation://(\d+)", 1).cast("int").alias("nationkey"),
            cells.getItem(0).cast("bigint").alias("suppkey"),
            cells.getItem(1).alias("name"),
        )
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("suppkey").alias("sum_suppkey"),
            F.min("name").alias("min_name"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# SRC3: landed multi-table pages → htmltable DataSource → table-by-id pick
# + TABLE_NAME_MAP-style rename → aggregate
# ---------------------------------------------------------------------------

#: (sf_dir, supplier.parquet mtime) → landed HTML dir (fixture synthesis,
#: once per process per data generation — same cache posture as _land_csv).
_HTML_BYID_CACHE: dict[tuple[str, int], str] = {}

#: Table-id → friendly-name map, mirroring the reference's TABLE_NAME_MAP
#: (get_basketball_stats_all_teams_Version6.py:55-82): extract only ids in
#: the map, emit them under their friendly names.
_TABLE_NAME_MAP = {"roster": "Roster", "per_poss": "Per_100_Poss"}


def _land_html_by_id(sf_dir: str) -> str:
    """Write one multi-table HTML page per nation: a visible decoy table, a
    comment-embedded decoy, and two id-addressed payload tables
    (id="roster" → supplier names, id="per_poss" → account cents). Driver-
    side fixture synthesis over the bounded dim table; the measured path is
    the distributed htmltable DataSource scan."""
    import html as _html

    cache_key = (sf_dir, table_stamp(sf_dir, "supplier"))
    if cache_key in _HTML_BYID_CACHE:
        return _HTML_BYID_CACHE[cache_key]
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "supplier.parquet"),
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    by_nation: dict[int, list[tuple[int, str, int]]] = {}
    for key, name, nk, bal in zip(
        tbl.column("s_suppkey").to_pylist(),
        tbl.column("s_name").to_pylist(),
        tbl.column("s_nationkey").to_pylist(),
        tbl.column("s_acctbal").to_pylist(),
    ):
        cents = round(float(bal) * 100)
        by_nation.setdefault(int(nk), []).append((int(key), name, int(cents)))
    out_dir = session_tmpdir("src_html_by_id_")
    for nk, rows in by_nation.items():
        rows.sort()
        roster = "".join(
            f"<tr><td>{k}</td><td>{_html.escape(n, quote=False)}</td></tr>"
            for k, n, _ in rows
        )
        poss = "".join(f"<tr><td>{k}</td><td>{c}</td></tr>" for k, _, c in rows)
        page = (
            "<html><body>"
            # comment-embedded decoy: parsed (SRC2) but its id is not in
            # the name map, so the by-id filter must drop it
            '<!-- <table id="hidden_note"><tr><th>k</th></tr>'
            "<tr><td>decoy</td></tr></table> -->"
            # visible decoy without a mapped id
            '<table id="nav"><tr><td>home</td></tr><tr><td>stats</td></tr></table>'
            f'<table id="roster"><tr><th>suppkey</th><th>name</th></tr>{roster}</table>'
            f'<table id="per_poss"><tr><th>suppkey</th><th>cents</th></tr>{poss}</table>'
            "</body></html>"
        )
        with open(
            os.path.join(out_dir, f"nation_{nk}.html"), "w", encoding="utf-8"
        ) as f:
            f.write(page)
    _HTML_BYID_CACHE[cache_key] = out_dir
    return out_dir


@query(
    "src_html_by_id",
    oracle="""
SELECT 'Roster' AS table_name, CAST(s_nationkey AS INT) AS nationkey,
       COUNT(*) AS n_rows,
       CAST(SUM(s_suppkey) AS BIGINT) AS sum_suppkey,
       MIN(s_name) AS min_cell
FROM supplier GROUP BY 2
UNION ALL
SELECT 'Per_100_Poss' AS table_name, CAST(s_nationkey AS INT) AS nationkey,
       COUNT(*) AS n_rows,
       CAST(SUM(s_suppkey) AS BIGINT) AS sum_suppkey,
       MIN(CAST(CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT)
                AS VARCHAR)) AS min_cell
FROM supplier GROUP BY 2
ORDER BY table_name, nationkey
""",
)
def src_html_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC3 round-trip: supplier landed as one multi-table page per nation →
    ``spark.read.format("htmltable")`` (one input partition per file,
    parsing executor-side) → find-table-by-id as a relational filter on the
    scan's table_id column → TABLE_NAME_MAP-style friendly rename → per
    (table, nation) aggregate. Hash-matching the base-table oracle proves
    id addressing picked exactly the mapped tables (not the visible or
    comment-embedded decoys) and that every cell survived.

    Reference parity: find_table_by_id + TABLE_NAME_MAP
    (get_basketball_stats_all_teams_Version6.py:55-82,193-198).

    Scale posture: the by-id pick is a filter over the DataSource scan
    (never a driver-side DOM walk), the rename a broadcast-sized map join;
    a 100k-page corpus fans out one partition per file."""
    from nba_data_pipeline_spark.sources.html_datasource import register

    land_dir = _land_html_by_id(sf_dir)
    register(spark)
    raw = spark.read.format("htmltable").load(land_dir)
    name_map = F.create_map(
        *[F.lit(x) for kv in _TABLE_NAME_MAP.items() for x in kv]
    )
    cells = F.from_json("cells", "array<string>")
    return (
        raw.filter(F.col("table_id").isin(*_TABLE_NAME_MAP))
        .select(
            name_map.getItem(F.col("table_id")).alias("table_name"),
            F.regexp_extract("path", r"nation_(\d+)\.html", 1)
            .cast("int")
            .alias("nationkey"),
            cells.getItem(0).cast("bigint").alias("suppkey"),
            cells.getItem(1).alias("cell"),
        )
        .groupBy("table_name", "nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("suppkey").alias("sum_suppkey"),
            F.min("cell").alias("min_cell"),
        )
        .orderBy("table_name", "nationkey")
    )


# ---------------------------------------------------------------------------
# SRC-ADAPTER: browser tab-walk → readiness wait → atomic landing →
# htmltable scan → aggregate (the first-touch seam, adapters/browser_ingest)
# ---------------------------------------------------------------------------

#: (sf_dir, nation.parquet mtime) → landed HTML dir (same cache posture as
#: _land_csv: fixture synthesis once per process per data generation).
_TABWALK_CACHE: dict[tuple[str, int], str] = {}

_TABWALK_TABS = ("roster", "codes")


def _land_browser_tabwalk(sf_dir: str) -> str:
    """Drive the browser-ingestion adapter end-to-end over a deterministic
    in-process session and land the walked tabs.

    One scripted 'site' page per region with two stat tabs (the reference's
    per-team tab walk, Cleaning_Glass_#1.py:498-676). Each tab's table
    renders PROGRESSIVELY (a partial first snapshot, then the full table)
    behind a wrong-header visible decoy and a comment-embedded decoy, so
    the walk only succeeds if the readiness loop
    (DEFENSEVSPOSTION.PY:251-309) skips the decoys and outlasts the
    growth. Pages land atomically via land_pages; the measured Spark path
    starts at the landed files."""
    import pyarrow.parquet as pq

    from nba_data_pipeline_spark.adapters.browser_ingest import (
        ScriptedSession,
        land_pages,
        walk_tabs,
    )

    cache_key = (sf_dir, table_stamp(sf_dir, "nation"))
    if cache_key in _TABWALK_CACHE:
        return _TABWALK_CACHE[cache_key]
    tbl = pq.read_table(
        os.path.join(sf_dir, "nation.parquet"),
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    by_region: dict[int, list[tuple[int, str, int]]] = {}
    for nk, name, rk in zip(
        tbl.column("n_nationkey").to_pylist(),
        tbl.column("n_name").to_pylist(),
        tbl.column("n_regionkey").to_pylist(),
    ):
        by_region.setdefault(int(rk), []).append((int(nk), name, len(name or "")))

    def page(rows_html: str, n_rows: int) -> str:
        return (
            "<html><body>"
            '<!-- <table id="hidden"><tr><th>key</th></tr>'
            "<tr><td>decoy</td></tr></table> -->"
            '<table id="nav"><tr><th>Player</th></tr><tr><td>menu</td></tr></table>'
            f'<table id="main"><tr><th>key</th><th>cell</th></tr>{rows_html}</table>'
            "</body></html>"
        )

    pages: dict[str, list[str]] = {}
    bases: dict[int, str] = {}
    for rk, rows in sorted(by_region.items()):
        rows.sort()
        base = f"https://stats.test/region/{rk}"
        bases[rk] = base
        for tab in _TABWALK_TABS:
            if tab == "roster":
                cells = [(k, n) for k, n, _ in rows]
            else:
                cells = [(k, str(c)) for k, _, c in rows]
            full = "".join(f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in cells)
            part = "".join(
                f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in cells[:1]
            )
            pages[f"{base}#tab-{tab}"] = [page(part, 1), page(full, len(cells))]

    out_dir = session_tmpdir("src_browser_tabwalk_")
    session = ScriptedSession(pages)
    for rk, base in bases.items():
        land_pages(
            (
                (f"region_{rk}_tab_{tab}", html)
                for tab, html in walk_tabs(
                    session,
                    base,
                    _TABWALK_TABS,
                    required_headers=["KEY"],
                    on_missing="raise",
                    clock=session.clock,
                    sleep=session.sleep,
                )
            ),
            out_dir,
        )
    _TABWALK_CACHE[cache_key] = out_dir
    return out_dir


@query(
    "src_browser_tabwalk",
    oracle="""
SELECT 'codes' AS tab, CAST(n_regionkey AS INT) AS regionkey,
       COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
       MIN(CAST(LENGTH(n_name) AS VARCHAR)) AS min_cell
FROM nation GROUP BY 2
UNION ALL
SELECT 'roster' AS tab, CAST(n_regionkey AS INT) AS regionkey,
       COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
       MIN(n_name) AS min_cell
FROM nation GROUP BY 2
ORDER BY tab, regionkey
""",
)
def src_browser_tabwalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch round-trip: browser tab-walk (readiness-waited, decoyed,
    progressively rendered) → atomic landing → ``htmltable`` DataSource scan
    → per-(tab, region) aggregate. Hash-matching the nation base table
    proves the adapter waited out the JS growth, rejected both decoys,
    walked every tab of every page, and landed every cell intact — the
    VERDICT-r5 'missing item 3' seam, now oracle-checked end to end.

    Reference parity: tab walk Cleaning_Glass_#1.py:498-676, readiness
    loop DEFENSEVSPOSTION.PY:251-309, landing contract
    ctg_export_league.py:292-309 (adapters/browser_ingest.py).

    Scale posture: the browser side is per-session driver work by nature
    (a login is a singleton); SCALE lives on the landed side — the scan
    fans out one partition per landed file exactly like src_html_by_id,
    and a fleet of adapter processes can land into the same directory
    because every write is atomic."""
    from nba_data_pipeline_spark.sources.html_datasource import register

    land_dir = _land_browser_tabwalk(sf_dir)
    register(spark)
    raw = spark.read.format("htmltable").load(land_dir)
    cells = F.from_json("cells", "array<string>")
    return (
        raw.filter(F.col("table_id") == "main")
        .select(
            F.regexp_extract("path", r"region_(\d+)_tab_(\w+)\.html", 2).alias(
                "tab"
            ),
            F.regexp_extract("path", r"region_(\d+)_tab_(\w+)\.html", 1)
            .cast("int")
            .alias("regionkey"),
            cells.getItem(0).cast("bigint").alias("key"),
            cells.getItem(1).alias("cell"),
        )
        .groupBy("tab", "regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("key").alias("sum_key"),
            F.min("cell").alias("min_cell"),
        )
        .orderBy("tab", "regionkey")
    )


# ---------------------------------------------------------------------------
# SRC7: landed header-CSV with BOM + untrimmed cells → clean read → aggregate
# ---------------------------------------------------------------------------

#: (sf_dir, customer.parquet mtime) → landed CSV dir (land once per process
#: per data generation; the landing is fixture synthesis, not part of the
#: measured read path — the mtime key keeps an in-process regeneration of
#: the test data from serving stale landed files).
_CSV_CACHE: dict[tuple[str, int], str] = {}

_CSV_FILES = 4


def _land_csv(sf_dir: str) -> str:
    """Write customer as messy header-CSV the way the reference receives it:
    UTF-8 BOM on the header, padding blanks around header names and cells.
    Driver-side file synthesis (pyarrow, no Spark job) — bounded dim table,
    same posture as the streaming plans' file-landing fixture."""
    cache_key = (sf_dir, table_stamp(sf_dir, "customer"))
    if cache_key in _CSV_CACHE:
        return _CSV_CACHE[cache_key]
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"),
        columns=["c_custkey", "c_name", "c_mktsegment"],
    )
    rows = list(
        zip(
            tbl.column("c_custkey").to_pylist(),
            tbl.column("c_name").to_pylist(),
            tbl.column("c_mktsegment").to_pylist(),
        )
    )
    out_dir = session_tmpdir("src_csv_roundtrip_")
    header = "﻿c_custkey, c_name ,c_mktsegment\n"
    for i in range(_CSV_FILES):
        with open(os.path.join(out_dir, f"part-{i}.csv"), "w", encoding="utf-8") as f:
            f.write(header)
            for key, name, seg in rows[i::_CSV_FILES]:
                # Fail loudly if a data regeneration ever makes the cells
                # CSV-unsafe — a corrupted parse would otherwise surface as
                # an opaque oracle hash mismatch downstream.
                if any("," in v or "\n" in v or '"' in v for v in (name, seg)):
                    raise ValueError(
                        f"fixture cell needs CSV quoting: {name!r}, {seg!r}"
                    )
                f.write(f"{key},  {name}  , {seg}\n")
    _CSV_CACHE[cache_key] = out_dir
    return out_dir


@query(
    "src_csv_roundtrip",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
       MIN(c_name) AS min_name
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC7 round-trip: customer landed as BOM'd, whitespace-padded header
    CSV → ``read_csv_clean`` (BOM strip, header + cell trim) → per-segment
    aggregate. Hash-matching the parquet-side oracle proves the DictReader
    semantics (ctg_export_league.py:403-431) reproduce every key and cell.

    The read is a plain distributed ``spark.read.csv`` over N files (N
    tasks); only the fixture landing is driver-side."""
    land_dir = _land_csv(sf_dir)
    df = read_csv_clean(spark, land_dir)
    return (
        df.select(
            F.col("c_custkey").cast("bigint").alias("custkey"),
            "c_name",
            "c_mktsegment",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("custkey").alias("sum_custkey"),
            F.min("c_name").alias("min_name"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# SRC4: raw HTTP GET → body parse → aggregate
# ---------------------------------------------------------------------------

#: (sf_dir, nation.parquet mtime) → landed per-region CSV dir.
_HTTP_CACHE: dict[tuple[str, int], str] = {}


def _land_region_csvs(sf_dir: str) -> str:
    """Land nation as one CSV file per region — the 'one URL per page'
    layout the reference fetches (lineup_scraper.py). Driver-side fixture
    synthesis over a dim table, same posture as _land_csv."""
    cache_key = (sf_dir, table_stamp(sf_dir, "nation"))
    if cache_key in _HTTP_CACHE:
        return _HTTP_CACHE[cache_key]
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "nation.parquet"),
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    rows = sorted(
        zip(
            tbl.column("n_nationkey").to_pylist(),
            tbl.column("n_name").to_pylist(),
            tbl.column("n_regionkey").to_pylist(),
        )
    )
    out_dir = session_tmpdir("src_http_")
    by_region: dict[int, list] = {}
    for key, name, rk in rows:
        if "," in name or "\n" in name:
            raise ValueError(f"fixture cell needs CSV quoting: {name!r}")
        by_region.setdefault(rk, []).append((key, name))
    for rk, members in by_region.items():
        with open(os.path.join(out_dir, f"region_{rk}.csv"), "w") as f:
            f.write("n_nationkey,n_name\n")
            for key, name in members:
                f.write(f"{key},{name}\n")
    _HTTP_CACHE[cache_key] = out_dir
    return out_dir


@query(
    "src_http_get",
    oracle="""
SELECT CAST(n_regionkey AS INT) AS regionkey,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS sum_nationkey,
       MIN(n_name) AS min_name
FROM nation GROUP BY 1 ORDER BY regionkey
""",
)
def src_http_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC4 round-trip: the reference's raw ``requests.get`` adapter
    (lineup_scraper.py:14-27) as a distributed fetch — nation lands as one
    CSV per region, a URL table addresses each file, executors GET the
    bodies through ``http_get_corpus`` (stdlib urllib via ``file://`` here;
    the transport is scheme-agnostic, the pytest exercises a live
    ``http://`` server), and the body text is parsed back to rows with
    native split/explode expressions. Hash-matching the base-table oracle
    proves fetch + parse lost nothing.

    Scale shape: fetch parallelism = URL partitions (politeness unit is
    the task); parse is explode + regexp on the body column, no UDF; the
    aggregate is dim-sized. A dead URL degrades to a status<0 row, never
    a task failure."""
    from nba_data_pipeline_spark.sources.http_source import http_get_corpus

    land = _land_region_csvs(sf_dir)
    files = sorted(os.listdir(land))
    urls = spark.createDataFrame(
        [(f"file://{land}/{name}",) for name in files], "url string"
    ).repartition(len(files))
    fetched = http_get_corpus(urls)
    lines = fetched.filter(F.col("status") == 200).select(
        F.regexp_extract("url", r"region_(\d+)\.csv", 1).cast("int").alias("regionkey"),
        F.explode(F.split(F.col("body"), "\n")).alias("line"),
    )
    parsed = lines.filter(
        (F.col("line") != "") & (F.col("line") != "n_nationkey,n_name")
    ).select(
        "regionkey",
        F.split("line", ",").getItem(0).cast("bigint").alias("nationkey"),
        F.split("line", ",").getItem(1).alias("name"),
    )
    return (
        parsed.groupBy("regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("nationkey").alias("sum_nationkey"),
            F.min("name").alias("min_name"),
        )
        .orderBy("regionkey")
    )

# ---------------------------------------------------------------------------
# SRC-XML: native XML write → distributed XML scan → aggregate
# ---------------------------------------------------------------------------

#: (sf_dir, part.parquet mtime) → landed XML dir (land once per process per
#: data generation, same cache posture as _land_csv).
_XML_CACHE: dict[tuple[str, int], str] = {}


def _land_xml(spark: SparkSession, sf_dir: str) -> str:
    """Land ``part`` as an XML corpus via the DISTRIBUTED writer
    (``df.write.format("xml")``, built into Spark 4) — unlike the CSV/HTML
    fixtures there is no driver-side synthesis at all: both halves of the
    round-trip are executor-parallel jobs. The guard fails loudly if a data
    regeneration pads a text value with surrounding whitespace, which the
    XML reader's ignoreSurroundingSpaces default would silently strip (the
    advisor-mandated posture of _land_csv/_guard_html_fixture)."""
    cache_key = (sf_dir, table_stamp(sf_dir, "part"))
    if cache_key in _XML_CACHE:
        return _XML_CACHE[cache_key]
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    bad = p.filter(
        (F.col("p_name") != F.trim("p_name")) | (F.col("p_brand") != F.trim("p_brand"))
    ).count()
    if bad:
        raise ValueError(
            "src_xml_roundtrip fixture needs whitespace-safe p_name/p_brand; "
            f"XML surrounding-space trimming would corrupt {bad} rows"
        )
    out = os.path.join(session_tmpdir("src_xml_"), "part_xml")
    p.repartition(8).write.mode("overwrite").format("xml").option(
        "rowTag", "part"
    ).save(out)
    _XML_CACHE[cache_key] = out
    return out


@query(
    "src_xml_roundtrip",
    oracle=f"""
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(p_partkey) AS BIGINT) AS sum_partkey,
       CAST(SUM(p_size) AS BIGINT) AS sum_size,
       {sql_dsum("p_retailprice")} AS sum_price,
       MIN(p_name) AS min_name
FROM part GROUP BY p_brand ORDER BY p_brand
""",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-XML round-trip: ``part`` → Spark 4's native XML datasource
    (write with rowTag, read back with schema inference over entity-escaped
    element text) → per-brand aggregate. Hash-matching the parquet-side
    oracle proves the writer's entity escaping, the reader's type inference
    (long/double from element text), and Java's shortest-round-trip double
    formatting lost nothing. The reference ingests markup tables by
    scraping (Basketball_Refrence_alltables.py); XML is the same
    semi-structured-markup family as a first-class datasource.

    Scale shape: both directions are distributed (8 writer tasks here; at
    100 TB parallelism = partitions), the scan carries only the five
    projected elements, and the aggregate is map-side partial on p_brand.
    The money sum uses the decimal discipline (plans/exact.py)."""
    path = _land_xml(spark, sf_dir)
    df = spark.read.format("xml").option("rowTag", "part").load(path)
    return (
        df.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_partkey").cast("bigint").alias("sum_partkey"),
            F.sum("p_size").cast("bigint").alias("sum_size"),
            dsum("p_retailprice").alias("sum_price"),
            F.min("p_name").alias("min_name"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# SRC-VARIANT: schema-on-read JSON querying via Spark 4's VARIANT type
# ---------------------------------------------------------------------------


@query(
    "src_json_variant",
    oracle=f"""
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       {sql_dsum("o_totalprice")} AS sum_price,
       CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT) AS n_big,
       CAST(0 AS BIGINT) AS n_miss
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def src_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON via the VARIANT type (Spark 4): orders are
    serialized to nested JSON documents (object + sub-object + array —
    the shape the reference's scrapers land, nba_props_scraper.py:824-860),
    parsed back with ``parse_json`` into VARIANT, and queried with typed
    path extraction — ``variant_get`` on a nested field, an array index,
    and ``try_variant_get`` on a missing path (must yield NULL, counted to
    prove it). Hash-matching the relational oracle proves the binary
    VARIANT encoding round-trips every key, string, and double exactly.

    Scale shape: VARIANT is the open-format answer to semi-structured
    columns — the parse and path extraction are JVM-native expressions
    inside whole-stage codegen (no Python, no UDF), shredding stays
    columnar, and the aggregate is map-side partial. At 100 TB the JSON
    column arrives from the lake as-is; only this query's synthesis step
    (to_json) is fixture plumbing."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("meta"),
            F.array(F.col("o_totalprice")).alias("amounts"),
        )
    )
    v = o.withColumn("doc", doc).selectExpr("parse_json(doc) AS v")
    flat = v.selectExpr(
        "variant_get(v, '$.id', 'bigint') AS id",
        "variant_get(v, '$.meta.status', 'string') AS status",
        "variant_get(v, '$.meta.priority', 'string') AS priority",
        "variant_get(v, '$.amounts[0]', 'double') AS amount",
        "try_variant_get(v, '$.meta.absent', 'int') AS miss",
    )
    return (
        flat.groupBy("status", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("id").cast("bigint").alias("sum_orderkey"),
            dsum("amount").alias("sum_price"),
            F.count(F.when(F.col("amount") > 100000, 1)).cast("bigint").alias("n_big"),
            F.count("miss").cast("bigint").alias("n_miss"),
        )
        .orderBy("status", "priority")
    )


# ---------------------------------------------------------------------------
# SRC-ORC: columnar ORC round-trip with predicate pushdown
# ---------------------------------------------------------------------------

_ORC_CACHE: dict[tuple[str, int], str] = {}


def _land_orc(spark: SparkSession, sf_dir: str) -> str:
    """Land lineitem as ORC via the distributed writer — the other
    columnar lake format (Hive-ecosystem tables a Spark engine must read
    in place rather than convert)."""
    cache_key = (sf_dir, table_stamp(sf_dir, "lineitem"))
    if cache_key in _ORC_CACHE:
        return _ORC_CACHE[cache_key]
    out = os.path.join(session_tmpdir("src_orc_"), "lineitem_orc")
    (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag", "l_extendedprice")
        .repartition(8)
        .write.mode("overwrite")
        .orc(out)
    )
    _ORC_CACHE[cache_key] = out
    return out


@query(
    "src_orc_roundtrip",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
       {sql_dsum("l_quantity")} AS sum_qty,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-ORC round-trip: lineitem → distributed ORC write → ORC scan
    with a pushed predicate → per-flag aggregate. Hash-matching the
    parquet-side oracle proves the second columnar format round-trips
    keys, doubles, and strings exactly; the pytest asserts the
    l_quantity filter reaches the ORC reader as a search argument
    (PushedFilters), so row groups outside the predicate never
    decompress — same scan-pruning contract the engine already pins for
    parquet. Both landing and read are executor-parallel."""
    path = _land_orc(spark, sf_dir)
    df = spark.read.orc(path).where(F.col("l_quantity") > 10)
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_orderkey").cast("bigint").alias("sum_orderkey"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# SRC-EVO: parquet schema evolution (mergeSchema read over drifted landings)
# ---------------------------------------------------------------------------

_EVO_CACHE: dict[tuple[str, int], str] = {}


def _land_evolved(spark: SparkSession, sf_dir: str) -> str:
    """Two landing generations of the same feed: v1 files carry
    (o_orderkey, o_orderstatus, o_totalprice); v2 files add
    o_orderpriority — the additive schema drift every long-lived landed
    dataset accumulates. Split by orderkey parity so both generations are
    fact-sized and interleaved."""
    cache_key = (sf_dir, table_stamp(sf_dir, "orders"))
    if cache_key in _EVO_CACHE:
        return _EVO_CACHE[cache_key]
    root = session_tmpdir("src_evo_")
    o = read_table(spark, sf_dir, "orders")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=v1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=v2"))
    )
    _EVO_CACHE[cache_key] = root
    return root


@query(
    "src_schema_evolution",
    oracle=f"""
SELECT o_orderstatus,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE '(pre-schema)' END
         AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum("o_totalprice")} AS sum_price
FROM orders
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-EVO: schema-evolution read — the landed dataset has two file
    generations (v2 added o_orderpriority), and ``mergeSchema=true``
    unions the footers into one superset schema with NULLs where v1 files
    lack the column; the query coalesces them to a '(pre-schema)' bucket
    and aggregates. Hash-matching the oracle (which reconstructs the
    drift from the base table) proves no row, column, or value is lost
    across the boundary — the additive-drift contract (SURVEY §2 N-family
    is the reference's per-scrape schema repair; this is the lake-level
    equivalent).

    Scale note: mergeSchema reads every footer at planning time — fine
    per landing generation, wrong as a steady state; production promotes
    the merged schema into the table catalog (the read here pins the
    semantics either way)."""
    root = _land_evolved(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        df.groupBy(
            "o_orderstatus",
            F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderstatus", "priority")
    )


# ---------------------------------------------------------------------------
# SRC-PERM: permissive CSV read with corrupt-record quarantine
# ---------------------------------------------------------------------------

_PERM_CACHE: dict[tuple[str, int], str] = {}


def _land_dirty_csv(sf_dir: str) -> str:
    """Land supplier as CSV with every 7th data line deliberately mangled
    (wrong arity / non-numeric key) — the malformed-feed reality the
    reference's scrapers hit on layout drift. Driver-side dim-table
    synthesis, same posture as _land_csv."""
    cache_key = (sf_dir, table_stamp(sf_dir, "supplier"))
    if cache_key in _PERM_CACHE:
        return _PERM_CACHE[cache_key]
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "supplier.parquet"),
        columns=["s_suppkey", "s_name", "s_nationkey"],
    )
    out_dir = session_tmpdir("src_perm_")
    with open(os.path.join(out_dir, "feed.csv"), "w") as f:
        f.write("s_suppkey,s_name,s_nationkey\n")
        rows = zip(
            tbl.column("s_suppkey").to_pylist(),
            tbl.column("s_name").to_pylist(),
            tbl.column("s_nationkey").to_pylist(),
        )
        for key, name, nk in rows:
            if "," in name or "\n" in name:
                raise ValueError(f"fixture cell needs CSV quoting: {name!r}")
            if key % 7 == 0:
                f.write(f"OOPS-{key},{name}\n")  # bad key AND missing column
            else:
                f.write(f"{key},{name},{nk}\n")
    _PERM_CACHE[cache_key] = out_dir
    return out_dir


@query(
    "src_csv_corrupt_records",
    oracle="""
SELECT CAST(s_nationkey AS INT) AS nationkey,
       CAST(COUNT(*) FILTER (WHERE s_suppkey % 7 <> 0) AS BIGINT) AS n_good,
       CAST(SUM(s_suppkey) FILTER (WHERE s_suppkey % 7 <> 0) AS BIGINT)
         AS sum_suppkey,
       CAST(COUNT(*) FILTER (WHERE s_suppkey % 7 = 0) AS BIGINT) AS n_quarantined
FROM supplier
GROUP BY 1
HAVING COUNT(*) FILTER (WHERE s_suppkey % 7 <> 0) > 0
    OR COUNT(*) FILTER (WHERE s_suppkey % 7 = 0) > 0
ORDER BY nationkey
""",
)
def src_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-PERM: PERMISSIVE CSV ingestion with corrupt-record quarantine —
    every 7th feed line is mangled (non-numeric key, missing column); the
    read must neither fail the job (FAILFAST) nor silently drop the lines
    (DROPMALFORMED), but park them in ``_corrupt_record`` for the
    quarantine flow every production feed needs. Good rows aggregate per
    nation; quarantined rows are counted via the ORIGINAL key regexed out
    of the raw line — proving the corrupt column preserves the full
    source text for repair. The oracle reconstructs both populations from
    the base table's parity rule.

    Scale: PERMISSIVE parsing is per-task streaming (no global failure
    coupling); the quarantine count rides the same aggregate. The
    explicit schema (required for _corrupt_record) also skips the
    inference pass."""
    land = _land_dirty_csv(sf_dir)
    df = spark.read.csv(
        land,
        header=True,
        mode="PERMISSIVE",
        schema="s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, _corrupt_record STRING",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    # Corrupt rows: key mined back out of the preserved raw line; their
    # nation comes from a broadcast repair join against the good dim.
    df = df.cache()  # _corrupt_record contract: query corrupt + data cols together
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.regexp_extract("_corrupt_record", r"OOPS-(\d+)", 1)
        .cast("bigint")
        .alias("orig_key")
    )
    good = df.filter(F.col("_corrupt_record").isNull()).select(
        "s_suppkey", "s_nationkey"
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("orig_key"), F.col("s_nationkey").alias("nk")
    )
    quarantined = bad.join(F.broadcast(sup), "orig_key").groupBy(
        F.col("nk").alias("nationkey")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_quarantined"))
    good_agg = good.groupBy(F.col("s_nationkey").cast("int").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.sum("s_suppkey").cast("bigint").alias("sum_suppkey"),
    )
    return (
        good_agg.join(
            quarantined.select(F.col("nationkey").cast("int").alias("nationkey"), "n_quarantined"),
            "nationkey",
            "full",
        )
        .select(
            "nationkey",
            F.coalesce("n_good", F.lit(0)).cast("bigint").alias("n_good"),
            "sum_suppkey",
            F.coalesce("n_quarantined", F.lit(0)).cast("bigint").alias("n_quarantined"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# SRC-BIN: binaryFile scan — the raw-media ingestion source
# ---------------------------------------------------------------------------

_BIN_CACHE: dict[tuple[str, int], str] = {}


def _land_binary(spark: SparkSession, sf_dir: str) -> str:
    """One 64-byte binary blob per document (an md5 chain of doc_id),
    landed EXECUTOR-SIDE via foreachPartition — the fixture stand-in for
    a crawl's raw image/audio payload directory. Cached per (sf_dir,
    mtime) like the other landings so repeated catalog runs reuse it."""
    cache_key = (sf_dir, table_stamp(sf_dir, "documents"))
    if cache_key in _BIN_CACHE:
        return _BIN_CACHE[cache_key]
    root = session_tmpdir("src_bin_")

    def write_part(rows) -> None:
        import hashlib

        for row in rows:
            payload = bytes.fromhex(
                hashlib.md5(str(row.doc_id).encode()).hexdigest() * 4
            )
            with open(os.path.join(root, f"doc_{row.doc_id}.bin"), "wb") as f:
                f.write(payload)

    read_table(spark, sf_dir, "documents").select("doc_id").foreachPartition(
        write_part
    )
    _BIN_CACHE[cache_key] = root
    return root


@query(
    "src_binaryfile_roundtrip",
    oracle="""
SELECT doc_id, CAST(64 AS BIGINT) AS n_bytes, TRUE AS content_ok
FROM documents
ORDER BY doc_id
""",
)
def src_binaryfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-BIN round-trip: raw binary payload directory → Spark's
    ``binaryFile`` source → filename parse + content verification. This
    is the ingestion mouth of the multimodal lane (mm_*): a crawler lands
    opaque image/audio blobs as files; the engine scans them
    distributed (one task per file group), carries bytes as a binary
    column, and never funnels them through the driver.

    content_ok re-derives each blob's expected bytes IN-PLAN from the
    doc_id parsed out of the filename (md5-chain, the same cross-engine
    hash discipline as mm_image_phash) and compares md5(content) against
    it — the oracle predicts (doc_id, 64, TRUE) rows straight from the
    documents table, so a single corrupted/truncated/misnamed file
    hash-fails the gate.

    Scale shape: binaryFile batches small files per task
    (maxPartitionBytes-sized groups) and prunes via pathGlobFilter on a
    SINGLE directory path — a ``load("dir/*.bin")`` glob expands to one
    listing path PER FILE and Spark then runs a one-task-per-path
    distributed listing job (measured 5000 tasks / 6.7 s at sf0.1 vs
    1.0 s for the directory load; at object-store scale that glob is a
    request storm). The verification is a stateless JVM-codegen map
    (regexp + md5 + unhex); the only shuffle is the final presentation
    sort. At 100 TB the same plan reads an object store listing —
    lineage identical."""
    path = _land_binary(spark, sf_dir)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    doc_id = F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long")
    expected = F.unhex(
        F.repeat(F.md5(doc_id.cast("string").cast("binary")), 4)
    )
    return (
        df.select(
            doc_id.alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            (F.md5("content") == F.md5(expected)).alias("content_ok"),
        )
        .orderBy("doc_id")
    )
