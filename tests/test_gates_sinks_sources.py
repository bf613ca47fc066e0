"""Completeness gates (S5/A5), partitioned sinks (SNK1), HTML/CSV sources
(SRC1/SRC2/SRC7)."""

from __future__ import annotations

import pytest

from nba_data_pipeline_spark.operators.gates import (
    CompletenessError,
    check_cell_presence,
    check_group_completeness,
    gated_write_parquet,
)
from nba_data_pipeline_spark.sources.csv_source import read_csv_clean
from nba_data_pipeline_spark.sources.html_table import (
    best_table,
    parse_html_tables,
)

HTML = """
<html><body>
<table><tr><th>Team</th><th>PTS</th></tr>
<tr><td>Chicago</td><td>110</td></tr><tr><td>Boston</td><td>98</td></tr></table>
<!-- <table><tr><th>Hidden</th></tr><tr><td>x</td></tr><tr><td>y</td></tr>
<tr><td>z</td></tr></table> -->
</body></html>
"""


def test_parse_html_tables_includes_comments():
    tables = parse_html_tables(HTML)
    assert len(tables) == 2
    headers, rows = best_table(tables)
    assert headers == ["Hidden"]  # 3 rows beats 2
    assert len(rows) == 3


def test_csv_bom_and_trim(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text('﻿Team, Wins\n Chicago , 41\nBoston,50\n', encoding="utf-8")
    df = read_csv_clean(spark, str(p))
    assert df.columns[0] == "Team"
    rows = {r.Team: r.Wins for r in df.collect()}
    assert rows["Chicago"] == "41"


def test_group_completeness_gate(spark):
    ok_df = spark.createDataFrame(
        [(p, t) for p in ("PG", "SG") for t in ("A", "B", "C")], ["position", "team"]
    )
    assert check_group_completeness(ok_df, ["position"], "team", 3).ok
    bad = check_group_completeness(ok_df.filter("team <> 'C' OR position <> 'SG'"),
                                   ["position"], "team", 3)
    assert not bad.ok
    assert bad.failures[0]["position"] == "SG"


def test_cell_presence_gate(spark):
    df = spark.createDataFrame([("PG", "Last 7"), ("SG", "Last 7")], ["pos", "tf"])
    expected = [("PG", "Last 7"), ("SG", "Last 7"), ("C", "Last 7")]
    rep = check_cell_presence(df, ["pos", "tf"], expected)
    assert not rep.ok
    assert {"pos": "C", "tf": "Last 7"} in rep.failures


def test_gated_write_blocks_partial(spark, tmp_path):
    df = spark.createDataFrame(
        [("PG", "A", 1), ("PG", "B", 2), ("SG", "A", 3)], ["position", "team", "v"]
    )
    with pytest.raises(CompletenessError):
        gated_write_parquet(
            df, str(tmp_path / "out"), ["position"], ["position"], "team", 2
        )
    assert not (tmp_path / "out").exists()
    ok = df.union(spark.createDataFrame([("SG", "B", 4)], df.schema))
    gated_write_parquet(ok, str(tmp_path / "out"), ["position"], ["position"], "team", 2)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_html_datasource_format_reader(spark, tmp_path):
    """spark.read.format('htmltable'): one partition per landed file,
    visible + comment-embedded tables parsed executor-side."""
    import json

    from nba_data_pipeline_spark.sources.html_datasource import register

    (tmp_path / "page1.html").write_text(
        "<html><table><tr><th>Team</th><th>PTS</th></tr>"
        "<tr><td>AAA</td><td>12</td></tr><tr><td>BBB</td><td>9</td></tr></table>"
        "<!-- <table><tr><th>Hidden</th></tr><tr><td>x</td></tr></table> -->"
        "</html>"
    )
    (tmp_path / "page2.html").write_text(
        "<html><table><tr><td>only</td><td>cells</td></tr></table></html>"
    )
    register(spark)
    df = spark.read.format("htmltable").load(str(tmp_path))
    rows = df.collect()
    # page1: visible table (2 body rows) + comment table (1 row); page2: 1 row
    assert len(rows) == 4
    by_file = {}
    for r in rows:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)
    p1 = by_file["page1.html"]
    assert {r.table_idx for r in p1} == {0, 1}
    visible = [r for r in p1 if r.table_idx == 0]
    assert json.loads(visible[0].headers) == ["Team", "PTS"]
    assert sorted(json.loads(r.cells)[0] for r in visible) == ["AAA", "BBB"]
    hidden = [r for r in p1 if r.table_idx == 1]
    assert json.loads(hidden[0].headers) == ["Hidden"]
    # headerless table synthesizes col_i names
    p2 = by_file["page2.html"]
    assert json.loads(p2[0].headers) == ["col_0", "col_1"]
    # the reader parallelizes per file: two input partitions
    assert df.rdd.getNumPartitions() == 2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing co-locates join keys at write time: equal bucket counts on
    the join key let the sort-merge join run with NO Exchange on either
    side — the pre-shuffle strategy for repeated 100 TB fact-fact joins."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    for name in ("li_bucketed", "o_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "li"))
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "o"))
        .saveAsTable("o_bucketed")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        # and it computes the right thing
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("li_bucketed", "o_bucketed"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


CASCADE_HTML = """
<html><body>
<table class="nav tiny"><tr><th>Nav</th></tr><tr><td>home</td></tr></table>
<table id="dvp_stats" class="stats wide"><tr><th>Player</th><th>PTS</th></tr>
<tr><td>A</td><td>10</td></tr><tr><td>B</td><td>12</td></tr></table>
<!-- <table id="hidden_stats"><tr><th>Player</th><th>AST</th></tr>
<tr><td>C</td><td>7</td></tr></table> -->
</body></html>
"""


def test_selector_cascade_first_match_wins():
    from nba_data_pipeline_spark.sources.html_table import select_table_cascade

    # id selector hits the stats table, not the earlier nav table
    headers, rows = select_table_cascade(CASCADE_HTML, [{"id": "dvp_stats"}])
    assert headers == ["Player", "PTS"] and len(rows) == 2
    # first selector misses -> cascade falls through to class match
    headers, rows = select_table_cascade(
        CASCADE_HTML, [{"id": "nope"}, {"class_contains": "stats"}]
    )
    assert headers == ["Player", "PTS"]
    # comment-embedded table addressable by id (SRC2 x SRC6)
    headers, _rows = select_table_cascade(CASCADE_HTML, [{"id": "hidden_stats"}])
    assert headers == ["Player", "AST"]
    # header + min_rows selectors; {} terminal picks max-rows table
    assert select_table_cascade(CASCADE_HTML, [{"header": "Nav"}])[0] == ["Nav"]
    assert select_table_cascade(CASCADE_HTML, [{"min_rows": 99}]) is None
    assert select_table_cascade(CASCADE_HTML, [{"min_rows": 99}, {}])[0] == [
        "Player",
        "PTS",
    ]


def test_html_corpus_cascade_distributed(spark):
    from nba_data_pipeline_spark.sources.html_table import html_corpus_cascade

    corpus = spark.createDataFrame(
        [("u1", CASCADE_HTML), ("u2", "<p>no tables here</p>")], ["url", "html"]
    )
    out = html_corpus_cascade(
        corpus, [{"id": "nope"}, {"class_contains": "stats"}]
    ).collect()
    assert {r.url for r in out} == {"u1"} and len(out) == 2


def test_xlsx_workbook_sink(spark, tmp_path):
    """SNK7: combined workbook, one sheet per table; verify the container by
    re-parsing the zip's XML (no Excel lib in the sandbox)."""
    import zipfile
    from xml.etree import ElementTree as ET

    from nba_data_pipeline_spark.sources.xlsx_sink import write_xlsx

    teams = spark.createDataFrame(
        [("Chicago", 110, 0.5, True), ("Boston", None, 0.25, False)],
        ["team", "pts", "rate", "won"],
    )
    totals = spark.createDataFrame([(2,)], ["n_teams"])
    path = str(tmp_path / "stats.xlsx")
    counts = write_xlsx({"teams": teams, "totals": totals}, path)
    assert counts == {"teams": 2, "totals": 1}

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        assert [s.get("name") for s in wb.iter(f"{ns}sheet")] == ["teams", "totals"]
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
        rows = list(sheet.iter(f"{ns}row"))
        assert len(rows) == 3  # header + 2 data rows
        header = [t.text for t in rows[0].iter(f"{ns}t")]
        assert header == ["team", "pts", "rate", "won"]
        # numeric cell kept as number (no t attr), bool as t="b"
        cells = list(rows[1].iter(f"{ns}c"))
        assert cells[1].get("t") is None and cells[3].get("t") == "b"
        vals = [c.findtext(f"{ns}v") or c.findtext(f"{ns}is/{ns}t") for c in cells]
        assert vals == ["Chicago", "110", "0.5", "1"]
        # None cell is empty
        null_cell = list(rows[2].iter(f"{ns}c"))[1]
        assert len(null_cell) == 0 and null_cell.get("t") is None


def test_src_html_roundtrip_matches_base_table(spark):
    """The HTML round-trip query must reproduce supplier exactly: the
    cascade rejects both decoy tables and the parsed cells re-aggregate to
    the same totals a direct scan gives."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.io import read_table
    from nba_data_pipeline_spark.plans.sources_plans import src_html_roundtrip

    got = {r.nationkey: r for r in src_html_roundtrip(spark, "/root/testdata/sf0.001").collect()}
    want = {
        r.nationkey: r
        for r in read_table(spark, "/root/testdata/sf0.001", "supplier")
        .groupBy(F.col("s_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("s_suppkey").alias("sum_suppkey"),
            F.min("s_name").alias("min_name"),
        )
        .collect()
    }
    assert len(got) == len(want) > 0
    for k, w in want.items():
        g = got[k]
        assert (g.n_suppliers, g.sum_suppkey, g.min_name) == (
            w.n_suppliers,
            w.sum_suppkey,
            w.min_name,
        )


def test_src_csv_roundtrip_trims_bom_and_padding(spark):
    """BOM'd, whitespace-padded CSV landing must read back clean: column
    names stripped, cells trimmed, totals equal to the parquet scan."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.io import read_table
    from nba_data_pipeline_spark.plans.sources_plans import src_csv_roundtrip

    out = src_csv_roundtrip(spark, "/root/testdata/sf0.001")
    assert out.columns == ["c_mktsegment", "n_customers", "sum_custkey", "min_name"]
    got = {r.c_mktsegment: r for r in out.collect()}
    # no residual padding anywhere
    assert all(k == k.strip() and r.min_name == r.min_name.strip() for k, r in got.items())
    want = {
        r.c_mktsegment: r
        for r in read_table(spark, "/root/testdata/sf0.001", "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_custkey").alias("sum_custkey"),
        )
        .collect()
    }
    assert len(got) == len(want) > 0
    for k, w in want.items():
        assert (got[k].n_customers, got[k].sum_custkey) == (w.n_customers, w.sum_custkey)
