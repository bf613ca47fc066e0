"""tools/check.py's lanes and oracle connection.

The lane presets must cover the whole catalog: a new registry entry that
matches no lane would silently escape the sf1 sweep cadence, so the union of
lanes is asserted to equal the registry exactly (and ``misc`` to stay empty —
every entry belongs to a deliberate lane, not a catch-all). The DuckDB oracle
must be sized from the host, next to the Spark driver heap."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import __spark_entry__ as entrymod
from check import LANES, duck_connect, lane_members, resolve_sf
from nba_data_pipeline_spark.session import mem_total_mb


def test_lanes_cover_registry_exactly():
    names = list(entrymod.queries())
    lanes = lane_members(names)
    flat = [n for members in lanes.values() for n in members]
    assert sorted(flat) == sorted(names)  # partition: no loss, no dupes
    assert lanes["misc"] == [], f"entries outside every lane: {lanes['misc']}"
    for lane in LANES:
        assert lanes[lane], f"lane {lane!r} is empty — stale preset?"


def test_resolve_sf_shorthands():
    assert resolve_sf("sf0.01") == "/root/testdata/sf0.01"
    assert resolve_sf("/root/testdata/sf0.01") == "/root/testdata/sf0.01"


def test_duck_memory_limit_is_a_quarter_of_memtotal():
    """The Spark driver heap takes half of MemTotal; the oracle must leave
    room for it and for the Python workers."""
    con = duck_connect("/root/testdata/sf0.001")
    shown = con.sql("SELECT current_setting('memory_limit')").fetchone()[0]
    num, unit = shown.split()
    scale = {"bytes": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    assert float(num) * scale[unit] <= mem_total_mb() * 2**20 / 4, shown
