"""Browser-session ingestion adapters — the reference's FIRST-TOUCH flows,
re-expressed as a thin dependency-injected seam that ENDS at landed files.

The reference reaches every page through a live browser: a Selenium
tab-walk over per-team stat pages (Cleaning_Glass_#1.py:498-676), a
Playwright poll-until-the-JS-table-settles readiness loop
(DEFENSEVSPOSTION.PY:251-309), and a login → click-download →
wait-for-complete-file export flow (ctg_export_league.py:270-330). SURVEY
§7.4 keeps that automation OUTSIDE the engine: everything after the browser
is the landed-file seam (sources/html_table.py, sources/html_datasource.py,
streaming/polling.py). This module is the adapter that connects the two —
the protocol, the waiting/walking/landing logic, and import-gated wrappers
for the real drivers — so a reference user porting their first-touch
scripts has a tested home for them.

Design rules:

* **No browser dependency in the logic.** Everything here drives the tiny
  :class:`BrowserSession` protocol; Selenium/Playwright appear only inside
  :class:`SeleniumSession` / :class:`PlaywrightSession`, which wrap
  caller-constructed drivers and import nothing at module import time (the
  libraries are not in this container — the wrappers are exercised against
  duck-typed fakes, the logic against :class:`ScriptedSession`).
* **Deterministic time.** Every wait takes injectable ``clock``/``sleep``.
  :class:`ScriptedSession` owns a virtual clock (``session.clock`` /
  ``session.sleep``): its pages change only per ``page_source()`` call, so
  a replay — tests, the CLI, fixture synthesis inside catalog entries —
  passes those and runs instantly and reproducibly. Real drivers keep the
  ``time.monotonic`` / ``time.sleep`` defaults.
* **Atomic landing.** Pages land via write-to-temp + ``os.replace`` so the
  engine's polling source (streaming/polling.py, SRC8) can never observe a
  torn file — the same contract the reference's download waiter enforces
  by watching for size-stable files.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Protocol, runtime_checkable

from nba_data_pipeline_spark.sources.html_table import parse_html_tables

__all__ = [
    "BrowserSession",
    "PlaywrightSession",
    "ScriptedSession",
    "SeleniumSession",
    "TableNotReady",
    "clear_dir",
    "land_pages",
    "login",
    "wait_for_download",
    "wait_for_table_ready",
    "walk_tabs",
]


@runtime_checkable
class BrowserSession(Protocol):
    """The minimal browser surface the ingestion flows need.

    Four methods cover every reference flow: navigate, read the rendered
    DOM, read the address bar (login-redirect detection), click a
    selector (tab activation, download buttons). ``click`` returns False
    instead of raising when the element is missing — the reference treats
    a failed tab click as "the URL fragment already switched it".
    """

    def get(self, url: str) -> None: ...

    def current_url(self) -> str: ...

    def page_source(self) -> str: ...

    def click(self, selector: str) -> bool: ...


class TableNotReady(TimeoutError):
    """Raised when the readiness loop times out; carries what WAS on the
    page (the reference logs the same diagnostic before giving up,
    DEFENSEVSPOSTION.PY:296-307)."""

    def __init__(self, msg: str, seen_headers: list[list[str]]):
        super().__init__(msg)
        self.seen_headers = seen_headers


def wait_for_table_ready(
    session: BrowserSession,
    required_headers: Sequence[str],
    *,
    timeout_s: float = 15.0,
    poll_s: float = 0.2,
    stable_s: float = 0.6,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[list[str], list[list[str]]]:
    """Poll until a VISIBLE table whose header contains every
    ``required_headers`` token (case-insensitive) exists and its row count
    has been stable for ``stable_s`` — the JS-rendered-table settle loop
    (DEFENSEVSPOSTION.PY:251-309). Returns (headers, rows); raises
    :class:`TableNotReady` with the headers actually seen on timeout.

    Comment-embedded tables are ignored here on purpose: the readiness
    question is about the rendered DOM; comment mining is the landed-file
    parser's job (SRC2)."""
    want = [h.upper() for h in required_headers]
    end = clock() + timeout_s
    # Stability is keyed to (header tuple, row count), not row count alone:
    # two matching tables rendered in sequence with equal row counts must
    # not be declared stable across the identity swap. Elapsed stability is
    # clock-measured, not a sum of scheduled poll intervals — a slow
    # page_source() would otherwise under-count real settle time.
    last_key: tuple[tuple[str, ...], int] | None = None
    stable_since = 0.0
    seen: list[list[str]] = []
    while True:
        tables = parse_html_tables(session.page_source(), include_comments=False)
        seen = [headers for headers, _ in tables]
        match = None
        for headers, rows in tables:
            header_text = " | ".join(h.strip() for h in headers).upper()
            if all(w in header_text for w in want):
                match = (headers, rows)
                break
        if match is not None and len(match[1]) > 0:
            key = (tuple(match[0]), len(match[1]))
            now = clock()
            if key == last_key:
                if now - stable_since >= stable_s:
                    return match
            else:
                last_key = key
                stable_since = now
        else:
            last_key = None
        if clock() >= end:
            raise TableNotReady(
                f"no stable table with headers {list(required_headers)} "
                f"within {timeout_s}s; saw {len(seen)} table(s)",
                seen,
            )
        sleep(poll_s)


def walk_tabs(
    session: BrowserSession,
    base_url: str,
    tabs: Sequence[str],
    *,
    required_headers: Sequence[str] = (),
    on_missing: str = "skip",
    timeout_s: float = 15.0,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[tuple[str, str]]:
    """Walk a page's stat tabs, yielding ``(tab_id, rendered_html)`` per
    tab that produced a ready table.

    Per tab — exactly the reference's sequence
    (Cleaning_Glass_#1.py:506-531): navigate to ``{base_url}#tab-{id}``,
    click ``#tab-{id}`` as the fallback activation (a False return is
    fine), then wait for readiness when ``required_headers`` is given.
    ``on_missing`` mirrors the reference's warn-and-continue: ``"skip"``
    drops the tab, ``"raise"`` propagates :class:`TableNotReady`."""
    if on_missing not in ("skip", "raise"):
        raise ValueError(f"on_missing must be skip/raise, got {on_missing!r}")
    for tab in tabs:
        session.get(f"{base_url}#tab-{tab}")
        session.click(f"#tab-{tab}")
        if required_headers:
            try:
                wait_for_table_ready(
                    session,
                    required_headers,
                    timeout_s=timeout_s,
                    clock=clock,
                    sleep=sleep,
                )
            except TableNotReady:
                if on_missing == "raise":
                    raise
                continue
        yield tab, session.page_source()


def login(
    session: BrowserSession,
    login_url: str,
    submit: Callable[[BrowserSession], None],
    *,
    failure_marker: str = "login",
) -> bool:
    """Run a login flow and report success by the reference's own signal:
    after submitting, landing back on a URL containing ``failure_marker``
    means authentication failed (ctg_export_league.py:270-278)."""
    session.get(login_url)
    submit(session)
    return failure_marker not in session.current_url().lower()


#: in-flight download suffixes the completion waiter ignores
#: (ctg_export_league.py:297 — Chrome/Firefox/generic partials).
PARTIAL_SUFFIXES = (".crdownload", ".tmp", ".part")


def clear_dir(download_dir: str) -> None:
    """Empty a download landing dir before an export run
    (ctg_export_league.py:286-290)."""
    for name in os.listdir(download_dir):
        p = os.path.join(download_dir, name)
        if os.path.isfile(p):
            os.unlink(p)


def wait_for_download(
    download_dir: str,
    *,
    timeout_s: float = 30.0,
    poll_s: float = 0.5,
    partial_suffixes: Sequence[str] = PARTIAL_SUFFIXES,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> str | None:
    """Wait for a browser download to complete; return its path or None.

    Completion = the newest non-partial file's size unchanged across two
    consecutive half-interval checks and > 0 — the reference's
    size-stability probe (ctg_export_league.py:292-309). Returns None on
    timeout (the caller decides whether that is an error), never a
    partial file."""
    end = clock() + timeout_s
    while clock() < end:
        complete = [
            os.path.join(download_dir, n)
            for n in os.listdir(download_dir)
            if os.path.isfile(os.path.join(download_dir, n))
            and not any(n.endswith(s) for s in partial_suffixes)
        ]
        if complete:
            # The browser can rename/delete files between listdir and the
            # stat probes (.crdownload finalization replaces the partial);
            # the reference's loop swallows errors and keeps polling, so a
            # vanished file is a retry, not a crash.
            try:
                latest = max(complete, key=lambda p: os.stat(p).st_mtime_ns)
                size1 = os.path.getsize(latest)
                sleep(poll_s / 2)
                size2 = os.path.getsize(latest)
                if size1 == size2 and size1 > 0:
                    return latest
            except OSError:
                pass
        sleep(poll_s)
    return None


def land_pages(
    pages: Iterable[tuple[str, str]],
    land_dir: str,
    *,
    suffix: str = ".html",
) -> list[str]:
    """Atomically write ``(name, html)`` pages into the engine's landed-file
    seam; returns the landed paths.

    Write-to-temp + ``os.replace`` so the polling micro-batch source (SRC8)
    and any concurrent lister only ever see complete files. ``name`` must
    be a bare file stem (no separators) — landing never creates
    directory structure an ingest glob didn't ask for."""
    os.makedirs(land_dir, exist_ok=True)
    out = []
    for name, html in pages:
        if os.sep in name or "/" in name:
            raise ValueError(f"page name must be a bare stem: {name!r}")
        final = os.path.join(land_dir, f"{name}{suffix}")
        tmp = final + ".part"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(html)
        os.replace(tmp, final)
        out.append(final)
    return out


class ScriptedSession:
    """Deterministic in-process :class:`BrowserSession` — the test/replay
    double for the real drivers.

    ``pages`` maps url → a page-source SEQUENCE: each ``page_source()``
    call serves the next snapshot (sticking on the last), which is how a
    JS table that renders progressively is modeled; the readiness loop
    must survive the growth and return only once stable. ``clicks`` maps
    a selector to the url it navigates to (a tab activation); unknown
    selectors return False like a missing element. ``redirects`` maps a
    requested url to the one the browser ends up on (login bounce).

    The session keeps its own time: ``sleep(s)`` advances it and ``clock()``
    reads it. Pass both to the waits (``walk_tabs(..., clock=s.clock,
    sleep=s.sleep)``) — the pages only change per ``page_source()`` call,
    so a wall-clock wait would poll the same snapshots, only slower."""

    def __init__(
        self,
        pages: dict[str, Sequence[str] | str],
        *,
        clicks: dict[str, str] | None = None,
        redirects: dict[str, str] | None = None,
    ):
        self._pages = {
            u: [v] if isinstance(v, str) else list(v) for u, v in pages.items()
        }
        self._served: dict[str, int] = {}
        self._clicks = dict(clicks or {})
        self._redirects = dict(redirects or {})
        self._url = ""
        self._t = 0.0

    def clock(self) -> float:
        return self._t

    def sleep(self, s: float) -> None:
        self._t += s

    def get(self, url: str) -> None:
        self._url = self._redirects.get(url, url)

    def current_url(self) -> str:
        return self._url

    def page_source(self) -> str:
        states = self._pages.get(self._url, [""])
        i = self._served.get(self._url, 0)
        self._served[self._url] = i + 1
        return states[min(i, len(states) - 1)]

    def click(self, selector: str) -> bool:
        if selector in self._clicks:
            self.get(self._clicks[selector])
            return True
        return False


class SeleniumSession:
    """Adapter over a caller-constructed Selenium WebDriver. Construction
    imports nothing; ``click`` needs selenium's ``By`` and raises a clear
    ImportError when the library is absent (it is not in this container —
    the protocol logic is covered via :class:`ScriptedSession`)."""

    def __init__(self, driver):
        self._driver = driver

    def get(self, url: str) -> None:
        self._driver.get(url)

    def current_url(self) -> str:
        return self._driver.current_url

    def page_source(self) -> str:
        return self._driver.page_source

    def click(self, selector: str) -> bool:
        try:
            from selenium.webdriver.common.by import By  # type: ignore
        except ImportError as e:  # pragma: no cover - lib absent here
            raise ImportError(
                "SeleniumSession.click needs the selenium package; install "
                "it in the ingestion environment (the engine itself never "
                "imports it)"
            ) from e
        try:
            self._driver.find_element(By.CSS_SELECTOR, selector).click()
            return True
        except Exception:
            return False


class PlaywrightSession:
    """Adapter over a caller-constructed Playwright Page (sync API).
    Import-free: every call is a duck-typed method on the page object the
    caller already built with their own playwright install."""

    def __init__(self, page, *, click_timeout_ms: int = 2000):
        self._page = page
        self._click_timeout_ms = click_timeout_ms

    def get(self, url: str) -> None:
        self._page.goto(url)

    def current_url(self) -> str:
        return self._page.url

    def page_source(self) -> str:
        return self._page.content()

    def click(self, selector: str) -> bool:
        try:
            self._page.click(selector, timeout=self._click_timeout_ms)
            return True
        except Exception:
            return False
