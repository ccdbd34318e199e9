"""Ticker-universe sources (S1-S4, SURVEY.md §2.1).

S3 CSV scan with case-insensitive column resolution and S4 source-level
fallback are engine-native. The Wikipedia HTML scan (S1/S2) is a driver-side
utility, mirroring the reference's structure where scraping happens before
any DataFrame work (extract_tickers.py:64-82) — but the *probe* (find a
ticker-ish column across candidate tables, normalize, apply the ≥80 sanity
gate, sorted-distinct) is a pure function over parsed tables, exercised
offline against fixture HTML via a stdlib ``html.parser`` table extractor
(no lxml/bs4 required). ``pandas.read_html`` is used for the live URL when
its parser stack exists; the stdlib extractor is the fallback.
"""

from __future__ import annotations

from collections.abc import Callable
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleansing import normalize_symbol

MIN_TICKERS_SANITY = 80  # P7 — accept scraped list only if >= 80 (extract_tickers.py:40-41)

#: Column headers probed for, in priority order (extract_tickers.py:29).
TICKER_COLUMN_CANDIDATES = ("ticker", "ticker symbol", "symbol")


def tickers_from_csv(
    spark: SparkSession, path: str, column: str | None = None
) -> DataFrame:
    """S3 — header CSV scan; prefer a column case-insensitively named
    'symbol', else the first column (extract_tickers.py:45-61)."""
    df = spark.read.option("header", True).csv(path)
    if column is None:
        lowered = {c.lower(): c for c in df.columns}
        column = lowered.get("symbol", df.columns[0])
    return df.select(F.col(column).alias("symbol"))


def normalized_distinct(tickers: DataFrame) -> DataFrame:
    """F3 + D2 — normalize, drop empties, sorted distinct
    (extract_tickers.py:12-18,41)."""
    return (
        tickers.select(F.expr(normalize_symbol("symbol")).alias("symbol"))
        .filter(F.col("symbol").isNotNull() & (F.col("symbol") != ""))
        .distinct()
        .orderBy("symbol")
    )


def _normalize_ticker_str(raw: str) -> str:
    """Driver-side twin of :func:`normalize_symbol` (F3): strip → upper →
    '.'→'-' (extract_tickers.py:12-18). Kept byte-identical to the SQL
    form so the scraped universe matches the engine's normalization."""
    t = raw.strip().upper()
    return t.replace(".", "-") if t else ""


def probe_ticker_tables(tables: list) -> list[str] | None:
    """S1/S2 core — given parsed HTML tables (anything with ``.columns`` and
    column indexing, i.e. pandas DataFrames), find the constituents table.

    Mirrors extract_tickers.py:21-42 exactly: for each table, map headers
    case-insensitively, probe the candidate ticker columns in order,
    normalize values, drop empties, and accept the first column whose
    *normalized distinct* count passes the ≥80 sanity gate (P7). Returns
    the sorted distinct symbols, or None if no table qualifies.
    """
    for t in tables:
        if not len(t.columns):
            continue
        cols = {str(c).strip().lower(): c for c in t.columns}
        for cand in TICKER_COLUMN_CANDIDATES:
            if cand not in cols:
                continue
            syms = [_normalize_ticker_str(str(v)) for v in t[cols[cand]]]
            out = sorted({s for s in syms if s})
            if len(out) >= MIN_TICKERS_SANITY:
                return out
    return None


class _TableExtractor(HTMLParser):
    """Minimal stdlib <table> extractor: first row (or <th> cells) becomes
    the header, subsequent rows the data. Enough structure for the probe —
    no spans/nesting, which Wikipedia constituents tables don't need."""

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[list[list[str]]] = []
        self._rows: list[list[str]] | None = None
        self._cells: list[str] | None = None
        self._buf: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._rows = []
        elif tag == "tr" and self._rows is not None:
            self._cells = []
        elif tag in ("td", "th") and self._cells is not None:
            self._buf = []

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._buf is not None:
            self._cells.append("".join(self._buf).strip())
            self._buf = None
        elif tag == "tr" and self._cells is not None:
            if self._cells:
                self._rows.append(self._cells)
            self._cells = None
        elif tag == "table" and self._rows is not None:
            if self._rows:
                self.tables.append(self._rows)
            self._rows = None

    def handle_data(self, data):
        if self._buf is not None:
            self._buf.append(data)


class _SimpleTable:
    """Duck-typed stand-in for a pandas DataFrame: ``.columns`` + column
    indexing — the only surface :func:`probe_ticker_tables` touches."""

    def __init__(self, rows: list[list[str]]):
        self.columns = rows[0]
        self._cols = {
            h: [r[i] if i < len(r) else "" for r in rows[1:]]
            for i, h in enumerate(rows[0])
        }

    def __getitem__(self, key: str) -> list[str]:
        return self._cols[key]


def parse_html_tables(html: str) -> list[_SimpleTable]:
    """Extract all tables from an HTML document using only the stdlib —
    the offline/fixture path for S1/S2 (lxml/bs4 are not installed here)."""
    p = _TableExtractor()
    p.feed(html)
    return [_SimpleTable(rows) for rows in p.tables if len(rows) > 1]


def tickers_from_html(spark: SparkSession, html: str) -> DataFrame | None:
    """S1/S2 — probe an HTML document (fetched or fixture) for the
    constituents table; None if no table passes the gate."""
    try:
        import pandas as pd

        from io import StringIO

        tables = pd.read_html(StringIO(html))
    except Exception:  # lxml/bs4 missing or malformed — stdlib fallback
        tables = parse_html_tables(html)
    syms = probe_ticker_tables(tables)
    if syms is None:
        return None
    return spark.createDataFrame([(s,) for s in syms], "symbol string")


#: Wikipedia constituents page (extract_tickers.py:21) and the hardened
#: request headers the reference sends (extract_tickers.py:24-31 sets a
#: browser UA because Wikimedia throttles default library agents).
WIKIPEDIA_URL = "https://en.wikipedia.org/wiki/Nasdaq-100"
FETCH_HEADERS = {
    "User-Agent": (
        "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0 Safari/537.36"
    ),
    "Accept-Language": "en-US,en;q=0.9",
}


def default_opener(url: str, timeout: float = 20.0) -> str:
    """The real HTTPS fetch — a hardened urllib GET (browser UA headers,
    explicit timeout). Fully implemented; it simply has no network to run
    on in this sandbox, so callers treat any raise as source-unavailable
    and fall through the chain (S4)."""
    from urllib.request import Request, urlopen

    req = Request(url, headers=FETCH_HEADERS)
    with urlopen(req, timeout=timeout) as r:  # pragma: no cover - network
        return r.read().decode("utf-8", errors="replace")


def tickers_from_wikipedia(
    spark: SparkSession,
    opener: Callable[[str], str] | None = None,
) -> DataFrame | None:
    """S1/S2 — driver-side Wikipedia constituents scrape. ``opener`` is the
    url→html hop (injectable, so the full fetch→probe→gate path is tested
    offline against fixture HTML; the default is the hardened urllib GET).
    Returns None when the source is unavailable — callers fall back to the
    CSV source (S4)."""
    try:
        html = (opener or default_opener)(WIKIPEDIA_URL)
    except Exception:
        return None
    return tickers_from_html(spark, html)


def load_tickers(
    spark: SparkSession,
    fallback_csv: str,
    use_wikipedia: bool = False,
    opener: Callable[[str], str] | None = None,
) -> DataFrame:
    """S4 — fallback source chain: Wikipedia (if enabled) else CSV; raise if
    the result is empty (extract_tickers.py:64-82). ``opener`` propagates to
    the Wikipedia fetch so the WHOLE chain — live-scrape branch included —
    is testable offline."""
    df = tickers_from_wikipedia(spark, opener) if use_wikipedia else None
    if df is None:
        df = tickers_from_csv(spark, fallback_csv)
    out = normalized_distinct(df)
    if out.limit(1).count() == 0:
        raise ValueError("no tickers available from any source")
    return out
