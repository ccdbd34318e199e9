"""Source/sink adapter tests: CSV ticker scan with column resolution,
fallback chain, distributed fundamentals fetch (injected fetch_fn), CSV
single-file sink, local post-sink upsert."""

import os

import pytest

from one_one_one_rule_spark.operators.output import (
    build_output,
    write_single_csv,
)
from one_one_one_rule_spark.sources.sinks import LocalCopySink, ship
from one_one_one_rule_spark.sources.tickers import (
    load_tickers,
    normalized_distinct,
    tickers_from_csv,
)
from one_one_one_rule_spark.sources.yfinance_source import (
    fetch_fundamentals_distributed,
)


@pytest.fixture()
def ticker_csv(tmp_path):
    p = tmp_path / "tickers.csv"
    p.write_text("Symbol,Name\n aapl ,Apple\nMSFT,Microsoft\nbrk.b,Berkshire\nAAPL,Apple dup\n,empty\n")
    return str(p)


def test_csv_scan_case_insensitive_column(spark, ticker_csv):
    df = tickers_from_csv(spark, ticker_csv)  # resolves 'Symbol'
    assert df.columns == ["symbol"]
    assert df.count() == 5


def test_normalize_distinct_sorted(spark, ticker_csv):
    out = normalized_distinct(tickers_from_csv(spark, ticker_csv)).collect()
    assert [r.symbol for r in out] == ["AAPL", "BRK-B", "MSFT"]


def test_fallback_chain_and_empty_raises(spark, ticker_csv, tmp_path):
    # wikipedia disabled -> csv fallback works
    assert load_tickers(spark, ticker_csv).count() == 3
    empty = tmp_path / "empty.csv"
    empty.write_text("Symbol\n")
    with pytest.raises(ValueError):
        load_tickers(spark, str(empty))


def test_distributed_fetch_with_injected_fn(spark, ticker_csv):
    tickers = normalized_distinct(tickers_from_csv(spark, ticker_csv))

    def fake_fetch(t):
        return {
            "ticker": t,
            "company": f"{t} inc",
            "sector": "Tech",
            "price": float(len(t)),
            "market_cap": 1e9,
            "currency": "USD",
            "trailing_pe": 10.0,
            "forward_pe": None,
            "trailing_eps": 1.0,
            "forward_eps": None,
            "earnings_growth": "0.5",  # string -> coerced to double
            "peg_ratio": None,
            "book_value_per_share": 2.0,
            "target_mean_price": None,
        }

    snap = fetch_fundamentals_distributed(tickers, fetch_fn=fake_fetch, parallelism=2)
    rows = {r.ticker: r for r in snap.collect()}
    assert set(rows) == {"AAPL", "BRK-B", "MSFT"}
    assert rows["AAPL"].earnings_growth == 0.5  # coerced
    assert dict(snap.dtypes)["earnings_growth"] == "double"


def test_single_csv_sink_and_post_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("AAPL", 1.0), ("MSFT", None)], "ticker string, x double"
    )
    out = build_output(df, "2026-01-01", "2026-01-01T00:00:00Z")
    assert out.columns[:3] == ["as_of_date", "run_ts_utc", "ticker"]
    path = write_single_csv(out, str(tmp_path / "out.csv"))
    text = open(path).read().splitlines()
    assert text[0] == "as_of_date,run_ts_utc,ticker,x"
    assert len(text) == 3
    assert text[1].endswith("1.0") or text[2].endswith("1.0")

    # post-sink upsert-by-name: second ship overwrites
    sink = LocalCopySink(str(tmp_path / "drive"))
    dest1 = ship(path, sink, "valuations.csv")
    dest2 = ship(path, sink, "valuations.csv")
    assert dest1 == dest2 and os.path.exists(dest1)
    assert ship(path, None) is None


# ---------------------------------------------------------------------------
# S1/S2 — Wikipedia constituents probe on fixture HTML (offline)
# ---------------------------------------------------------------------------

WIKI_FIXTURE = """
<html><body>
<table>
  <tr><th>Date</th><th>Event</th></tr>
  <tr><td>1999</td><td>Index launched</td></tr>
</table>
<table>
  <tr><th>Company</th><th>Ticker</th><th>Sector</th></tr>
  {rows}
</table>
<table>
  <tr><th>Symbol</th></tr>
  <tr><td>ONLY1</td></tr>
</table>
</body></html>
"""


def _wiki_html(n=85):
    rows = "\n".join(
        f"  <tr><td>Company {i}</td><td>tk.{i:03d}</td><td>Tech</td></tr>"
        for i in range(n)
    )
    return WIKI_FIXTURE.format(rows=rows)


def test_probe_fixture_html_passes_gate(spark):
    from one_one_one_rule_spark.sources.tickers import (
        parse_html_tables,
        probe_ticker_tables,
        tickers_from_html,
    )

    html = _wiki_html(85)
    tables = parse_html_tables(html)
    assert len(tables) == 3  # decoy, constituents, short table all parsed
    syms = probe_ticker_tables(tables)
    # normalized (strip/upper/.->-), sorted distinct, >= 80 gate passed
    assert syms is not None and len(syms) == 85
    assert syms[0] == "TK-000" and syms == sorted(syms)

    df = tickers_from_html(spark, html)
    assert df is not None
    assert df.count() == 85


def test_probe_gate_rejects_short_table(spark):
    from one_one_one_rule_spark.sources.tickers import (
        parse_html_tables,
        probe_ticker_tables,
        tickers_from_html,
    )

    html = _wiki_html(40)  # constituents table below the >=80 sanity gate
    assert probe_ticker_tables(parse_html_tables(html)) is None
    assert tickers_from_html(spark, html) is None


def test_probe_dedups_before_gate():
    from one_one_one_rule_spark.sources.tickers import probe_ticker_tables

    # 100 raw rows but only 50 distinct normalized symbols -> rejected:
    # the gate applies to the normalized distinct universe, not raw rows.
    class T:
        columns = ["Ticker"]

        def __getitem__(self, key):
            return [f"DUP{i % 50}" for i in range(100)]

    assert probe_ticker_tables([T()]) is None


# ---------------------------------------------------------------------------
# S8/S9/F18 — Drive sink dry-run planner (offline branch parity)
# ---------------------------------------------------------------------------


def test_drive_query_escaping_and_shapes():
    from one_one_one_rule_spark.sources.sinks import (
        FOLDER_MIME,
        build_find_file_query,
        build_find_folder_query,
        escape_drive_query,
    )

    assert escape_drive_query("bob's data.csv") == "bob\\'s data.csv"
    q = build_find_file_query("bob's data.csv", folder_id="F1")
    assert q == "name='bob\\'s data.csv' and trashed=false and 'F1' in parents"
    assert build_find_file_query("a.csv") == "name='a.csv' and trashed=false"
    fq = build_find_folder_query("reports", parent_id="P")
    assert fq == (
        f"mimeType='{FOLDER_MIME}' and name='reports' and trashed=false"
        " and 'P' in parents"
    )


def test_drive_upload_plan_branches():
    from one_one_one_rule_spark.sources.sinks import (
        SHEET_MIME,
        plan_drive_upload,
    )
    import pytest as _pytest

    # create: no existing file, folder known, convert -> Sheets MIME metadata
    plan = plan_drive_upload("v.csv", existing={}, folder_id="F1")
    assert plan["action"] == "create"
    assert plan["metadata"] == {
        "name": "v.csv",
        "parents": ["F1"],
        "mimeType": SHEET_MIME,
    }
    assert "name='v.csv'" in plan["query"]

    # update: found by name as an existing Sheet
    plan = plan_drive_upload(
        "v.csv", existing={"v.csv": ("ID9", SHEET_MIME)}, folder_id="F1"
    )
    assert plan == {
        "action": "update",
        "file_id": "ID9",
        "query": "name='v.csv' and trashed=false and 'F1' in parents",
        "media_mime": "text/csv",
    }

    # found but NOT a Sheet while converting -> recreate (load_drive.py:219-235)
    plan = plan_drive_upload(
        "v.csv", existing={"v.csv": ("ID9", "text/csv")}, folder_id="F1"
    )
    assert plan["action"] == "create"

    # no conversion: update whatever was found
    plan = plan_drive_upload(
        "v.csv",
        existing={"v.csv": ("ID9", "text/csv")},
        folder_id="F1",
        convert_to_sheets=False,
    )
    assert plan["action"] == "update" and plan["file_id"] == "ID9"

    # explicit file_id skips the find query entirely
    plan = plan_drive_upload(
        "v.csv",
        existing={"other": ("IDX", SHEET_MIME)},
        folder_id="F1",
        file_id="IDX",
    )
    assert plan["action"] == "update" and plan["query"] is None

    # explicit-but-unknown file_id while converting -> get() fails -> create
    plan = plan_drive_upload(
        "v.csv", existing={}, folder_id="F1", file_id="GONE"
    )
    assert plan["action"] == "create" and plan["query"] is None

    # service account creating without a folder -> hard error
    with _pytest.raises(ValueError, match="folder_id is required"):
        plan_drive_upload("v.csv", existing={})

    # oauth may create in root; no parents in metadata
    plan = plan_drive_upload("v.csv", existing={}, auth_mode="oauth")
    assert plan["action"] == "create" and "parents" not in plan["metadata"]


def test_assemble_snapshot_coalesce_chains():
    from one_one_one_rule_spark.sources.yfinance_source import (
        assemble_snapshot,
        fixture_fetch,
    )

    # fast wins over info; '' name falls through; missing sector -> Unknown
    snap = assemble_snapshot(
        "T1",
        {"shortName": "", "longName": "Long", "currentPrice": 9.0},
        {"last_price": 10.0, "currency": None},
    )
    assert snap["company"] == "Long"
    assert snap["sector"] == "Unknown"
    assert snap["price"] == 10.0  # fast.last_price preferred
    assert snap["currency"] == ""

    snap = assemble_snapshot(
        "T1", {"currentPrice": 9.0, "currency": "EUR"}, {}
    )
    assert snap["price"] == 9.0 and snap["currency"] == "EUR"

    # fixture fetcher: deterministic and fully assembled
    a, b = fixture_fetch("T12"), fixture_fetch("T12")
    assert a == b and a["ticker"] == "T12"
    assert fixture_fetch("T9")["market_cap"] == 9e6  # info fallback
    assert fixture_fetch("T8")["market_cap"] == 16e6  # fast wins


def test_python_datasource_ticker_scan(spark, ticker_csv):
    """The S1-S4 fallback chain behind the Spark 4 Python Data Source API:
    registered format, option-driven, partitioned scan — same symbols as
    the helper-function CSV path."""
    from one_one_one_rule_spark.sources.ticker_datasource import (
        TickerDataSource,
    )

    spark.dataSource.register(TickerDataSource)
    df = (
        spark.read.format("nasdaq_tickers")
        .option("csv_path", ticker_csv)
        .option("num_partitions", "2")
        .load()
    )
    assert df.schema.simpleString() == "struct<symbol:string>"
    assert df.rdd.getNumPartitions() == 2
    # Spark's CSV reader surfaces the empty field as NULL, the stdlib csv
    # module as "" — equivalent for the downstream normalize/drop stage.
    got = sorted(r.symbol or "" for r in df.collect())
    expected = sorted(
        r.symbol or ""
        for r in tickers_from_csv(spark, ticker_csv).collect()
    )
    assert got == expected


def test_python_datasource_empty_raises(spark, tmp_path):
    from one_one_one_rule_spark.sources.ticker_datasource import (
        TickerDataSource,
    )

    empty = tmp_path / "empty.csv"
    empty.write_text("Symbol\n")
    spark.dataSource.register(TickerDataSource)
    df = (
        spark.read.format("nasdaq_tickers")
        .option("csv_path", str(empty))
        .load()
    )
    with pytest.raises(Exception, match="no tickers available"):
        df.collect()


# ---------------------------------------------------------------------------
# Drive v3 REST adapter against an in-memory fake Drive (round 5): every
# branch of the reference upsert runs end-to-end offline; the only stub
# left is the authenticated HTTPS hop.
# ---------------------------------------------------------------------------

import json as _json
import re as _re

from one_one_one_rule_spark.sources.drive_client import (
    DRIVE_API,
    DRIVE_UPLOAD_API,
    MULTIPART_BOUNDARY,
    DriveClient,
    http_transport,
    multipart_related_body,
)
from one_one_one_rule_spark.sources.sinks import (
    FOLDER_MIME,
    SHEET_MIME,
    DriveSink,
)


class FakeDrive:
    """In-memory Drive v3: enough of files.list/get/create/update to run
    the client's real requests, including multipart body parsing and the
    CSV->Sheets conversion Drive performs on create."""

    def __init__(self):
        self.files = {}  # id -> {name, mimeType, parents, content}
        self._next = 0
        self.requests = []  # (method, url, params) log

    def _id(self):
        self._next += 1
        return f"fake{self._next}"

    def _match(self, q):
        m_name = _re.search(r"name='((?:[^'\\]|\\')*)'", q)
        name = m_name.group(1).replace("\\'", "'") if m_name else None
        m_mime = _re.search(r"mimeType='([^']*)'", q)
        mime = m_mime.group(1) if m_mime else None
        m_parent = _re.search(r"'([^']*)' in parents", q)
        parent = m_parent.group(1) if m_parent else None
        out = []
        for fid, f in self.files.items():
            if name is not None and f["name"] != name:
                continue
            if mime is not None and f["mimeType"] != mime:
                continue
            if parent is not None and parent not in f["parents"]:
                continue
            out.append({"id": fid, "name": f["name"], "mimeType": f["mimeType"]})
        return out

    def _parse_multipart(self, body):
        b = f"--{MULTIPART_BOUNDARY}".encode()
        parts = body.split(b)[1:-1]
        meta_part, media_part = parts[0], parts[1]
        meta = _json.loads(meta_part.split(b"\r\n\r\n", 1)[1].rstrip(b"\r\n"))
        header, media = media_part.split(b"\r\n\r\n", 1)
        media_mime = (
            header.decode().split("Content-Type:", 1)[1].strip()
        )
        # strip exactly the one CRLF the wire format adds before the
        # closing boundary — not trailing newlines of the content itself
        if media.endswith(b"\r\n"):
            media = media[:-2]
        return meta, media, media_mime

    def __call__(self, method, url, params, headers, body):
        self.requests.append((method, url, dict(params)))
        if method == "GET" and url == DRIVE_API:
            return 200, {"files": self._match(params["q"])}
        if method == "GET" and url.startswith(f"{DRIVE_API}/"):
            fid = url.rsplit("/", 1)[1]
            if fid not in self.files:
                return 404, {"error": "notFound"}
            f = self.files[fid]
            return 200, {"id": fid, "name": f["name"], "mimeType": f["mimeType"]}
        if method == "POST" and url == DRIVE_API:
            meta = _json.loads(body)
            fid = self._id()
            self.files[fid] = {
                "name": meta["name"],
                "mimeType": meta["mimeType"],
                "parents": meta.get("parents", []),
                "content": b"",
            }
            return 200, {"id": fid}
        if method == "POST" and url == DRIVE_UPLOAD_API:
            meta, media, media_mime = self._parse_multipart(body)
            fid = self._id()
            # Drive converts on create when target mime is a Sheet
            self.files[fid] = {
                "name": meta["name"],
                "mimeType": meta.get("mimeType", media_mime),
                "parents": meta.get("parents", []),
                "content": media,
            }
            f = self.files[fid]
            return 200, {"id": fid, "name": f["name"], "mimeType": f["mimeType"]}
        if method == "PATCH" and url.startswith(f"{DRIVE_UPLOAD_API}/"):
            fid = url.rsplit("/", 1)[1]
            if fid not in self.files:
                return 404, {"error": "notFound"}
            _meta, media, _mime = self._parse_multipart(body)
            self.files[fid]["content"] = media  # mime preserved (in-place)
            f = self.files[fid]
            return 200, {"id": fid, "name": f["name"], "mimeType": f["mimeType"]}
        return 400, {"error": f"unhandled {method} {url}"}


def _write_csv(tmp_path, name="report.csv", text="a,b\n1,2\n"):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_drive_sink_create_then_update_upsert(tmp_path):
    drive = FakeDrive()
    sink = DriveSink("Reports", convert_to_sheet=True, transport=drive)
    fid = sink.upload(_write_csv(tmp_path), "valuation.csv")
    # folder created, file created AS a Sheet inside it
    folders = [f for f in drive.files.values() if f["mimeType"] == FOLDER_MIME]
    assert [f["name"] for f in folders] == ["Reports"]
    assert drive.files[fid]["mimeType"] == SHEET_MIME
    assert drive.files[fid]["content"] == b"a,b\n1,2\n"
    # second upload with the same name must UPDATE the same file in place
    fid2 = sink.upload(_write_csv(tmp_path, text="a,b\n9,9\n"), "valuation.csv")
    assert fid2 == fid
    assert drive.files[fid]["content"] == b"a,b\n9,9\n"
    assert drive.files[fid]["mimeType"] == SHEET_MIME
    methods = [m for m, _u, _p in drive.requests]
    assert "PATCH" in methods  # the update went through files.update


def test_drive_sink_recreates_non_sheet_when_converting(tmp_path):
    drive = FakeDrive()
    # pre-existing PLAIN file with the target name (not a Sheet)
    drive.files["plain1"] = {
        "name": "valuation.csv", "mimeType": "text/csv",
        "parents": [], "content": b"old",
    }
    client = DriveClient(drive)
    res = client.upload_file(
        _write_csv(tmp_path), "valuation.csv", folder_id="root1",
        convert_to_sheets=True,
    )
    # cannot convert in place: a NEW Sheet is created, the old file untouched
    assert res["id"] != "plain1"
    assert drive.files[res["id"]]["mimeType"] == SHEET_MIME
    assert drive.files["plain1"]["content"] == b"old"


def test_drive_service_account_requires_folder(tmp_path):
    client = DriveClient(FakeDrive(), auth_mode="service_account")
    with pytest.raises(ValueError, match="storage quota"):
        client.upload_file(_write_csv(tmp_path), "x.csv", folder_id=None)
    # oauth CAN create parentless files
    oauth = DriveClient(FakeDrive(), auth_mode="oauth")
    res = oauth.upload_file(_write_csv(tmp_path), "x.csv", folder_id=None)
    assert res["id"]


def test_drive_folder_lookup_prefers_existing():
    drive = FakeDrive()
    client = DriveClient(drive)
    a = client.ensure_folder("Reports")
    b = client.ensure_folder("Reports")
    assert a == b  # second call found, did not create a duplicate
    assert sum(
        1 for f in drive.files.values() if f["mimeType"] == FOLDER_MIME
    ) == 1


def test_drive_query_escaping_round_trips_through_fake():
    drive = FakeDrive()
    client = DriveClient(drive)
    drive.files["q1"] = {
        "name": "bob's report", "mimeType": "text/csv",
        "parents": [], "content": b"",
    }
    found = client.find_file("bob's report")
    assert found and found["id"] == "q1"


def test_multipart_body_wire_format():
    body, ctype = multipart_related_body(
        {"name": "f.csv"}, b"DATA", "text/csv"
    )
    assert ctype == f"multipart/related; boundary={MULTIPART_BOUNDARY}"
    assert body.startswith(f"--{MULTIPART_BOUNDARY}\r\n".encode())
    assert b'{"name": "f.csv"}' in body
    assert b"Content-Type: text/csv\r\n\r\nDATA" in body
    assert body.endswith(f"\r\n--{MULTIPART_BOUNDARY}--".encode())


def test_network_transport_is_the_only_stub(tmp_path):
    with pytest.raises(NotImplementedError, match="bearer token"):
        http_transport(None)
    with pytest.raises(NotImplementedError, match="bearer token"):
        DriveSink("Reports")  # no transport, no token
    # and ship() still degrades gracefully on a failing sink
    from one_one_one_rule_spark.sources.sinks import ship

    class Boom:
        def upload(self, p, r=None):
            raise RuntimeError("down")

    assert ship(_write_csv(tmp_path), Boom()) is None


# ---------------------------------------------------------------------------
# full live-scrape path with an injected opener (round 5): the whole
# fetch -> probe -> gate -> normalize chain runs offline; only the socket
# inside default_opener has nothing to connect to here.
# ---------------------------------------------------------------------------


def test_wikipedia_scrape_path_with_injected_opener(spark):
    from one_one_one_rule_spark.sources.tickers import (
        WIKIPEDIA_URL,
        tickers_from_wikipedia,
    )

    seen = []

    def opener(url):
        seen.append(url)
        return _wiki_html(85)

    df = tickers_from_wikipedia(spark, opener)
    assert seen == [WIKIPEDIA_URL]
    assert df is not None and df.count() == 85


def test_source_chain_prefers_scrape_and_falls_back(spark, ticker_csv):
    from one_one_one_rule_spark.sources.tickers import load_tickers

    # scrape succeeds -> its 85 tickers win over the CSV
    got = load_tickers(
        spark, ticker_csv, use_wikipedia=True, opener=lambda u: _wiki_html(85)
    )
    assert got.count() == 85

    # scrape raises (network down) -> silent fallback to the CSV source
    def down(url):
        raise OSError("no network")

    fell_back = load_tickers(spark, ticker_csv, use_wikipedia=True, opener=down)
    assert fell_back.count() > 0
    csv_only = load_tickers(spark, ticker_csv, use_wikipedia=False)
    assert sorted(r.symbol for r in fell_back.collect()) == sorted(
        r.symbol for r in csv_only.collect()
    )


def test_default_opener_sends_hardened_headers():
    from one_one_one_rule_spark.sources.tickers import FETCH_HEADERS

    assert "Mozilla" in FETCH_HEADERS["User-Agent"]  # browser UA, not urllib
    assert "Accept-Language" in FETCH_HEADERS


def test_pipeline_job_entry_point(spark, tmp_path):
    """Entry point #1 end-to-end (pipeline_job.run_pipeline, mirroring
    reference pipeline_job.py:83-186): pinned clock, fixture source,
    single-file CSV + dated copy, upsert post-sink, perf-logged stages."""
    from one_one_one_rule_spark.pipeline_job import run_pipeline
    from one_one_one_rule_spark.schemas import OUTPUT_ORDER
    from one_one_one_rule_spark.sources.sinks import LocalCopySink

    out_dir = str(tmp_path / "data")
    upsert_dir = str(tmp_path / "drive")
    sc = spark.sparkContext
    group = f"pipeline_job_entry_point_{os.getpid()}"
    sc.setJobGroup(group, "run_pipeline")
    try:
        manifest = run_pipeline(
            spark,
            "/root/testdata/sf0.001",
            out_dir,
            as_of_date="2026-01-01",
            run_ts_utc="2026-01-01T00:00:00Z",
            post_sink=LocalCopySink(upsert_dir),
            upload_log=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # one action (the latest-CSV write) runs the whole plan over the
    # cleansed snapshot, materialized once: no eager checkpoint, no
    # separate count, no second write, no schema-inference job
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 6, jobs
    assert manifest["n_rows"] > 0
    with open(manifest["latest_csv"], encoding="utf-8") as fh:
        header = fh.readline().strip().split(",")
        n_lines = sum(1 for _ in fh)
    # P1+P2 contract: run metadata first, then the canonical order
    assert header == [c for c in OUTPUT_ORDER if c in header]
    assert header[:3] == ["as_of_date", "run_ts_utc", "ticker"]
    assert n_lines == manifest["n_rows"]
    # dated copy + upsert-by-name post-sink both materialized
    assert manifest["dated_csv"].endswith(
        "nasdaq100_valuations_2026-01-01.csv"
    )
    with open(manifest["dated_csv"], "rb") as a, open(
        manifest["latest_csv"], "rb"
    ) as b:
        assert a.read() == b.read()
    assert os.path.exists(
        os.path.join(upsert_dir, "nasdaq100_valuations_2026-01-01.csv")
    )
    # S10: dated log shipped too, with U7 perf lines inside
    log_copy = os.path.join(upsert_dir, "pipeline_2026-01-01.log")
    assert os.path.exists(log_copy)
    text = open(log_copy, encoding="utf-8").read()
    assert "perf transform wall_ms=" in text
    # the log ships BEFORE the final line (reference order: upload then
    # "Pipeline finished"), so assert on the last pre-ship stage instead
    assert "Post-sink upsert:" in text
    assert "Pipeline finished" in open(
        manifest["log_path"], encoding="utf-8"
    ).read()


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_part_schema_matches_files(spark, sf_dir, scale):
    """synthetic_fundamentals reads ``part`` with a declared schema, under
    which a column missing from the file reads as NULLs instead of failing:
    the constant must equal what every test-data scale stores."""
    from pyspark.sql.types import StructType

    from one_one_one_rule_spark.sources.fixtures import PART_SCHEMA

    path = os.path.join(os.path.dirname(sf_dir), scale, "part.parquet")
    assert StructType.fromDDL(PART_SCHEMA) == spark.read.parquet(path).schema


def test_pipeline_job_main_cli(tmp_path):
    """The argparse surface: python -m one_one_one_rule_spark.pipeline_job
    (in-process to reuse the test JVM)."""
    from one_one_one_rule_spark.pipeline_job import main

    out_dir = str(tmp_path / "cli_out")
    manifest = main(
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--output-dir", out_dir,
            "--as-of-date", "2026-02-02",
            "--run-ts-utc", "2026-02-02T00:00:00Z",
            "--no-dated-copy",
        ]
    )
    assert manifest["dated_csv"] is None
    assert os.path.exists(manifest["latest_csv"])


def test_report_job_latest_file_and_render(spark, tmp_path):
    """Entry point #3 (report_job): dated-file max-by-parsed-date pick
    (S11/D3), sector Markdown + HTML rendering (F19) — end-to-end over
    two dated snapshots; the newer must win."""
    from one_one_one_rule_spark.pipeline_job import run_pipeline
    from one_one_one_rule_spark.report_job import run_report

    out_dir = str(tmp_path / "data")
    for day in ("2026-01-01", "2026-01-02"):
        run_pipeline(
            spark,
            "/root/testdata/sf0.001",
            out_dir,
            as_of_date=day,
            run_ts_utc=f"{day}T00:00:00Z",
        )
    manifest = run_report(spark, out_dir)
    assert manifest["as_of_date"] == "2026-01-02"
    assert manifest["source_csv"].endswith(
        "nasdaq100_valuations_2026-01-02.csv"
    )
    md = open(manifest["report_md"], encoding="utf-8").read()
    html = open(manifest["report_html"], encoding="utf-8").read()
    assert md.startswith("## ") and "- tickers: " in md
    assert "<h3" in html and "<b>hunter pass</b>" in html
    assert manifest["n_sectors"] > 0


def test_ticker_job_writes_symbol_csv(spark, tmp_path, ticker_csv):
    """Entry point #2 (ticker_job): S4 chain -> F3/D2 normalize ->
    'Symbol'-headed single CSV; the >=80 gate must reject short lists."""
    import pytest as _pytest

    from one_one_one_rule_spark.ticker_job import main

    out = str(tmp_path / "nasdaq100_tickers.csv")
    # the shared ticker_csv fixture is short — the P7 gate must trip
    with _pytest.raises(ValueError, match=">=80"):
        main(["--fallback-csv", ticker_csv, "--out", out])
    # a >=80-symbol list passes and writes the exact header
    big = str(tmp_path / "big.csv")
    with open(big, "w", encoding="utf-8") as fh:
        fh.write("symbol\n")
        fh.writelines(f"T{i:03d}\n" for i in range(90))
    manifest = main(["--fallback-csv", big, "--out", out])
    assert manifest["n_tickers"] == 90
    lines = open(out, encoding="utf-8").read().splitlines()
    assert lines[0] == "Symbol"
    assert len(lines) == 91 and lines[1] == "T000"


def test_declarative_pipeline_graph_construction(spark, tmp_path):
    """Spark 4.1 Declarative Pipelines (pyspark.pipelines): the valuation
    DAG registers real MaterializedView outputs + Flows into a concrete
    GraphElementRegistry, and executing the captured query functions in
    dependency order reproduces the imperative pipeline exactly. Only
    the Spark Connect-backed runner is environment-gated (same contract
    as the TWS wire protocol)."""
    from pyspark.pipelines.graph_element_registry import (
        GraphElementRegistry,
        graph_element_registration_context,
    )

    from one_one_one_rule_spark.config import DEFAULT_THRESHOLDS
    from one_one_one_rule_spark.operators.cleanse import (
        cleanse_fundamentals,
    )
    from one_one_one_rule_spark.operators.valuate import apply_valuation
    from one_one_one_rule_spark.plans.declarative import define_pipeline
    from one_one_one_rule_spark.sources.fixtures import (
        synthetic_fundamentals,
    )

    class LocalRegistry(GraphElementRegistry):
        def __init__(self):
            self.outputs, self.flows, self.sql = [], [], []

        def register_output(self, output):
            self.outputs.append(output)

        def register_flow(self, flow):
            self.flows.append(flow)

        def register_sql(self, sql_text, file_path):
            self.sql.append((sql_text, file_path))

    reg = LocalRegistry()
    sf_dir = "/root/testdata/sf0.001"
    with graph_element_registration_context(reg):
        order = define_pipeline(spark, sf_dir)

    # one MaterializedView output + one Flow per dataset, names aligned
    assert [o.name for o in reg.outputs] == order
    from pyspark.pipelines.output import MaterializedView

    assert all(isinstance(o, MaterializedView) for o in reg.outputs)
    flows = {f.name: f for f in reg.flows}
    assert set(flows) == set(order)

    # execute the captured graph in dependency order (what the runner
    # does through its catalog; temp views stand in for it here)
    for name in order:
        flows[name].func().createOrReplaceTempView(name)
    got = {
        r.sector: r for r in spark.table("sector_screen_stats").collect()
    }

    # bit-for-bit identical to the imperative formulation
    valued = apply_valuation(
        cleanse_fundamentals(
            synthetic_fundamentals(spark, sf_dir), order_col="k"
        ),
        DEFAULT_THRESHOLDS,
    )
    from pyspark.sql import functions as F

    exp = {
        r.sector: r
        for r in valued.groupBy("sector")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tickers"),
            F.sum(
                F.when(F.col("valuation_hunter") == "pass", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hunter_pass"),
            F.sum(
                F.when(F.col("valuation") == "undervalued", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_undervalued"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for s in got:
        assert (
            got[s].n_tickers,
            got[s].n_hunter_pass,
            got[s].n_undervalued,
        ) == (exp[s].n_tickers, exp[s].n_hunter_pass, exp[s].n_undervalued)
    for name in order:
        spark.catalog.dropTempView(name)


def test_declarative_definitions_require_active_registry():
    """Outside a registration context the SDP decorators must refuse —
    the guard that keeps pipeline definitions from silently no-opping."""
    import pytest as _pytest
    from pyspark.errors import PySparkRuntimeError

    from one_one_one_rule_spark.plans.declarative import define_pipeline

    with _pytest.raises(PySparkRuntimeError):
        define_pipeline(None, "/root/testdata/sf0.001")
