"""Discovery-source and scalar-function unit tests (SURVEY §2.1 S1/S2/S5,
§2.9 X1-X5) — all offline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_aihw_etl_pipeline_spark.functions.scalar import (
    clean_text,
    norm_state,
    slug,
    try_double,
    year_from_url,
)
from healthcare_aihw_etl_pipeline_spark.sources import discovery

HTML = """
<html><body>
<a href="/getmedia/abc/4-admitted-patient-care-2022-23-tables-access.xlsx">latest</a>
<a href="https://example.org/other/admitted-patient-care-2021-22-tables-access.xlsx">old</a>
<a href="/reports/some-other-report-tables-access.xlsx">unrelated</a>
<a href="/admitted-patient-care/page.html">not a workbook</a>
</body></html>
"""


def test_extract_links():
    links = discovery.extract_links(HTML)
    assert links == [
        "https://www.aihw.gov.au/getmedia/abc/4-admitted-patient-care-2022-23-tables-access.xlsx",
        "https://example.org/other/admitted-patient-care-2021-22-tables-access.xlsx",
    ]


def test_discover_fallback_on_failure():
    def boom(url):
        raise OSError("offline")

    assert discovery.discover_excels(boom) == discovery.FALLBACK_LINKS
    assert discovery.discover_excels(None) == discovery.FALLBACK_LINKS
    assert discovery.discover_excels(lambda u: HTML)[0].endswith("tables-access.xlsx")


def test_sheet_name_filter():
    assert discovery.sheet_name_wanted("Table 4.1")
    assert discovery.sheet_name_wanted("table S2")
    assert discovery.sheet_name_wanted("Table5")
    assert not discovery.sheet_name_wanted("Table 3")
    assert not discovery.sheet_name_wanted("Notes")


def test_slug():
    assert slug("  Care Type ") == "care_type"
    assert slug("Unnamed: 0") == "unnamed:_0"


def test_scalar_columns(spark):
    df = spark.createDataFrame(
        [
            ("n.s.w.", '("Injury", 1.0)', "1,234", "https://x/4-apc-2022-23-tables-access.xlsx"),
            ("Total", '"Cancer"', " 7.5 ", "https://x/no-year.xlsx"),
        ],
        ["state_raw", "dim_raw", "num_raw", "url"],
    )
    rows = df.select(
        norm_state("state_raw").alias("st"),
        clean_text("dim_raw").alias("dim"),
        try_double("num_raw").alias("num"),
        year_from_url("url").alias("yr"),
    ).collect()
    assert (rows[0].st, rows[0].dim, rows[0].num, rows[0].yr) == ("NSW", "Injury", None, 2023)
    assert (rows[1].st, rows[1].dim, rows[1].num, rows[1].yr) == (None, "Cancer", 7.5, 9999)


def test_excel_roundtrip_if_openpyxl():
    openpyxl = pytest.importorskip("openpyxl")
    from io import BytesIO

    wb = openpyxl.Workbook()
    ws = wb.active
    ws.title = "Table 4.1"
    ws.append(["", "", "NSW", "VIC"])
    ws.append(["Injury", "X", 1, 2])
    wb.create_sheet("Notes").append(["ignore me"])
    buf = BytesIO()
    wb.save(buf)

    sheets = discovery.excel_to_sheets(buf.getvalue())
    assert len(sheets) == 1
    name, rows = sheets[0]
    assert name == "Table 4.1"
    assert rows[0][2] == "NSW" and rows[1][0] == "Injury"


def test_spread_guard(spark, tmp_path):
    """spread() repartitions a few-file scan to defaultParallelism and
    leaves a many-file scan untouched (no extra shuffle at real file
    counts)."""
    from healthcare_aihw_etl_pipeline_spark.sources.catalog import spread

    n = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    df1 = spark.read.parquet(one)
    assert spread(df1).rdd.getNumPartitions() == n

    many = str(tmp_path / "many")
    spark.range(1000).repartition(n + 4).write.parquet(many)
    df2 = spark.read.parquet(many)
    assert spread(df2) is df2  # untouched: enough files already


def test_table_rows_serves_footer_statistics(
    spark, sf_dir, tmp_path, monkeypatch
):
    """catalog.table_rows is the metastore statistic the stats-guarded
    plans read: exact, cached, and computed without a Spark job. An
    unreadable footer — a missing file, a directory, a non-parquet
    file — reads as None, so every gate takes its scale-safe side; a
    bug raises instead of silently flipping every gate."""
    import pyarrow.parquet as pq

    from healthcare_aihw_etl_pipeline_spark.sources.catalog import table_rows

    n = table_rows(sf_dir, "orders")
    assert n == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert table_rows(sf_dir, "orders") is not None  # cache hit path
    assert table_rows(sf_dir, "no_such_table") is None
    (tmp_path / "a_dir.parquet").mkdir()
    (tmp_path / "not_parquet.parquet").write_text("not a parquet file")
    assert table_rows(str(tmp_path), "a_dir") is None
    assert table_rows(str(tmp_path), "not_parquet") is None

    def bug(*_a, **_k):
        raise TypeError("bug")

    monkeypatch.setattr(pq, "ParquetFile", bug)
    with pytest.raises(TypeError):
        table_rows(str(tmp_path), "not_parquet")


def test_http_transport_opt_in_and_local_fixture_server():
    """S1/S2 real-transport leg (reference main.py:27,139): off by
    default (NetworkNotAllowed without opt-in), and against a LOCAL
    http.server fixture the text/bytes transports round-trip and
    discovery extracts the workbook link from the served page — no
    external network touched."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    import pytest

    from healthcare_aihw_etl_pipeline_spark.sources import discovery
    from healthcare_aihw_etl_pipeline_spark.sources.transport import (
        NetworkNotAllowed,
        default_transports,
        http_fetch_bytes,
        http_fetch_text,
    )

    page = (
        '<html><a href="/getmedia/abc/4-admitted-patient-care-2022-23-'
        'tables-access.xlsx">workbook</a></html>'
    )
    payload = b"\x50\x4b\x03\x04fake-workbook-bytes"

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            body = payload if self.path.endswith(".xlsx") else page.encode()
            ctype = (
                "application/octet-stream"
                if self.path.endswith(".xlsx")
                else "text/html; charset=utf-8"
            )
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep test output clean
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        # default-deny: every entry point refuses without opt-in
        for fn in (http_fetch_text, http_fetch_bytes):
            with pytest.raises(NetworkNotAllowed):
                fn(f"{base}/page")
        with pytest.raises(NetworkNotAllowed):
            default_transports()

        fetch_html, fetch_bytes = default_transports(allow_network=True)
        html = fetch_html(f"{base}/page")
        assert "tables-access.xlsx" in html
        links = discovery.extract_links(html)
        assert links and links[0].endswith("tables-access.xlsx")
        # served relative href is absolutized against the AIHW base
        assert links[0].startswith(discovery.BASE)

        # S2: binary fetch round-trips byte-exact via the same opt-in
        assert fetch_bytes(f"{base}/file.xlsx") == payload

        # discovery's injected-fetch path works with the live transport
        got = discovery.discover_excels(
            lambda _url: fetch_html(f"{base}/page")
        )
        assert got == links
    finally:
        srv.shutdown()
        srv.server_close()
