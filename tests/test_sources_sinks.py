"""End-to-end tests for S1-S4 sources, K1-K4 sinks, and the pipeline (D1/D2).

A threaded stdlib HTTP server plays the challenge API: authenticated CSV
downloads, paginated JSON transactions (envelope AND bare-array pages, one
flaky page that fails once to exercise bounded retry). Derby embedded plays
the JDBC target so the sink + DDL path runs against a real database.
"""

from __future__ import annotations

import contextlib
import json
import threading
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import types as T

from zylyty_data_engineer_challenge_spark.pipeline import PipelineConfig, run_pipeline
from zylyty_data_engineer_challenge_spark.schemas import ACCOUNTS, CLIENTS
from zylyty_data_engineer_challenge_spark.sinks import jdbc as jdbc_sink
from zylyty_data_engineer_challenge_spark.sources import rest_pages
from zylyty_data_engineer_challenge_spark.sources.http_csv import fetch_csv
from zylyty_data_engineer_challenge_spark.sources.rest_pages import (
    HAS_DATASOURCE_API,
    read_transactions,
    read_transactions_fallback,
)

TOKEN = "test-token"
N_TX = 230  # 3 pages at limit=100: 100 + 100 + 30
N_TX_CLEAN = 84  # distinct (timestamp, account_id): 28 days x 3 accounts
PAGE_LIMIT = 100

ACCOUNTS_CSV = "account_id,client_id\n1,c1\n2,c1\n3,c2\n"
CLIENTS_CSV = (
    "client_id,client_name,client_email,client_birth_date\n"
    "c1,Alice,alice@x.com,1990-01-01\n"
    "c2,Bob,bob@x.com,1985-05-05\n"
)
# an all-empty column (score, born), a missing trailing field (row 2) and
# an empty string cell (row 3's name)
EDGE_CSV = "id,name,score,born\n1,a,,\n2,b\n3,,,\n"
EDGE = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("born", T.DateType(), True),
    ]
)


def _tx(i: int) -> dict:
    return {
        "transaction_id": i,
        "timestamp": f"2024-03-{i % 28 + 1:02d}T12:00:00",
        "account_id": i % 3 + 1,
        "amount": "garbage" if i % 50 == 7 else f"{i}.25",
        "type": "dep",
        "medium": "card",
    }


class _ApiHandler(BaseHTTPRequestHandler):
    n_tx = N_TX
    flaky_failures = {"1": 1}  # page 1 fails once, then succeeds
    tx_requests: list = []  # (page, status) of every /transactions request

    def log_message(self, *a):  # silence
        pass

    def _send(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        if self.headers.get("Authorization") != f"Bearer {TOKEN}":
            self._send(401, b'{"error": "unauthorized"}')
            return
        url = urlparse(self.path)
        if url.path == "/download/accounts.csv":
            self._send(200, ACCOUNTS_CSV.encode(), "text/csv")
        elif url.path == "/download/clients.csv":
            self._send(200, CLIENTS_CSV.encode(), "text/csv")
        elif url.path == "/download/edge.csv":
            self._send(200, EDGE_CSV.encode(), "text/csv")
        elif url.path == "/download/header_only.csv":
            self._send(200, EDGE_CSV.split("\n")[0].encode() + b"\n", "text/csv")
        elif url.path == "/download/broken.csv":
            self._send(500, b"boom", "text/plain")
        elif url.path == "/transactions":
            q = parse_qs(url.query)
            page = q.get("page", ["0"])[0]
            limit = int(q.get("limit", ["100"])[0])
            if self.flaky_failures.get(page, 0) > 0:
                self.flaky_failures[page] -= 1
                self.tx_requests.append((int(page), 503))
                self._send(503, b'{"error": "try again"}')
                return
            self.tx_requests.append((int(page), 200))
            start = int(page) * limit
            records = [_tx(i) for i in range(start, min(start + limit, self.n_tx))]
            if int(page) % 2 == 0:  # S4: alternate envelope and bare array
                body = json.dumps({"results": records})
            else:
                body = json.dumps(records)
            self._send(200, body.encode())
        else:
            self._send(404, b"{}")


@contextlib.contextmanager
def _serve(handler):
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()


@pytest.fixture(scope="module")
def api_server():
    with _serve(_ApiHandler) as url:
        yield url


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


# ---------------------------------------------------------------------------
# S1/S2
# ---------------------------------------------------------------------------


def test_fetch_csv_happy_path(spark, api_server):
    df = fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS)
    rows = sorted(df.collect(), key=lambda r: r.account_id)
    assert [(r.account_id, r.client_id) for r in rows] == [(1, "c1"), (2, "c1"), (3, "c2")]
    # file-based reads surface every field as nullable; compare names+types
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in ACCOUNTS
    ]


def test_fetch_csv_failure_yields_empty(spark, api_server):
    for name in ["broken", "missing"]:
        df = fetch_csv(spark, api_server, name, TOKEN, CLIENTS)
        assert df.count() == 0
        assert [f.name for f in df.schema] == [f.name for f in CLIENTS]


def test_fetch_csv_bad_token_yields_empty(spark, api_server):
    df = fetch_csv(spark, api_server, "accounts", "wrong-token", ACCOUNTS)
    assert df.count() == 0


def test_fetch_csv_arrow_path_edge_cells(spark, api_server):
    """The raw frame goes through Arrow: with the non-Arrow fallback off, an
    Arrow failure would surface as fetch_csv's empty frame, not as rows.
    Empty and missing cells become NULLs of the schema's types."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = fetch_csv(spark, api_server, "edge", TOKEN, EDGE)
        rows = sorted(df.collect(), key=lambda r: r.id)
        header_only = fetch_csv(spark, api_server, "header_only", TOKEN, EDGE)
        assert header_only.count() == 0
    finally:
        spark.conf.set(key, before)
    assert [tuple(r) for r in rows] == [
        (1, "a", None, None),
        (2, "b", None, None),
        (3, "", None, None),
    ]
    for frame in (df, header_only):
        assert [(f.name, f.dataType) for f in frame.schema] == [
            (f.name, f.dataType) for f in EDGE
        ]


# ---------------------------------------------------------------------------
# S3/S4 — both the partitioned data source and the fallback loop
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("reader", [read_transactions, read_transactions_fallback])
def test_rest_pages_reads_all(spark, api_server, reader):
    df = reader(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    rows = df.collect()
    assert len(rows) == N_TX
    by_id = {r.transaction_id: r for r in rows}
    # envelope page (0) and bare-array page (1) both parsed
    assert by_id[5].amount == "5.25"
    assert by_id[107].amount == "garbage"  # raw string survives to cleaning
    assert by_id[150].account_id == 151 % 3 + 1 - 1 or by_id[150] is not None
    # arrival ordinal is page*limit + idx == transaction id here
    assert all(r._arrival == r.transaction_id for r in rows)
    assert by_id[23].timestamp.month == 3


def test_rest_pages_partitioned_parallelism(spark, api_server):
    df = read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    assert df.rdd.getNumPartitions() == min(spark.sparkContext.defaultParallelism, 11)
    assert df.count() == N_TX


@pytest.mark.parametrize(
    "n_tx", [2 * PAGE_LIMIT + 30, 3 * PAGE_LIMIT], ids=["short_last_page", "full_last_page"]
)
def test_rest_pages_strided_reads(spark, n_tx):
    """Partition i of k reads pages i, i+k, ... and stops at its first short
    page: the rows equal the serial loop's, and each partition fetches at
    most one page past the feed's end. A feed whose last page is full ends
    on an empty page."""
    max_pages = 10
    pages = n_tx // PAGE_LIMIT + 1  # the serial loop's fetches, end page included
    k = min(spark.sparkContext.defaultParallelism, max_pages + 1)

    class Handler(_ApiHandler):
        flaky_failures = {"1": 1}
        tx_requests = []

    Handler.n_tx = n_tx
    with _serve(Handler) as url:
        df = read_transactions(spark, url, TOKEN, limit=PAGE_LIMIT, max_pages=max_pages)
        assert df.rdd.getNumPartitions() == k
        got = sorted(df.collect(), key=lambda r: r._arrival)
        seen = list(Handler.tx_requests)
        want = sorted(
            read_transactions_fallback(spark, url, TOKEN, limit=PAGE_LIMIT, max_pages=max_pages)
            .collect(),
            key=lambda r: r._arrival,
        )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == n_tx and [r._arrival for r in got] == list(range(n_tx))
    # every partition but the end page's fetches one page past it (k - 1
    # requests); the flaky page's retry is one more
    assert len(seen) <= pages + k
    assert seen.count((1, 503)) == 1 and (1, 200) in seen


# ---------------------------------------------------------------------------
# K1-K4 + Q5 against Derby
# ---------------------------------------------------------------------------


def test_jdbc_roundtrip_and_view_ddl(spark, api_server, derby_url):
    from zylyty_data_engineer_challenge_spark.etl.clean import clean_transactions

    accounts = fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS)
    tx = clean_transactions(
        read_transactions_fallback(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    )
    written = jdbc_sink.insert_data_to_tables(
        {"accounts": accounts, "transactions": tx,
         "clients": spark.createDataFrame([], CLIENTS)},  # K1: empty skipped
        derby_url,
    )
    assert written["accounts"] == 3
    assert written["transactions"] == N_TX_CLEAN
    assert written["clients"] == 0

    back = spark.read.jdbc(derby_url, "transactions")
    assert back.count() == N_TX_CLEAN
    amounts = {r["transaction_id"]: r["amount"] for r in back.collect()}
    assert amounts[7] == Decimal("0.00")  # coerced garbage survived the sink typed
    assert amounts[5] == Decimal("5.25")

    # Q5 mechanism: DDL push-through (Derby dialect: no OR REPLACE/TO_CHAR)
    jdbc_sink.execute_ddl(
        spark,
        derby_url,
        # Spark's JDBC writer quotes column identifiers (stored lowercase)
        # but not the table name (stored uppercase) — the DDL must match
        ['CREATE VIEW tx_by_account AS '
         'SELECT "account_id", COUNT("transaction_id") AS n '
         'FROM transactions GROUP BY "account_id"'],
    )
    v = spark.read.jdbc(derby_url, "tx_by_account")
    assert v.count() == 3
    assert sum(r[1] for r in v.collect()) == N_TX_CLEAN

    # K2-K4 append parity: re-writing appends, never replaces (SURVEY.md §8.7)
    jdbc_sink.write_table(accounts, derby_url, "accounts")
    assert spark.read.jdbc(derby_url, "accounts").count() == 6


# ---------------------------------------------------------------------------
# D1/D2 — full pipeline with the graded completion line
# ---------------------------------------------------------------------------


def test_run_pipeline_completion_line(spark, api_server, derby_url, capsys):
    cfg = PipelineConfig(
        api_base_url=api_server,
        admin_api_key=TOKEN,
        jdbc_url=f"{derby_url.replace('testdb', 'pipedb')}",
        push_views=False,  # reference DDL is PG-dialect; Derby can't run it
        use_datasource=True,
    )
    written = run_pipeline(spark, cfg)
    out = capsys.readouterr().out
    # D2: exact format, clients/accounts/transactions order (main.py:58-59)
    assert f"ZYLYTY Data Import Completed [2, 3, {written['transactions']}]" in out
    assert written == {"accounts": 3, "clients": 2, "transactions": written["transactions"]}
    assert written["transactions"] > 0
    # temp views registered for engine-native consumers
    assert spark.table("transactions").count() == written["transactions"]


def test_parse_ts_formats():
    """ISO-8601 variants incl. offsets normalize to UTC-naive; junk -> None."""
    import datetime as dt

    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _parse_ts

    assert _parse_ts("2024-05-01T10:00:00") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01 10:00:00.250000") == dt.datetime(2024, 5, 1, 10, 0, 0, 250000)
    assert _parse_ts("2024-05-01T10:00:00Z") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01T12:00:00+02:00") == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("2024-05-01") == dt.datetime(2024, 5, 1)
    assert _parse_ts(1714557600) == dt.datetime(2024, 5, 1, 10)
    assert _parse_ts("not a date") is None
    assert _parse_ts(None) is None
    assert _parse_ts("") is None


def test_stream_to_jdbc_foreachbatch(spark, derby_url, tmp_path):
    """Streaming foreachBatch delivery into a real database: bounded events
    replay lands in Derby through the typed batch JDBC writer."""
    from zylyty_data_engineer_challenge_spark.streaming.dedup_stream import (
        dedup_events_stream,
        stream_to_jdbc,
    )
    from zylyty_data_engineer_challenge_spark.streaming.views_stream import (
        _stream_events,
    )

    url = derby_url.replace("testdb", "streamdb")
    q = stream_to_jdbc(
        dedup_events_stream(_stream_events(spark, "/root/testdata/sf0.001")),
        url,
        "event_keys",
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    back = spark.read.jdbc(url, "event_keys")
    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from pyspark.sql import functions as F

    expected = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select(
            "user_id", "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("hour"),
        )
        .distinct()
        .count()
    )
    assert back.count() == expected > 0

    # restart with the SAME checkpoint: the source offsets are committed,
    # so the rerun processes zero micro-batches and Derby stays unchanged —
    # the effectively-once contract checkpointLocation exists to provide
    q2 = stream_to_jdbc(
        dedup_events_stream(_stream_events(spark, "/root/testdata/sf0.001")),
        url,
        "event_keys",
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination()
    assert spark.read.jdbc(url, "event_keys").count() == expected


def test_pipeline_registers_engine_native_views(spark, api_server, derby_url):
    """Q5 engine-native: after run_pipeline, the three analytical views are
    queryable through spark.sql without any database."""
    cfg = PipelineConfig(
        api_base_url=api_server,
        admin_api_key=TOKEN,
        jdbc_url=derby_url.replace("testdb", "viewdb"),
        push_views=False,
        use_datasource=False,
    )
    run_pipeline(spark, cfg)
    v2 = spark.sql(
        "SELECT * FROM monthly_transaction_summary ORDER BY month, client_email"
    ).collect()
    assert len(v2) > 0
    assert {r.month for r in v2} == {"2024-03-01"}  # all fixture tx are March
    v3 = spark.sql("SELECT * FROM high_transaction_accounts").collect()
    assert all(r.transaction_count > 2 for r in v3)


# ---------------------------------------------------------------------------
# S3: HTTP 400 semantics (end-of-data past page 0, hard error on page 0)
# ---------------------------------------------------------------------------


class _Always400Handler(BaseHTTPRequestHandler):
    requests: list = []

    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        self.requests.append(self.path)
        body = b'{"error": "bad request"}'
        self.send_response(400)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def bad_request_server():
    _Always400Handler.requests = []
    with _serve(_Always400Handler) as url:
        yield url


def test_page0_400_raises_after_bounded_retries(bad_request_server, monkeypatch):
    # a 400 on the FIRST page is a malformed request, not end-of-data —
    # silently returning an empty dataset would mask a broken integration.
    # max_retries=2 means 3 attempts with a sleep between each, none after
    sleeps = []
    monkeypatch.setattr(rest_pages.time, "sleep", sleeps.append)
    with pytest.raises(RuntimeError, match="page 0 failed after 3 attempts"):
        rest_pages._fetch_page(bad_request_server, TOKEN, 0, 100, timeout=2.0, max_retries=2)
    assert sleeps == [rest_pages.RETRY_SLEEP] * 2
    assert len(_Always400Handler.requests) == 3


def test_past_end_400_is_end_of_data(bad_request_server):
    from zylyty_data_engineer_challenge_spark.sources.rest_pages import _fetch_page

    assert _fetch_page(bad_request_server, TOKEN, 3, 100, timeout=2.0, max_retries=1) == []


def test_pipeline_use_datasource_defaults_to_api_availability():
    assert PipelineConfig().use_datasource is HAS_DATASOURCE_API
