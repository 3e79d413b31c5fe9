"""End-to-end tests for S1-S4 sources, K1-K4 sinks, and the pipeline (D1/D2).

A threaded stdlib HTTP server plays the challenge API: authenticated CSV
downloads, paginated JSON transactions (envelope AND bare-array pages, one
flaky page that fails once to exercise bounded retry). Derby embedded plays
the JDBC target so the sink + DDL path runs against a real database.
"""

from __future__ import annotations

import contextlib
import json
import re
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
from zylyty_data_engineer_challenge_spark.sources.rest_pages import parse_pages, read_transactions

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
# S3/S4 — driver-side fetch, JVM-side parse
# ---------------------------------------------------------------------------


def _expected_rows(n_tx: int) -> list[tuple]:
    """The fixture feed's raw rows, as the reader must return them."""
    import datetime as dt

    return [
        (
            t["transaction_id"],
            dt.datetime.fromisoformat(t["timestamp"]),
            t["account_id"],
            t["amount"],
            t["type"],
            t["medium"],
            i,
        )
        for i, t in enumerate(_tx(i) for i in range(n_tx))
    ]


def test_rest_pages_reads_all(spark, api_server):
    df = read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
    rows = df.collect()
    assert len(rows) == N_TX
    by_id = {r.transaction_id: r for r in rows}
    # envelope pages (0, 2) and the bare-array page (1) are all parsed
    assert by_id[5].amount == "5.25"
    assert by_id[107].amount == "garbage"  # raw string survives to cleaning
    assert by_id[229].account_id == 229 % 3 + 1
    # arrival ordinal is page*limit + idx == transaction id here
    assert all(r._arrival == r.transaction_id for r in rows)
    assert by_id[23].timestamp.month == 3
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in rest_pages.TRANSACTIONS_RAW
    ]


@pytest.mark.parametrize(
    "n_tx", [2 * PAGE_LIMIT + 30, 3 * PAGE_LIMIT], ids=["short_last_page", "full_last_page"]
)
def test_rest_pages_strided_reads(spark, n_tx):
    """``k`` requests stay in flight, so slot i of k reads pages i, i+k, ...;
    the rows equal the feed's in arrival order, the feed's end costs at most
    k - 1 requests past its end page, and the flaky page is retried once. A
    feed whose last page is full ends on an empty page."""
    max_pages = 10
    pages = n_tx // PAGE_LIMIT + 1  # the serial loop's fetches, end page included
    k = min(spark.sparkContext.defaultParallelism, max_pages + 1)

    class Handler(_ApiHandler):
        flaky_failures = {"1": 1}
        tx_requests = []

    Handler.n_tx = n_tx
    with _serve(Handler) as url:
        got = sorted(
            read_transactions(spark, url, TOKEN, limit=PAGE_LIMIT, max_pages=max_pages).collect(),
            key=lambda r: r._arrival,
        )
        seen = list(Handler.tx_requests)
    assert [tuple(r) for r in got] == _expected_rows(n_tx)
    retries = seen.count((1, 503))
    assert retries == 1 and (1, 200) in seen
    assert len(seen) <= pages + k - 1 + retries


class _ShortThenFullHandler(_ApiHandler):
    """Page 1 is short; page 2 is full again, and page 3 fails."""

    flaky_failures: dict = {}
    tx_requests: list = []

    def do_GET(self):  # noqa: N802
        url = urlparse(self.path)
        page = int(parse_qs(url.query).get("page", ["0"])[0])
        self.tx_requests.append(page)
        if page == 3:
            self._send(500, b'{"error": "boom"}')
            return
        size = {0: PAGE_LIMIT, 1: 7}.get(page, PAGE_LIMIT)
        start = page * PAGE_LIMIT
        self._send(200, json.dumps([_tx(i) for i in range(start, start + size)]).encode())


def test_rest_pages_stop_at_first_short_page(spark, monkeypatch):
    """Like the reference's serial loop (main.py:111-112), the read ends at
    the first short page in page order: a full page after it is discarded,
    and so is an error from a later page."""
    monkeypatch.setattr(rest_pages.time, "sleep", lambda s: None)
    _ShortThenFullHandler.tx_requests = []
    with _serve(_ShortThenFullHandler) as url:
        rows = read_transactions(spark, url, TOKEN, limit=PAGE_LIMIT, max_pages=10).collect()
    assert sorted(r._arrival for r in rows) == list(range(PAGE_LIMIT + 7))
    assert sorted(r.transaction_id for r in rows) == list(range(PAGE_LIMIT)) + list(
        range(PAGE_LIMIT, PAGE_LIMIT + 7)
    )


def _parse(spark, bodies: list, limit: int = PAGE_LIMIT) -> list:
    """``parse_pages`` over one page per JSON body, rows in arrival order."""
    import pyarrow as pa

    raw = spark.createDataFrame(pa.table({
        "page": pa.array(range(len(bodies)), pa.int64()),
        "body": pa.array([json.dumps(b).encode() for b in bodies], pa.binary()),
    }))
    return sorted(parse_pages(raw, limit).collect(), key=lambda r: r._arrival)


def _py_parse_ts(v):
    """The Python timestamp rule the JVM parse replaced: a number is epoch
    seconds, a string is ``datetime.fromisoformat`` with ``Z`` read as UTC
    and offsets normalized to UTC-naive, anything unparseable is None."""
    import datetime as dt

    if v is None or v == "":
        return None
    if isinstance(v, (int, float)):
        return dt.datetime.fromtimestamp(v, dt.timezone.utc).replace(tzinfo=None)
    try:
        parsed = dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    except ValueError:
        return None
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def test_parse_ts_formats(spark):
    """ISO-8601 variants incl. offsets normalize to UTC-naive; a JSON number
    is epoch seconds; junk, ``""`` and an epoch written as a JSON string
    become NULL, as in the Python rule. The JVM parse differs on four
    values, pinned below."""
    import datetime as dt

    same = [
        ("2024-05-01T10:00:00", dt.datetime(2024, 5, 1, 10)),
        ("2024-05-01 10:00:00.250000", dt.datetime(2024, 5, 1, 10, 0, 0, 250000)),
        ("2024-05-01T10:00:00Z", dt.datetime(2024, 5, 1, 10)),
        ("2024-05-01T12:00:00+02:00", dt.datetime(2024, 5, 1, 10)),
        ("2024-05-01", dt.datetime(2024, 5, 1)),
        (1714557600, dt.datetime(2024, 5, 1, 10)),
        (1714557600.5, dt.datetime(2024, 5, 1, 10, 0, 0, 500000)),
        ("not a date", None),
        (None, None),
        ("", None),
        ("1714557600", None),
    ]
    # value, JVM result, Python result
    changed = [
        ("2024", dt.datetime(2024, 1, 1), None),  # a bare year is a date
        (" 2024-05-01 ", dt.datetime(2024, 5, 1), None),  # surrounding blanks trimmed
        ("20240501T100000", None, dt.datetime(2024, 5, 1, 10)),  # basic format
        (True, None, dt.datetime(1970, 1, 1, 0, 0, 1)),  # a boolean is not epoch 1
    ]
    values = [v for v, _ in same] + [v for v, _, _ in changed]
    rows = _parse(spark, [[{"timestamp": v} for v in values]])
    got = [r.timestamp for r in rows]
    assert got == [want for _, want in same] + [jvm for _, jvm, _ in changed]
    assert [_py_parse_ts(v) for v, _ in same] == [want for _, want in same]
    assert [_py_parse_ts(v) for v, _, _ in changed] == [py for _, _, py in changed]


def test_parse_pages_value_table(spark):
    """Ids, amounts, type/medium and the three body shapes against the
    Python row rule (``int(id)``, ``str(amount)``, values as-is)."""
    records = [
        {"transaction_id": 1, "account_id": 2, "amount": None, "type": "dep", "medium": "card"},
        {"transaction_id": "3", "account_id": "4", "amount": "", "type": None},
        {"transaction_id": 5, "account_id": 6, "amount": "garbage", "medium": "cash"},
        {"transaction_id": 7, "account_id": 8, "amount": 12.5},
        {"transaction_id": None, "amount": 100},
        # an id that is neither a number nor a numeric string made the
        # Python rule raise (int("x1")) and fail the read; it is NULL now
        {"transaction_id": "x1", "account_id": "", "amount": "1e3"},
    ]
    bodies = [
        {"results": records[:3]},  # envelope
        records[3:],  # bare array
        {"data": records},  # a dict without results: no rows
        {"results": None},  # results that is not a list: no rows
    ]
    rows = _parse(spark, bodies)
    assert [tuple(r) for r in rows] == [
        (1, None, 2, None, "dep", "card", 0),
        (3, None, 4, "", None, None, 1),
        (5, None, 6, "garbage", None, "cash", 2),
        (7, None, 8, "12.5", None, None, PAGE_LIMIT),
        (None, None, None, "100", None, None, PAGE_LIMIT + 1),
        (None, None, None, "1e3", None, None, PAGE_LIMIT + 2),
    ]
    assert rest_pages._unwrap(bodies[0]) == records[:3]
    assert rest_pages._unwrap(bodies[1]) == records[3:]
    assert rest_pages._unwrap(bodies[2]) == rest_pages._unwrap(bodies[3]) == []


# ---------------------------------------------------------------------------
# K1-K4 + Q5 against Derby
# ---------------------------------------------------------------------------


def test_jdbc_roundtrip_and_view_ddl(spark, api_server, derby_url):
    from zylyty_data_engineer_challenge_spark.etl.clean import clean_transactions

    accounts = fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS)
    tx = clean_transactions(
        read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
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
    )
    written = run_pipeline(spark, cfg)
    out = capsys.readouterr().out
    # D2: exact format, clients/accounts/transactions order (main.py:58-59)
    assert f"ZYLYTY Data Import Completed [2, 3, {written['transactions']}]" in out
    assert written == {"accounts": 3, "clients": 2, "transactions": written["transactions"]}
    assert written["transactions"] > 0
    # temp views registered for engine-native consumers
    assert spark.table("transactions").count() == written["transactions"]


def _derby_counts(spark, url: str) -> dict[str, int]:
    """``COUNT(*)`` of each pipeline table that exists in the database."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        meta, stmt, counts = conn.getMetaData(), conn.createStatement(), {}
        for t in ("clients", "accounts", "transactions"):
            if meta.getTables(None, None, t.upper(), None).next():
                rs = stmt.executeQuery(f"SELECT COUNT(*) FROM {t}")
                rs.next()
                counts[t] = rs.getLong(1)
        return counts
    finally:
        conn.close()


def test_pipeline_counts_match_derby_and_plans_have_no_python(spark, api_server, derby_url):
    """Every written count is the table's row count in the database, and no
    pipeline frame plans a Python node: the sources hand the JVM Arrow
    frames and the JVM parses the feed."""
    url = derby_url.replace("testdb", "countdb")
    written = run_pipeline(
        spark, PipelineConfig(api_base_url=api_server, admin_api_key=TOKEN, jdbc_url=url,
                              push_views=False)
    )
    assert _derby_counts(spark, url) == written == {
        "accounts": 3, "clients": 2, "transactions": N_TX_CLEAN,
    }
    for t in written:
        plan = spark.table(t)._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Python|MapInPandas|MapInArrow|ArrowEval", plan), plan


class _OneSourceEmptyHandler(_ApiHandler):
    """The fixture API with one dataset empty: clients is a header-only CSV,
    accounts fails with a 500, transactions is an empty envelope."""

    empty = ""
    flaky_failures: dict = {}
    tx_requests: list = []

    def do_GET(self):  # noqa: N802
        path = urlparse(self.path).path
        if self.empty == "clients" and path == "/download/clients.csv":
            self._send(200, CLIENTS_CSV.split("\n")[0].encode() + b"\n", "text/csv")
        elif self.empty == "accounts" and path == "/download/accounts.csv":
            self._send(500, b"boom", "text/plain")
        elif self.empty == "transactions" and path == "/transactions":
            self._send(200, b'{"results": []}')
        else:
            super().do_GET()


@pytest.mark.parametrize("empty", ["clients", "accounts", "transactions"])
def test_k1_empty_source_creates_no_table(spark, derby_url, empty):
    """K1 (main.py:131-136): an empty dataset creates no table and writes 0;
    the other two tables are written in full."""

    class Handler(_OneSourceEmptyHandler):
        pass

    Handler.empty = empty
    url = derby_url.replace("testdb", f"k1{empty}db")
    with _serve(Handler) as api:
        written = run_pipeline(
            spark, PipelineConfig(api_base_url=api, admin_api_key=TOKEN, jdbc_url=url,
                                  push_views=False)
        )
    counts = _derby_counts(spark, url)
    assert written[empty] == 0 and empty not in counts
    assert counts == {t: n for t, n in written.items() if t != empty}
    assert all(n > 0 for n in counts.values())


def test_insert_data_to_tables_one_action_per_table(spark, api_server, derby_url):
    """Three non-empty tables cost at most 4 jobs: one write each, whose
    observed count is the written count, plus the transactions dedup's
    shuffle stage; no persist, no separate count."""
    from zylyty_data_engineer_challenge_spark.etl.clean import clean_transactions

    frames = {
        "accounts": fetch_csv(spark, api_server, "accounts", TOKEN, ACCOUNTS),
        "clients": fetch_csv(spark, api_server, "clients", TOKEN, CLIENTS),
        "transactions": clean_transactions(
            read_transactions(spark, api_server, TOKEN, limit=PAGE_LIMIT, max_pages=10)
        ),
    }
    url = derby_url.replace("testdb", "jobsdb")
    sc = spark.sparkContext
    sc.setJobGroup("insert-one-action", "insert_data_to_tables")
    try:
        written = jdbc_sink.insert_data_to_tables(frames, url)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert written == {"accounts": 3, "clients": 2, "transactions": N_TX_CLEAN}
    assert len(sc.statusTracker().getJobIdsForGroup("insert-one-action")) <= 4
    assert not any(df.is_cached for df in frames.values())


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

    assert _fetch_page(bad_request_server, TOKEN, 3, 100, timeout=2.0, max_retries=1) == (
        b"[]",
        0,
    )
