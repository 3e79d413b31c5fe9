"""S3/S4 — paginated JSON REST source (reference main.py:90-118).

Reference semantics:

* ``GET {base}/transactions?page={p}&limit=1000``, Bearer auth, pages
  ``0..max_pages`` inclusive (301 pages max — main.py:96-101), stop early
  when a page returns fewer than ``limit`` rows (main.py:111-112);
* page payload is either ``{"results": [...]}`` or a bare JSON array
  (main.py:107-108 — the S4 envelope unwrap);
* on request failure the reference sleeps 2 s and retries the same page
  *forever* (main.py:113-116) — an availability bug; here the retry is
  BOUNDED (``max_retries`` per page, then the page is surfaced as an error)
  per SURVEY.md §2.1's recommendation.

Spark-first shape: a **PySpark Python Data Source** (Spark 4.x,
``pyspark.sql.datasource``) with one partition per parallelism slot;
partition ``i`` of ``k`` reads pages ``i, i+k, ...`` — so a cluster
fetches pages in parallel, a short feed costs only ``k`` tasks, and the
rows never pass through the driver. Each row carries
``_arrival = page*limit + idx``, the stable cross-partition arrival
ordinal that keep-first dedup (T3) needs (SURVEY.md §7 risk 1). A serial
driver-side fallback with identical semantics covers environments without
the data source API.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

try:  # the Python Data Source API is Spark >= 4.0; the serial fallback
    # below works everywhere, so the import must not be load-bearing
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - current env ships Spark 4.x
    HAS_DATASOURCE_API = False
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]

from ..schemas import TRANSACTIONS_RAW

DEFAULT_LIMIT = 1000  # main.py:97
DEFAULT_MAX_PAGES = 300  # main.py:96 (inclusive bound => 301 pages)
DEFAULT_TIMEOUT = 10.0  # main.py:104
RETRY_SLEEP = 2.0  # main.py:115
DEFAULT_MAX_RETRIES = 5  # bounded, unlike the reference


def _parse_ts(v) -> dt.datetime | None:
    """Best-effort timestamp parse. ISO-8601 (incl. offsets) normalizes to
    UTC-naive; unparseable values become NULL. NB: NULL keys then share one
    dedup group per account — callers ingesting feeds with systematically
    unparseable timestamps must extend this, not silently drop rows."""
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


def _unwrap(payload) -> list[dict]:
    """S4: ``{"results": [...]}`` or a bare array (main.py:107-108)."""
    if isinstance(payload, dict):
        return payload.get("results", [])
    return payload if isinstance(payload, list) else []


def _fetch_page(
    base_url: str, token: str, page: int, limit: int, timeout: float, max_retries: int
) -> list[dict]:
    """One page with bounded same-page retry (2 s between attempts, like
    the reference but finite). Raises after ``max_retries + 1`` failed
    attempts, without sleeping after the last one."""
    import requests

    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        if attempt:
            time.sleep(RETRY_SLEEP)
        try:
            resp = requests.get(
                f"{base_url}/transactions",
                params={"page": page, "limit": limit},
                headers={"Authorization": f"Bearer {token}"},
                timeout=timeout,
            )
            if resp.status_code in (404, 410, 416) or (
                resp.status_code == 400 and page > 0
            ):
                # past-the-end page on APIs that error instead of returning
                # an empty list — later partitions probe beyond the feed,
                # so this is end-of-data, not a failure. A 400 on page 0 is
                # a genuinely bad request (malformed params/auth scheme) and
                # must surface, not silently yield an empty dataset
                # (ADVICE r1) — fall through to raise_for_status.
                return []
            resp.raise_for_status()
            return _unwrap(resp.json())
        except Exception as e:  # requests.RequestException + JSON errors
            last_err = e
    raise RuntimeError(f"page {page} failed after {max_retries + 1} attempts") from last_err


def _rows_of(page: int, limit: int, records: Sequence[dict]) -> Iterator[tuple]:
    for idx, rec in enumerate(records):
        yield (
            int(rec["transaction_id"]) if rec.get("transaction_id") is not None else None,
            _parse_ts(rec.get("timestamp")),
            int(rec["account_id"]) if rec.get("account_id") is not None else None,
            None if rec.get("amount") is None else str(rec.get("amount")),
            rec.get("type"),
            rec.get("medium"),
            page * limit + idx,  # _arrival ordinal
        )


class RestPagesReader(DataSourceReader):
    def __init__(self, options: dict):
        self.base_url = options["base_url"]
        self.token = options.get("token", "")
        self.limit = int(options.get("limit", DEFAULT_LIMIT))
        self.max_pages = int(options.get("max_pages", DEFAULT_MAX_PAGES))
        self.timeout = float(options.get("timeout", DEFAULT_TIMEOUT))
        self.max_retries = int(options.get("max_retries", DEFAULT_MAX_RETRIES))
        # ``n``: the session's parallelism; never more partitions than pages
        self.k = min(int(options.get("n", 1)), self.max_pages + 1)

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.k)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        """Executor-side: fetch pages ``i, i+k, i+2k, ...`` up to
        ``max_pages`` (inclusive, main.py:101) serially, stopping at this
        partition's first short page (< limit rows, main.py:111-112). Every
        page before the feed's first short page is read by exactly one
        partition. Each other partition then fetches one page past that
        short page; if the API returns a full page there, its rows are
        kept, where the reference's serial loop would have stopped."""
        for page in range(partition.value, self.max_pages + 1, self.k):
            records = _fetch_page(
                self.base_url, self.token, page, self.limit, self.timeout, self.max_retries
            )
            yield from _rows_of(page, self.limit, records)
            if len(records) < self.limit:  # main.py:111-112
                break


class RestPagesDataSource(DataSource):
    """``spark.read.format("rest_pages").option("base_url", ...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "rest_pages"

    def schema(self):
        return TRANSACTIONS_RAW

    def reader(self, schema) -> RestPagesReader:
        return RestPagesReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(RestPagesDataSource)


def read_transactions(
    spark: SparkSession,
    base_url: str,
    token: str,
    limit: int = DEFAULT_LIMIT,
    max_pages: int = DEFAULT_MAX_PAGES,
) -> DataFrame:
    """Partitioned read through the Python Data Source: one partition per
    ``defaultParallelism`` slot, at most one per page."""
    register(spark)
    return (
        spark.read.format("rest_pages")
        .option("base_url", base_url)
        .option("token", token)
        .option("limit", limit)
        .option("max_pages", max_pages)
        .option("n", spark.sparkContext.defaultParallelism)
        .load()
    )


def read_transactions_fallback(
    spark: SparkSession,
    base_url: str,
    token: str,
    limit: int = DEFAULT_LIMIT,
    max_pages: int = DEFAULT_MAX_PAGES,
    timeout: float = DEFAULT_TIMEOUT,
    max_retries: int = DEFAULT_MAX_RETRIES,
) -> DataFrame:
    """Serial driver-side loop (the reference's own shape, main.py:101-116)
    for environments without the Python Data Source API. Collects all rows
    then creates ONE DataFrame — no O(pages²) concat (SURVEY.md §2.2)."""
    rows: list[tuple] = []
    for page in range(0, max_pages + 1):
        records = _fetch_page(base_url, token, page, limit, timeout, max_retries)
        rows.extend(_rows_of(page, limit, records))
        if len(records) < limit:
            break
    return spark.createDataFrame(rows, TRANSACTIONS_RAW)
