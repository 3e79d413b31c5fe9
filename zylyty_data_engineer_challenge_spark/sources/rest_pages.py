"""S3/S4 — paginated JSON REST source (reference main.py:90-118).

Reference semantics:

* ``GET {base}/transactions?page={p}&limit=1000``, Bearer auth, pages
  ``0..max_pages`` inclusive (301 pages max — main.py:96-101), stopping at
  the first page with fewer than ``limit`` records (main.py:111-112);
* a page body is either ``{"results": [...]}`` or a bare JSON array
  (main.py:107-108 — the S4 envelope unwrap); any other body has no records;
* on request failure the reference sleeps 2 s and retries the same page
  *forever* (main.py:113-116) — an availability bug; here the retry is
  bounded (``max_retries`` per page, then the read fails) per SURVEY.md
  §2.1's recommendation.

Spark-first shape: the feed is bounded by contract (at most 301 pages of
1,000 records), so the driver fetches it, keeping ``k = min(defaultParallelism,
max_pages + 1)`` requests in flight. The driver reads each body only to count
its records, which is what decides where the feed ends; every page after the
first short page, and any error from those pages, is discarded. The bodies go
to the JVM as one ``(page, body)`` Arrow frame, and the JVM parses them with
``parse_json``/``try_variant_get``, so no Python worker ever runs. Each row
carries ``_arrival = page * limit + idx``, the arrival ordinal keep-first
dedup (T3) needs (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRANSACTIONS_RAW
from .http_csv import empty_frame

DEFAULT_LIMIT = 1000  # main.py:97
DEFAULT_MAX_PAGES = 300  # main.py:96 (inclusive bound => 301 pages)
DEFAULT_TIMEOUT = 10.0  # main.py:104
RETRY_SLEEP = 2.0  # main.py:115
DEFAULT_MAX_RETRIES = 5  # bounded, unlike the reference


def _unwrap(payload) -> list:
    """S4: ``{"results": [...]}`` or a bare array (main.py:107-108); any
    other payload has no records."""
    if isinstance(payload, dict):
        payload = payload.get("results")
    return payload if isinstance(payload, list) else []


def _fetch_page(
    base_url: str, token: str, page: int, limit: int, timeout: float, max_retries: int
) -> tuple[bytes, int]:
    """One page's body and its record count, with bounded same-page retry
    (2 s between attempts, like the reference but finite). Raises after
    ``max_retries + 1`` failed attempts, without sleeping after the last one.

    A 404/410/416, or a 400 past page 0, is a past-the-end page on APIs that
    error instead of returning an empty list: end of data, not a failure. A
    400 on page 0 is a bad request (malformed parameters or auth scheme) and
    is retried and raised like any other failure, never read as an empty
    feed."""
    req = urllib.request.Request(
        f"{base_url}/transactions?page={page}&limit={limit}",
        headers={"Authorization": f"Bearer {token}"},
    )
    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        if attempt:
            time.sleep(RETRY_SLEEP)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = resp.read()
            return body, len(_unwrap(json.loads(body)))
        except urllib.error.HTTPError as e:
            if e.code in (404, 410, 416) or (e.code == 400 and page > 0):
                return b"[]", 0
            last_err = e
        except Exception as e:  # network, timeout and JSON errors
            last_err = e
    raise RuntimeError(f"page {page} failed after {max_retries + 1} attempts") from last_err


def _fetch_feed(
    base_url: str, token: str, limit: int, max_pages: int, k: int
) -> list[tuple[int, bytes]]:
    """``(page, body)`` of every page with records, in page order, up to and
    including the first short page. ``k`` requests stay in flight; results
    of pages past the short page, errors included, are never read."""
    fetch = partial(
        _fetch_page, base_url, token,
        limit=limit, timeout=DEFAULT_TIMEOUT, max_retries=DEFAULT_MAX_RETRIES,
    )
    pool = ThreadPoolExecutor(k)
    try:
        in_flight = deque(pool.submit(fetch, p) for p in range(min(k, max_pages + 1)))
        out = []
        for page in range(max_pages + 1):
            body, n = in_flight.popleft().result()
            if n:
                out.append((page, body))
            if n < limit:  # main.py:111-112
                break
            if page + k <= max_pages:
                in_flight.append(pool.submit(fetch, page + k))
        return out
    finally:
        pool.shutdown(wait=False, cancel_futures=True)


def parse_pages(raw: DataFrame, limit: int) -> DataFrame:
    """JVM-side parse of a ``(page, body)`` frame into ``TRANSACTIONS_RAW``.

    Variant casts keep the JSON type of each value: a number timestamp is
    epoch seconds, a string one is ISO-8601 (an offset or ``Z`` normalizes
    to UTC), and ``""``, junk or an epoch written as a string become NULL;
    ids take numbers and numeric strings, anything else is NULL."""
    v = F.parse_json(F.col("body").cast("string"))
    records = F.coalesce(
        F.try_variant_get(v, "$.results", "array<variant>"),
        F.try_variant_get(v, "$", "array<variant>"),
    )
    rows = raw.select("page", F.posexplode(records).alias("idx", "rec"))
    return rows.select(
        *[
            F.try_variant_get("rec", f"$.{f.name}", f.dataType.simpleString()).alias(f.name)
            for f in TRANSACTIONS_RAW.fields
            if f.name != "_arrival"
        ],
        (F.col("page") * limit + F.col("idx")).alias("_arrival"),
    )


def read_transactions(
    spark: SparkSession,
    base_url: str,
    token: str,
    limit: int = DEFAULT_LIMIT,
    max_pages: int = DEFAULT_MAX_PAGES,
) -> DataFrame:
    """The feed as ``TRANSACTIONS_RAW``: fetched on the driver with
    ``min(defaultParallelism, max_pages + 1)`` requests in flight, parsed in
    the JVM. A feed with no records is an empty local relation, so the
    sink's K1 skip needs no job."""
    k = min(spark.sparkContext.defaultParallelism, max_pages + 1)
    feed = _fetch_feed(base_url, token, limit, max_pages, k)
    if not feed:
        return empty_frame(spark, TRANSACTIONS_RAW)
    pages, bodies = zip(*feed)
    raw = spark.createDataFrame(
        pa.table({"page": pa.array(pages, pa.int64()), "body": pa.array(bodies, pa.binary())})
    )
    return parse_pages(raw, limit)
