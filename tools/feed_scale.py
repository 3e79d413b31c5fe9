#!/usr/bin/env python
"""The reference pipeline's transactions ingest at the feed's contract
maximum: 301 pages of 1,000 records (main.py:96-101).

The feed is 300 full pages and a last page of 500 records (300,500 rows);
even pages use the ``{"results": [...]}`` envelope, odd pages the bare
array, and about 1% of amounts are malformed. A separate process serves it
on 127.0.0.1 with bearer auth. Each repetition times

    clean_transactions(read_transactions(spark, url, token))
        .write.format("noop").mode("overwrite").save()

after one untimed warm-up repetition, which also counts the cleaned rows.

Usage: python tools/feed_scale.py [--reps N]
Prints one JSON line: {"reps_s": [...], "median_s": ..., "clean_rows": ...}.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import random
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TOKEN = "feed-scale-token"
LIMIT = 1000
PAGES = 301
ROWS = 300 * LIMIT + LIMIT // 2


def _pages() -> list[bytes]:
    rng = random.Random(7)
    out = []
    for p in range(PAGES):
        rows = [
            {
                "transaction_id": i,
                "timestamp": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00",
                "account_id": rng.randint(1, 5000),
                "amount": "N/A" if rng.random() < 0.01 else f"{rng.uniform(1, 5000):.2f}",
                "type": ("debit", "topup")[i % 2],
                "medium": ("card", "online", "atm")[i % 3],
            }
            for i in range(p * LIMIT, min((p + 1) * LIMIT, ROWS))
        ]
        out.append(json.dumps({"results": rows} if p % 2 == 0 else rows).encode())
    return out


def _serve(port_out) -> None:
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    pages = _pages()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            url = urlparse(self.path)
            if self.headers.get("Authorization") != f"Bearer {TOKEN}":
                code, body = 401, b"{}"
            elif url.path != "/transactions":
                code, body = 404, b"{}"
            else:
                page = int(parse_qs(url.query)["page"][0])
                code, body = 200, pages[page] if page < PAGES else b"[]"
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    httpd.daemon_threads = True
    port_out.send(httpd.server_address[1])
    httpd.serve_forever()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    recv, send = mp.Pipe(duplex=False)
    server = mp.get_context("spawn").Process(target=_serve, args=(send,), daemon=True)
    server.start()
    url = f"http://127.0.0.1:{recv.recv()}"

    from zylyty_data_engineer_challenge_spark.etl.clean import clean_transactions
    from zylyty_data_engineer_challenge_spark.session import get_spark
    from zylyty_data_engineer_challenge_spark.sources.rest_pages import read_transactions

    spark = get_spark("feed-scale")
    try:
        clean_rows = clean_transactions(read_transactions(spark, url, TOKEN)).count()
        reps = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            clean_transactions(read_transactions(spark, url, TOKEN)).write.format(
                "noop"
            ).mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 3))
    finally:
        spark.stop()
        server.terminate()
        server.join()
    print(json.dumps({"reps_s": reps, "median_s": statistics.median(reps),
                      "clean_rows": clean_rows}))


if __name__ == "__main__":
    main()
