"""D1/D2/D3 — pipeline orchestration (reference main.py:41-59).

``run_pipeline`` sequences ingest → clean → load → views → report, with the
reference's exact external contract:

* the three datasets load independently; a failed ingest yields an empty
  frame that is skipped at the sink, never an abort (SURVEY.md §1.4);
* the completion line is byte-identical to main.py:58-59 —
  ``ZYLYTY Data Import Completed [<clients>, <accounts>, <transactions>]``
  in **clients, accounts, transactions** order (the string the challenge
  platform grades on, README.md:5-7);
* configuration comes from the same seven env vars (main.py:12-21) — but
  unlike the reference (main.py:32-38), secrets are never printed.

Differences by design: the sources fetch on the driver and hand the JVM
one Arrow frame each, so the pipeline starts no Python worker; cleaning
runs in the JVM (``min_by`` dedup on the arrival ordinal, not pandas row
order); each table is one executor-parallel JDBC append that also counts
its rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .etl.clean import clean_transactions
from .schemas import ACCOUNTS, CLIENTS
from .sinks import jdbc as jdbc_sink
from .sources.http_csv import fetch_csv
from .sources.rest_pages import read_transactions

COMPLETION_FMT = "ZYLYTY Data Import Completed [{clients}, {accounts}, {transactions}]"


@dataclass
class PipelineConfig:
    """D3 env contract (main.py:12-21)."""

    api_base_url: str = field(default_factory=lambda: os.environ.get("API_BASE_URL", ""))
    admin_api_key: str = field(default_factory=lambda: os.environ.get("ADMIN_API_KEY", ""))
    db_host: str = field(default_factory=lambda: os.environ.get("DB_HOST", ""))
    db_port: str = field(default_factory=lambda: os.environ.get("DB_PORT", "5432"))
    db_username: str = field(default_factory=lambda: os.environ.get("DB_USERNAME", ""))
    db_password: str = field(default_factory=lambda: os.environ.get("DB_PASSWORD", ""))
    db_name: str = field(default_factory=lambda: os.environ.get("DB_NAME", ""))
    jdbc_url: str | None = None  # overrides db_* when set (tests, non-PG targets)
    push_views: bool = True

    def url(self) -> str:
        if self.jdbc_url:
            return self.jdbc_url
        return f"jdbc:postgresql://{self.db_host}:{self.db_port}/{self.db_name}"

    def jdbc_properties(self) -> dict[str, str]:
        if self.jdbc_url:
            return {}
        return {
            "user": self.db_username,
            "password": self.db_password,
            "driver": "org.postgresql.Driver",
        }


def ingest(spark: SparkSession, cfg: PipelineConfig) -> dict[str, DataFrame]:
    """E1 steps 1-2: fetch the three datasets; transactions get cleaned
    (T2-T4). Ingest failures surface as empty frames, not exceptions —
    except a hard page failure after bounded retries, which (like the
    reference's non-RequestException path, SURVEY.md §8.4) propagates."""
    accounts = fetch_csv(spark, cfg.api_base_url, "accounts", cfg.admin_api_key, ACCOUNTS)
    clients = fetch_csv(spark, cfg.api_base_url, "clients", cfg.admin_api_key, CLIENTS)
    transactions = clean_transactions(
        read_transactions(spark, cfg.api_base_url, cfg.admin_api_key)
    )
    return {"accounts": accounts, "clients": clients, "transactions": transactions}


def run_pipeline(spark: SparkSession, cfg: PipelineConfig | None = None) -> dict[str, int]:
    """The full reference pipeline, Spark-first. Returns written counts and
    prints the graded completion line (D2)."""
    cfg = cfg or PipelineConfig()
    frames = ingest(spark, cfg)

    written = jdbc_sink.insert_data_to_tables(
        frames, cfg.url(), properties=cfg.jdbc_properties()
    )

    # engine-native consumers (Q5): base tables AND the three analytical
    # views become temp views, so `spark.sql("SELECT * FROM
    # monthly_transaction_summary")` works without a database; the DDL
    # push-through to the JDBC target is optional on top
    from .queries import views as view_queries

    for name, df in frames.items():
        df.createOrReplaceTempView(name)
    view_queries.client_transaction_counts_ref(
        frames["clients"], frames["accounts"], frames["transactions"]
    ).createOrReplaceTempView("client_transaction_counts")
    view_queries.monthly_transaction_summary_ref(
        frames["clients"], frames["accounts"], frames["transactions"]
    ).createOrReplaceTempView("monthly_transaction_summary")
    view_queries.high_transaction_accounts_ref(
        frames["transactions"]
    ).createOrReplaceTempView("high_transaction_accounts")
    if cfg.push_views:
        jdbc_sink.create_views(spark, cfg.url(), properties=cfg.jdbc_properties())

    print(
        COMPLETION_FMT.format(
            clients=written.get("clients", 0),
            accounts=written.get("accounts", 0),
            transactions=written.get("transactions", 0),
        )
    )
    return written
