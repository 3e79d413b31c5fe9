"""K1-K4 — JDBC sinks + view DDL push-through (reference main.py:129-223).

Reference semantics:

* K1: each table loads only if its frame is non-empty, so a failed ingest
  never aborts the others (main.py:131-136);
* K2-K4: ``to_sql(if_exists='append')`` with an explicit SQL type per
  column (main.py:139-172) — append is load-bearing: re-running the
  pipeline duplicates rows (SURVEY.md §8.7), and the declared types are the
  de-facto schema (SURVEY.md §1.2);
* Q5: views are DDL strings executed on the target database
  (main.py:175-223), so downstream consumers query them *in Postgres* —
  the engine pushes the definition, not the rows.

Spark-first shape: ``df.write.jdbc`` with ``createTableColumnTypes``
carrying the reference's exact DDL types (schemas.JDBC_COLUMN_TYPES);
``batchsize`` + ``numPartitions`` control executor-parallel inserts — at
scale the write is N parallel connections, not a driver funnel. Each table
is one write action whose row count is an ``Observation`` on that write;
the K1 emptiness test reads the plan (a source with no rows returns an
empty local relation), so it runs no job. View DDL goes over a single JVM
``DriverManager`` connection (no rows flow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import JDBC_COLUMN_TYPES

# The three analytical views, verbatim semantics from main.py:183-221
# (PostgreSQL dialect — TO_CHAR/DATE_TRUNC; see queries/views.py for the
# engine-native DataFrame forms and SURVEY.md §8.2 for the view-3 quirk).
VIEW_DDL = {
    "client_transaction_counts": """
        CREATE OR REPLACE VIEW client_transaction_counts AS
        SELECT c.client_id, COUNT(tr.transaction_id) AS transaction_count
        FROM clients c
        JOIN accounts a ON c.client_id = a.client_id
        JOIN transactions tr ON a.account_id = tr.account_id
        GROUP BY c.client_id
        ORDER BY c.client_id
    """,
    "monthly_transaction_summary": """
        CREATE OR REPLACE VIEW monthly_transaction_summary AS
        SELECT TO_CHAR(DATE_TRUNC('month', tr.timestamp), 'YYYY-MM-01') AS month,
               c.client_email,
               COUNT(tr.transaction_id) AS transaction_count,
               SUM(tr.amount) AS total_amount
        FROM transactions tr
        JOIN accounts a ON tr.account_id = a.account_id
        JOIN clients c ON c.client_id = a.client_id
        GROUP BY month, c.client_email
        ORDER BY month, c.client_email
    """,
    "high_transaction_accounts": """
        CREATE OR REPLACE VIEW high_transaction_accounts AS
        SELECT TO_CHAR(DATE_TRUNC('month', timestamp), 'YYYY-MM-DD') AS date,
               account_id,
               COUNT(transaction_id) AS transaction_count
        FROM transactions
        GROUP BY date, account_id
        HAVING COUNT(transaction_id) > 2
        ORDER BY date, account_id
    """,
}


def write_table(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",  # reference parity: if_exists='append' (main.py:146)
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """K2-K4: executor-parallel JDBC append with explicit column DDL types."""
    writer = df
    if num_partitions:
        writer = df.repartition(num_partitions)
    opts = dict(properties or {})
    if table in JDBC_COLUMN_TYPES:
        opts["createTableColumnTypes"] = JDBC_COLUMN_TYPES[table]
    opts["batchsize"] = str(batchsize)
    writer.write.mode(mode).options(**opts).jdbc(url, table, properties=properties or {})


def _known_empty(df: DataFrame) -> bool:
    """Whether the frame's optimized plan is an empty local relation, which
    is what a source returns when it has no rows. Costs planning, no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.nodeName() == "LocalRelation" and plan.data().isEmpty()


def insert_data_to_tables(
    frames: dict[str, DataFrame],
    url: str,
    properties: dict[str, str] | None = None,
) -> dict[str, int]:
    """K1: load each non-empty frame; a frame the driver knows is empty is
    skipped and creates no table (main.py:131-136). Returns per-table
    written row counts, 0 for a skipped table.

    Each table is one action: the count is observed on the write itself,
    so the frame's lineage runs once and the count equals the rows written.
    """
    written: dict[str, int] = {}
    for table, df in frames.items():
        if _known_empty(df):
            written[table] = 0
            continue
        obs = Observation()
        write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")), url, table,
                    properties=properties)
        written[table] = obs.get["rows"]
    return written


def execute_ddl(spark: SparkSession, url: str, statements: list[str],
                properties: dict[str, str] | None = None) -> None:
    """Run DDL on the JDBC target through the JVM's DriverManager — the
    Spark analog of the reference's session.execute(text(sql)) (main.py:192).
    No rows flow; the database stores the view definitions."""
    props = properties or {}
    jvm = spark._jvm
    ju_props = jvm.java.util.Properties()
    for k, v in props.items():
        ju_props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, ju_props)
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()


def create_views(spark: SparkSession, url: str,
                 properties: dict[str, str] | None = None,
                 ddl: dict[str, str] | None = None) -> None:
    """Q5: push the three view definitions to the target database."""
    execute_ddl(spark, url, list((ddl or VIEW_DDL).values()), properties)
