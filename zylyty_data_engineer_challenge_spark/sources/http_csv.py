"""S1/S2 — authenticated HTTP CSV sources (reference main.py:62-87).

Reference semantics preserved exactly:

* ``GET {base_url}/download/{name}.csv`` with ``Authorization: Bearer`` and a
  10 s timeout (main.py:63-66);
* **any** failure (network, HTTP status, parse) yields an *empty* DataFrame
  — the pipeline loads what it can (main.py:71-73, SURVEY.md §8.4).

Spark-first shape: the body (already driver-resident — it came over one
HTTP response) is CSV-parsed driver-side into an object-dtype pandas frame,
which Arrow hands to the JVM (a list of tuples would be pickled through a
Python worker on every action), then cast JVM-side to the declared schema.
No temp files: a driver-local spool path would break on a real cluster
(executors cannot read the driver's /tmp). Feeds too large for one
driver-held response belong in object storage + ``spark.read.csv`` — that
is a different source, not this one (the reference's feed is a single
bounded download, main.py:62-69).
"""

from __future__ import annotations

import csv
import io

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

try:
    import requests
except ImportError:  # pragma: no cover - requests is stdlib-adjacent here
    requests = None

DEFAULT_TIMEOUT = 10.0  # main.py:66


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame whose plan is an empty local relation: the sink sees
    it is empty on the driver and skips it without a job (K1)."""
    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def fetch_csv(
    spark: SparkSession,
    base_url: str,
    name: str,
    token: str,
    schema: T.StructType,
    timeout: float = DEFAULT_TIMEOUT,
) -> DataFrame:
    """Fetch ``{base_url}/download/{name}.csv`` into a typed DataFrame.

    Returns an empty DataFrame (with the right schema) on any failure,
    mirroring the reference's silent-failure ethos (main.py:71-73).
    """
    if requests is None:
        return empty_frame(spark, schema)
    try:
        resp = requests.get(
            f"{base_url}/download/{name}.csv",
            headers={"Authorization": f"Bearer {token}"},
            timeout=timeout,
        )
        resp.raise_for_status()
        body = resp.content
    except Exception:
        return empty_frame(spark, schema)

    try:
        reader = csv.DictReader(io.StringIO(body.decode("utf-8")))
        names = [f.name for f in schema.fields]
        raw_schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
        rows = [tuple(rec.get(n) for n in names) for rec in reader]
        if not rows:
            return empty_frame(spark, schema)
        raw = spark.createDataFrame(pd.DataFrame(rows, columns=names, dtype=object), raw_schema)
        # JVM-side casts to the declared types (PERMISSIVE: bad cells -> NULL)
        return raw.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    except Exception:
        return empty_frame(spark, schema)
