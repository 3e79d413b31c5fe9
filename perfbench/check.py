"""Output check: each op's result against the DuckDB oracle.

Rows, sorted column names and the order-insensitive value hash are those of
``tools/oracle_check.py``, whose ``canon_frame`` and ``audit_frame`` are
imported from there so the benchmark and the oracle gate cannot drift apart.
An op without an oracle entry is checked for its row count and schema
against its warm-up result instead.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _oracle_tools(root: str):
    path = os.path.join(root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OutputCheck:
    """Compares Spark results with DuckDB runs of ``oracle_sql()`` on the
    same generated corpus."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        self.tools = _oracle_tools(root)
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def against_oracle(self, name: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason it does not."""
        problems = self.tools.audit_frame(pdf, "spark")
        opdf = self.con.execute(self.oracles[name]).fetchdf()
        problems += self.tools.audit_frame(opdf, "oracle")
        got, want = self.tools.canon_frame(pdf), self.tools.canon_frame(opdf)
        if got != want:
            problems.append(f"spark(n={got[0]}, h={got[2]}) != oracle(n={want[0]}, h={want[2]})")
        for c in set(pdf.columns) & set(opdf.columns):
            if pdf[c].dtype.kind != opdf[c].dtype.kind:
                problems.append(f"dtype kind {c}: {pdf[c].dtype} vs {opdf[c].dtype}")
        return "; ".join(problems) or None
