"""Output checks against the package's DuckDB oracle.

The expected rows are computed once per run from ``autoextraction_spark.
oracle`` over a DuckDB view of the generated ``documents.parquet``; every
timed operation's output is then compared with them: row count first, then
the rows themselves as multisets (``EXCEPT ALL`` both ways).
"""

from __future__ import annotations

import re

import duckdb

from autoextraction_spark import oracle

#: per workload: output name -> (oracle SQL, SQL over the produced parquet
#: under ``{out}``); jaccard is compared at the oracle's 6 decimals
_TRIPLES = "SELECT url, pred, subj, obj FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
QUERIES = {
    "extract": {
        "triples": (oracle.gold_triples_sql(canonical=False), _TRIPLES),
    },
    "kg_job": {
        "triples": (oracle.gold_triples_sql(canonical=True), _TRIPLES),
    },
    "dedup": {
        "pairs": (
            f"SELECT id_a, id_b, CAST(jaccard AS DOUBLE) AS jaccard "
            f"FROM ({oracle.minhash_pairs_sql(0.8)})",
            "SELECT id_a, id_b, round(jaccard, 6) AS jaccard "
            "FROM read_parquet('{out}/pairs/*.parquet')",
        ),
        "simhash": (
            oracle.simhash_sql(),
            "SELECT id, simhash FROM read_parquet('{out}/simhash/*.parquet')",
        ),
    },
}


def _materialized(sql: str) -> str:
    """The same query with every CTE materialized. DuckDB otherwise inlines
    each CTE at every reference, and the minhash oracle references its
    band and shingle CTEs several times (3.9 s instead of 10.1 s at 20k
    documents, with identical rows)."""
    return re.sub(r"(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


class Checker:
    """Expected outputs of one workload over one generated data directory."""

    def __init__(self, workload: str, data_dir: str):
        self.queries = QUERIES[workload]
        self.con = duckdb.connect()
        self.con.sql("SET enable_progress_bar = false")
        self.con.sql(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')"
        )
        self.expected_rows = {}
        for name, (sql, _) in self.queries.items():
            self.con.sql(f"CREATE TABLE exp_{name} AS {_materialized(sql)}")
            self.expected_rows[name] = self.con.sql(f"SELECT count(*) FROM exp_{name}").fetchone()[0]

    def check(self, out: str) -> list[str]:
        """Mismatches of the output under ``out``; empty when it is right."""
        problems = []
        for name, (_, result_sql) in self.queries.items():
            try:
                self.con.sql(f"CREATE OR REPLACE TEMP VIEW res AS {result_sql.format(out=out)}")
                n = self.con.sql("SELECT count(*) FROM res").fetchone()[0]
            except duckdb.Error as e:
                problems.append(f"{name}: unreadable output ({e})")
                continue
            if n != self.expected_rows[name]:
                problems.append(f"{name}: {n} rows, expected {self.expected_rows[name]}")
            missing = self.con.sql(
                f"SELECT count(*) FROM (SELECT * FROM exp_{name} EXCEPT ALL SELECT * FROM res)"
            ).fetchone()[0]
            extra = self.con.sql(
                f"SELECT count(*) FROM (SELECT * FROM res EXCEPT ALL SELECT * FROM exp_{name})"
            ).fetchone()[0]
            if missing or extra:
                problems.append(f"{name}: {missing} expected rows missing, {extra} unexpected")
        return problems

    def close(self) -> None:
        self.con.close()
