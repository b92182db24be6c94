"""DuckDB oracle check for registry queries, with the canonicaliser
of ``tools/check_correctness.py``."""

from __future__ import annotations

import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def check_queries(sf_dir: str, results: dict[str, pd.DataFrame]) -> list[str]:
    """Compare each Spark result in ``results`` with the query's
    ``oracle_sql()`` run by DuckDB on the same parquet files; return
    one line per mismatch."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import compare

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        problems = []
        for name, got in results.items():
            if name not in oracles:
                problems.append(f"{name}: no oracle")
                continue
            want = con.execute(oracles[name]).fetchdf()
            problems += [f"{name}: {p}" for p in compare(name, got, want)]
        return problems
    finally:
        con.close()
