"""Recompute ``golden.json``: the DuckDB twin of the ``corpus_chain``
query (``__spark_entry__.oracle_sql()``) over the vendored sf0.01 tables.

The seed only permutes the rows and the file split of these tables, so
the twin's result is the same for every run. It is pinned here as a row
count and canonical digest, and ``corpus_chain`` compares the engine's
output with it.

Run from the repository root:  python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    import duckdb

    sys.path.insert(0, os.getcwd())
    import __spark_entry__
    from workloads import CORPUS_QUERY, DATA, GOLDEN, canonical_digest

    con = duckdb.connect(config={"memory_limit": "8GB", "threads": 2})
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(DATA, "sf0.01", f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        result = con.execute(__spark_entry__.oracle_sql()[CORPUS_QUERY]).arrow()
    finally:
        con.close()
    cols = sorted(result.column_names)
    golden = {
        CORPUS_QUERY: {
            "rows": result.num_rows,
            "sha256": canonical_digest(cols, result.to_pylist()),
        }
    }
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=2)
        f.write("\n")
    print(json.dumps(golden))


if __name__ == "__main__":
    main()
