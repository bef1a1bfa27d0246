"""Reference results for the operators workload.

    python3 perfbench/oracle.py SF_DIR OP [OP ...]

Runs each operator's ``oracle_sql()`` on DuckDB over the parquet corpus
in SF_DIR and prints, as one JSON line, ``{op: [rows, sorted columns,
value hash]}``, canonicalized by ``tools/check_oracle.py`` the way the
correctness harness does it.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    sys.path.insert(0, ROOT)
    # the checkout's package and harness before the entry module's imports
    import rfb_data_pipeline_spark  # noqa: F401
    from tools.check_oracle import _normalize, value_hash

    import __spark_entry__ as entry
    import duckdb

    sf_dir, ops = sys.argv[1], sys.argv[2:]
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for op in ops:
            df = con.execute(sql[op]).fetchdf()
            out[op] = [len(df), sorted(df.columns), value_hash(_normalize(df))]
    finally:
        con.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
