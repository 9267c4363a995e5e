"""DuckDB oracle check of the harness's first-op results.

The canonical compare of scripts/local_verify.py: same column-name set,
same row count, and rows equal after every value is rendered at full
precision and the rows are sorted.
"""
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_of(cols: dict) -> list:
    names = sorted(cols)
    return sorted(tuple(canon(v) for v in row) for row in zip(*(cols[n] for n in names)))


def check(tables: Path, dump: Path, sql: dict) -> list:
    """Names whose Spark result in `dump/<name>` differs from the oracle SQL
    run over the parquet tables in `tables`."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        p = tables / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name, q in sql.items():
        try:
            spark_tbl = pq.read_table(dump / name)
            spark_cols = {c: spark_tbl.column(c).to_pylist() for c in spark_tbl.column_names}
            cur = con.execute(q)
            names = [d[0] for d in cur.description]
            rows = cur.fetchall()
            duck_cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
            same = (sorted(spark_cols) == sorted(duck_cols)
                    and rows_of(spark_cols) == rows_of(duck_cols))
            if not same:
                print(f"e2ebench: oracle {name} differs:\n spark={rows_of(spark_cols)[:5]}"
                      f"\n duck ={rows_of(duck_cols)[:5]}", file=sys.stderr, flush=True)
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"e2ebench: oracle {name}: {e}", file=sys.stderr, flush=True)
            same = False
        if not same:
            bad.append(name)
    con.close()
    return bad
