"""Output check for batch gates: a result is hashed with the canonical form
of tools/compare_oracle.py (columns sorted by name, rows sorted, floats
rounded to 9 places), prefixed with its row count, and compared with the
hash of the gate's DuckDB oracle over the same input tables."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from compare_oracle import canon, table_hash  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def frame_hash(df):
    return f"{len(df)}:{table_hash(canon(df))}"


def oracle_hashes(oracle_sql, data_dir):
    """name -> hash of the oracle's result (or 'error: ...')."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = frame_hash(con.execute(sql).fetchdf())
        except Exception as e:  # the gate's check fails, loudly
            out[name] = f"error: {e}"
    return out


def result_hash(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return "error: no parquet output"
    return frame_hash(duckdb.connect().execute(
        f"SELECT * FROM read_parquet({files!r})").fetchdf())
