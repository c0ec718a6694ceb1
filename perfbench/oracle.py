"""Row checks against the program's DuckDB oracle SQL.

Each key's rows (written by the benchmark JVM after the cold pass) are
compared with `SparkEntry.oracleSql` run by DuckDB over the same generated
inputs, under the comparison rules of tools/canoncmp.py (imported as is).
Oracle results are cached per input directory, keyed by the SQL text.
"""
import glob
import hashlib
import os
import pickle
import sys

import numpy  # noqa: F401  (load before duckdb, as tools/check.py does)
import pandas  # noqa: F401
import duckdb
import pyarrow.parquet as pq


def _canoncmp(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import canoncmp
    finally:
        sys.path.pop(0)
    return canoncmp


def check(root, data_dir, rows_dir, oracle_sql, cache_dir):
    """Returns {key: reason} for every key whose rows do not match."""
    cc = _canoncmp(root)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    bad = {}
    for key, sql in sorted(oracle_sql.items()):
        cache = os.path.join(cache_dir, f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if os.path.exists(cache):
            with open(cache, "rb") as f:
                ocols, orows = pickle.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                for p in glob.glob(os.path.join(data_dir, "*.parquet")):
                    name = os.path.basename(p)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
            try:
                ocols, orows = cc.canon(con.execute(sql).df())
            except Exception as e:  # an oracle that cannot run checks nothing
                bad[key] = f"duckdb error: {e}"
                continue
            with open(cache + ".tmp", "wb") as f:
                pickle.dump((ocols, orows), f)
            os.replace(cache + ".tmp", cache)
        files = glob.glob(os.path.join(rows_dir, key, "*.parquet"))
        if not files:
            bad[key] = "no rows written"
            continue
        scols, srows = cc.canon(pq.ParquetDataset(files).read().to_pandas())
        if ocols != [c.lower() for c in scols] and ocols != scols:
            bad[key] = f"schema spark={scols} oracle={ocols}"
        elif len(orows) != len(srows):
            bad[key] = f"row count spark={len(srows)} oracle={len(orows)}"
        else:
            diff = cc.compare_rows(scols, srows, orows)
            if diff:
                bad[key] = f"row {diff[0]} col {diff[1]}: spark={diff[2]!r} oracle={diff[3]!r}"[:300]
    if con is not None:
        con.close()
    return bad
