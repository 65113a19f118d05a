"""DuckDB oracle check of query results, the compare tools/selfcheck.py
makes: both frames canonicalized (columns sorted by name, rows sorted by
every column) and compared by pandas object hashes, which are sensitive to
representation (DECIMAL vs DOUBLE, lists) as well as to values."""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns))
    return df.reset_index(drop=True)


def frame_hash(df):
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def compare(data_dir, out_dir, sql_file):
    """Yields (entry, reason) for every entry whose result in out_dir/<entry>
    differs from its oracle SQL in sql_file run by DuckDB over the parquet
    tables in data_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(sql_file))
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            yield name, "no result written"
            continue
        try:
            want = canon(con.execute(sql).df())
            got = canon(pd.read_parquet(files))
        except Exception as e:  # a failing compare is a failed operation
            yield name, f"compare error: {str(e).splitlines()[-1]}"
            continue
        if sorted(want.columns) != sorted(got.columns):
            yield name, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(want) != len(got):
            yield name, f"rows {len(got)} != {len(want)}"
        else:
            try:
                same = frame_hash(got) == frame_hash(want)
            except Exception as e:
                yield name, f"hash error: {str(e).splitlines()[-1]}"
                continue
            if not same:
                yield name, "hash mismatch"
    con.close()
