"""DuckDB oracle check of the batch outputs, the same comparison the
project's own correctness tool makes: run each query's oracle SQL over the
same parquet tables, sort columns by name and rows by value, and compare
values exactly."""
import glob
import os

import duckdb
import pyarrow.parquet as pq


def check(data_dir, out_dir, oracle_sql):
    """Returns {query: reason} for each query whose output differs."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    for q, sql in sorted(oracle_sql.items()):
        path = os.path.join(out_dir, q)
        if not os.path.isdir(path):
            bad[q] = "no output"
            continue
        try:
            got = pq.read_table(path).to_pandas()
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure to read or run is a mismatch
            bad[q] = str(e).splitlines()[0]
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            bad[q] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[q] = f"{len(got)} rows != {len(exp)}"
        else:
            cols = list(got.columns)
            g = got.astype(str).sort_values(cols).reset_index(drop=True)
            e = exp.astype(str).sort_values(cols).reset_index(drop=True)
            if not g.equals(e):
                bad[q] = f"{int((g != e).any(axis=1).sum())} of {len(g)} rows differ"
    con.close()
    return bad
