"""Output check of query_suite: each leaf's rows against its DuckDB oracle
SQL (SparkEntry.oracleSql), over the same generated tables. Compared as
the repository's oracle comparison does: columns sorted by name, rows
sorted, values compared as strings. Runs after the timed region."""
import glob
import json
import os
import time

TABLES = ["documents", "embeddings", "events"]
# DuckDB scans a parquet row group on one thread, and each generated table
# is one row group: the check reads a copy split into this many files, so
# its oracles run on every core
SPLIT = 4


def load(con, data_dir, work_dir):
    """Views of the generated tables, over split copies in `work_dir`."""
    for t in TABLES:
        src = os.path.join(data_dir, f"{t}.parquet")
        dst = os.path.join(work_dir, t)
        os.makedirs(dst, exist_ok=True)
        con.execute(f"CREATE TEMP TABLE _{t} AS "
                    f"SELECT * FROM read_parquet('{src}/*.parquet')")
        for k in range(SPLIT):
            con.execute(f"COPY (SELECT * FROM _{t} WHERE rowid % {SPLIT} = {k}) "
                        f"TO '{dst}/part-{k}.parquet' (FORMAT parquet)")
        con.execute(f"DROP TABLE _{t}")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dst}/*.parquet')")


def compare(data_dir, out_dir, oracle_sql_path, leaves, work_dir):
    """({leaf: failure message} for leaves whose output differs,
    {leaf: seconds its comparison took}); `work_dir` holds the split
    copies of the tables."""
    import duckdb
    con = duckdb.connect()
    load(con, data_dir, work_dir)
    with open(oracle_sql_path) as fh:
        oracle = json.load(fh)
    fails, secs = {}, {}
    for name in leaves:
        t0 = time.time()
        why = compare_one(con, oracle[name], os.path.join(out_dir, name))
        secs[name] = time.time() - t0
        if why:
            fails[name] = why
    return fails, secs


def compare_one(con, sql, out):
    """None when the rows under `out` equal the oracle's, else why not."""
    files = glob.glob(os.path.join(out, "*.parquet"))
    if not files:
        return "no output"
    try:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        want = con.sql(sql).df()
    except Exception as e:  # an oracle that cannot run is a failure
        return f"{type(e).__name__}: {str(e)[:200]}"
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    g = got[gc].sort_values(by=gc).reset_index(drop=True).astype(str)
    w = want[wc].sort_values(by=wc).reset_index(drop=True).astype(str)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        return ("values differ, first: " +
                str(g[diff].head(1).to_dict("records"))[:200] + " vs " +
                str(w[diff].head(1).to_dict("records"))[:200])
    return None
