"""Result check: each query's Spark result against DuckDB running the
query's oracle SQL (SparkEntry.oracleSql) over the same parquet.

The rendering follows tools/oracle_check.py: both sides go through
pandas, columns are sorted by name, rows keep their output order, and
every cell is compared by its string rendering (floats by repr). The
oracle side is reduced to a hash and cached per (workload, seed,
oracle SQL, generated data), so DuckDB runs once per seed.
"""
import glob
import hashlib
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def render(df):
    """Row-ordered cell strings of a frame, columns sorted by name."""
    df = df[sorted(df.columns)].reset_index(drop=True)

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    return [[cell(v) for v in row] for row in df.itertuples(index=False)]


def digest(df):
    """(sorted column names, row count, hash of the rendered cells)."""
    h = hashlib.sha256(json.dumps(render(df)).encode()).hexdigest()
    return {"columns": sorted(df.columns), "rows": len(df), "hash": h}


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{data_dir}/.duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def expected(cache_dir, workload, seed, data_dir, oracle_sql):
    """Oracle digests for the workload, computed once per key."""
    key = hashlib.sha256(json.dumps(
        [workload, seed, os.path.basename(str(data_dir)),
         sorted(oracle_sql.items())]).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{workload}-{seed}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = connect(data_dir)
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        out[name] = digest(con.execute(sql).fetchdf())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def check(cache_dir, workload, seed, data_dir, results_dir, oracle_sql,
          names):
    """Verdict per query: "ok", "unchecked" (ran; no oracle SQL exists)
    or a failure reason."""
    want = expected(cache_dir, workload, seed, data_dir, oracle_sql)
    import duckdb
    con = duckdb.connect()
    verdicts = {}
    for name in names:
        parts = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not parts:
            verdicts[name] = "no result written"
            continue
        if name not in want:
            verdicts[name] = "unchecked"
            continue
        got = digest(con.execute(
            f"SELECT * FROM read_parquet({parts!r})").fetchdf())
        w = want[name]
        if got == w:
            verdicts[name] = "ok"
        elif got["columns"] != w["columns"]:
            verdicts[name] = f"schema {got['columns']} != {w['columns']}"
        elif got["rows"] != w["rows"]:
            verdicts[name] = f"rows {got['rows']} != {w['rows']}"
        else:
            verdicts[name] = "cell hash mismatch"
    con.close()
    return verdicts
