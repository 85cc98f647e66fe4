"""Output checks, run outside the timed region.

* Query outputs: the first warm-up round dumps each query's result as
  parquet; its digest must equal the digest of the query's DuckDB oracle
  SQL run on the same generated tables. A digest hashes the canonical form
  that tools/oracle_check.py compares (columns sorted by name, floats
  formatted ``%.10g``, rows sorted). Oracle digests are cached beside the
  inputs.
* ETL outputs: every op's parquet tables must hold the row counts, and the
  ``logs`` table the per-reason counts, that the generator predicted.
"""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from oracle_check import canon  # noqa: E402


def connect():
    # never reach for an extension that is not built in, and keep DuckDB's
    # own files inside the checkout
    own = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "duckdb")
    con = duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
        "extension_directory": os.path.join(own, "extensions"),
        "temp_directory": os.path.join(own, "tmp"),
        "threads": 4,
    })
    con.execute("SET enable_progress_bar = false")
    return con


def digest(cols, rows):
    """(sorted column names, row count, md5 of the canonical rows)."""
    names, canon_rows = canon(cols, rows)
    return {"cols": names, "rows": len(canon_rows),
            "md5": hashlib.md5(repr(canon_rows).encode()).hexdigest()}


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def oracle_digests(inputs, oracle_sql):
    """{name: digest} of each oracle SQL over the tables in ``inputs``."""
    cache_dir = os.path.join(inputs, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = connect()
            for t in os.listdir(inputs):
                if t.endswith(".parquet"):
                    p = os.path.join(inputs, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{p}')")
        try:
            out[name] = digest(*_query(con, sql))
        except duckdb.Error as e:
            out[name] = {"error": str(e)}
            continue
        with open(path + ".tmp", "w") as f:
            json.dump(out[name], f)
        os.replace(path + ".tmp", path)
    return out


def query_outputs(check_dir, names, oracle_sql, inputs):
    """{name: None if correct else the reason it is not}."""
    oracle = oracle_digests(inputs, {n: s for n, s in oracle_sql.items() if n in names})
    con = connect()
    verdict = {}
    for n in names:
        d = os.path.join(check_dir, n)
        if n not in oracle:
            verdict[n] = "no oracle SQL"
        elif "error" in oracle[n]:
            verdict[n] = "oracle failed: " + oracle[n]["error"]
        elif not os.path.isdir(d):
            verdict[n] = "no output"
        else:
            got = digest(*_query(con, f"SELECT * FROM read_parquet('{d}/*.parquet')"))
            verdict[n] = None if got == oracle[n] else f"digest {got} != oracle {oracle[n]}"
    return verdict


def etl_output(con, out_dir, expected):
    """None if the op's four tables match the prediction, else why not."""
    got_rows = {}
    for t in expected["rows"]:
        got_rows[t] = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{t}/*.parquet')").fetchone()[0]
    reasons = dict(con.execute(
        f"SELECT reason, count(*) FROM read_parquet('{out_dir}/logs/*.parquet') "
        "GROUP BY reason").fetchall())
    if got_rows != expected["rows"]:
        return f"rows {got_rows} != {expected['rows']}"
    if reasons != expected["reasons"]:
        return f"reasons {reasons} != {expected['reasons']}"
    return None
