"""Output check: each query's untimed-pass output against DuckDB running the
query's oracle SQL on the same generated inputs.

The comparison is the one in tools/check.py (non-exact mode): columns sorted
by name, rows sorted by their string form, floats equal within
``rel_tol=1e-6, abs_tol=1e-9``, everything else equal as strings.
"""
import hashlib
import math
import os
import pickle

import duckdb

import fixtures


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple(str(x) for x in t))
    return sorted(cols), out


def approx_eq(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(approx_eq(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def compare(got, want):
    """None when ``got`` matches ``want`` (both (cols, rows)), else why not."""
    gc, gr = canon(*got)
    wc, wr = canon(*want)
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if len(g) != len(w) or not all(approx_eq(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {g} want {w}"
    return None


def fetch(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def oracle_connection(fixture):
    """DuckDB with one view per table over the fixture's files."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in fixtures.TABLES:
        if os.path.exists(fixtures.table_path(fixture, t)):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{fixtures.duck_source(fixture, t)}')")
    return con


def expected(con, cache_dir, name, sql):
    """The oracle's (cols, rows) for ``name``, cached per fixture and SQL."""
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{name}.{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    res = fetch(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def spark_output(con, out_dir):
    """(cols, rows) of a query output written as parquet files."""
    return fetch(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")


def verify(report, queries, no_oracle, con, oracle_cache, check_dir):
    """Check one harness report. Oracle queries: the untimed pass's output
    against DuckDB. No-oracle queries: more than zero rows, and the same
    fingerprint on every pass. Any execution that threw fails too.

    Returns ([(query, where, why)], {query: rows returned})."""
    failed = []
    returned = {}
    warm = {w["query"]: w for w in report["warm"]}
    for q in queries:
        w = warm[q]
        if w["error"]:
            failed.append((q, "warm", w["error"]))
            continue
        got = spark_output(con, os.path.join(check_dir, q))
        returned[q] = len(got[1])
        if q in report["oracle"]:
            why = compare(got, expected(con, oracle_cache, q, report["oracle"][q]))
        elif q in no_oracle:
            why = None if got[1] else "no rows"
        else:
            why = "no oracle SQL and not declared no-oracle"
        if why:
            failed.append((q, "warm", why))
    for e in report["execs"]:
        where = f"pass {e['pass']}"
        if e["error"]:
            failed.append((e["query"], where, e["error"]))
        elif e["query"] in no_oracle and e["fingerprint"] != warm[e["query"]]["fingerprint"]:
            failed.append((e["query"], where, f"fingerprint {e['fingerprint']} != "
                           f"{warm[e['query']]['fingerprint']}"))
    return failed, returned
