"""DuckDB oracle comparison for the query workload.

Each query's rows, dumped to parquet by the benchmark JVM, are compared with
the rows its `SparkEntry.oracleSql` string gives in DuckDB over the same sf
tables. The comparison is the one `tools/oracle_diff.py` makes, with its
own functions: columns sorted by name, values stringified, rows sorted, and
column types canonicalised on both sides and required to match.

Two oracles take about a minute in DuckDB, so answers are kept as files
keyed by the SHA-256 of the SQL text and of every table file: the answers
for the frozen oracle strings over the sf0.01 tables are committed in
perfbench/oracle/, and any other answer is computed once and kept in
perfbench/target/oracle/. A changed SQL string or changed table bytes miss
both, and the build computes the new answer (see run.py).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from oracle_diff import norm, type_diff  # noqa: E402

COMMITTED = os.path.join(HERE, "oracle")
CACHE = os.path.join(HERE, "target", "oracle")


def _tables(sf_dir):
    return sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))


def _key(sf_dir, sql):
    h = hashlib.sha256(sql.encode())
    for f in _tables(sf_dir):
        with open(f, "rb") as fh:
            h.update(os.path.basename(f).encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected(sf_dir, sql, con=None):
    """{"cols", "rows"} of the oracle answer, normalised."""
    name = _key(sf_dir, sql) + ".json"
    for d in (COMMITTED, CACHE):
        if os.path.isfile(os.path.join(d, name)):
            with open(os.path.join(d, name)) as fh:
                return json.load(fh)
    path = os.path.join(CACHE, name)
    own = con is None
    con = con or _connect(sf_dir)
    try:
        res = con.execute(sql)
        cols = [c[0] for c in res.description]
        rows, cols = norm(res.fetchall(), cols)
    finally:
        if own:
            con.close()
    ans = {"cols": cols, "rows": [list(r) for r in rows]}
    os.makedirs(CACHE, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(ans, fh)
    os.replace(path + ".tmp", path)
    return ans


def _connect(sf_dir):
    con = duckdb.connect()
    for f in _tables(sf_dir):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM read_parquet('{f}')")
    return con


def warm(sf_dir, sqls):
    con = _connect(sf_dir)
    try:
        for sql in sqls.values():
            expected(sf_dir, sql, con)
    finally:
        con.close()


def compare(sf_dir, qout_dir, corrupt=False):
    """Returns {query: None if it matches its oracle, else the reason}.
    With `corrupt`, the first query's rows lose their last row before the
    comparison (the benchmark's own tests use this to prove a wrong output
    is caught)."""
    with open(os.path.join(qout_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = _connect(sf_dir)
    out = {}
    try:
        for i, (name, sql) in enumerate(oracle.items()):
            try:
                path = os.path.join(qout_dir, name)
                if not os.path.isdir(path):
                    out[name] = "no output written"
                    continue
                want = expected(sf_dir, sql, con)
                t = pq.read_table(path)
                scols = t.column_names
                srows = [tuple(t.column(c)[j].as_py() for c in scols) for j in range(t.num_rows)]
                if corrupt and i == 0 and srows:
                    srows = srows[:-1]
                sn, sc = norm(srows, scols)
                tdiff = type_diff(con, sql, t)
                if tdiff:
                    out[name] = "type mismatch: " + "; ".join(tdiff)
                elif [list(r) for r in sn] != want["rows"] or sc != want["cols"]:
                    out[name] = f"rows differ: cols {sc} vs {want['cols']}, {len(sn)} vs {len(want['rows'])} rows"
                else:
                    out[name] = None
            except Exception as e:  # a failing oracle or unreadable output is a mismatch
                out[name] = f"error: {e}"
    finally:
        con.close()
    return out
