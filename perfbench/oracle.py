"""Oracle check of one run's outputs.

Every op result the harness wrote is compared with DuckDB running the
op's `SparkEntry.oracleSql` on the same generated corpus: same column
names, same row count, same multiset of rows (DuckDB `EXCEPT ALL`; with
equal counts one direction suffices), then, for results that differ only
in float rounding, the float-tolerant compare of tools/check.py. Expected
results are cached per corpus and SQL text.

The five ANN serves are instead scored by recall@10 against the exact
top-10 of `q_simsearch` (itself oracle-checked); a serve fails below
RECALL_FLOOR.
"""
import glob
import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ANN = {f"q_simsearch_{f}_indexed": f for f in ("ivf", "pq", "ivfpq", "lsh", "bq")}
EXACT = "q_simsearch"
RECALL_FLOOR = 0.5
PANDAS_ROWS = 300_000


def _read(con, files):
    return con.sql(f"SELECT * FROM read_parquet({files!r})")


def _close(got, exp):
    """tools/check.py's compare: sorted columns and rows, floats with
    np.isclose, everything else as strings."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    g = g.sort_values(by=list(g.columns), ignore_index=True)
    e = e.sort_values(by=list(e.columns), ignore_index=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if np.issubdtype(gv.dtype, np.floating) and np.issubdtype(ev.dtype, np.floating):
            same = np.isclose(gv.values, ev.values, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            same = gv.astype(str).values == ev.astype(str).values
        if not same.all():
            i = int((~same).argmax())
            return f"col {c} row {i}: spark={gv.iloc[i]!r} duckdb={ev.iloc[i]!r}"
    return None


def _expected(cache_dir, name, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"{name}-{key}.parquet")


def _materialize(con, path, sql):
    cur = con.cursor()
    try:
        cur.sql(sql).write_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    finally:
        cur.close()


def _compare(con, got_files, cached):
    got, exp = _read(con, got_files), _read(con, [cached])
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns spark={sorted(got.columns)} duckdb={sorted(exp.columns)}"
    cols = ", ".join(f'"{c}"' for c in sorted(exp.columns))
    n_got = got.aggregate("count(*)").fetchone()[0]
    n_exp = exp.aggregate("count(*)").fetchone()[0]
    if n_got != n_exp:
        return False, f"rows spark={n_got} duckdb={n_exp}"
    con.register("got_v", got)
    con.register("exp_v", exp)
    diff = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM got_v EXCEPT ALL "
                   f"SELECT {cols} FROM exp_v)").fetchone()[0]
    if diff and n_got <= PANDAS_ROWS:
        why = _close(got.df(), exp.df())
        if why:
            return False, why
    elif diff:
        return False, f"{diff} of {n_got} rows differ"
    return True, f"{n_got} rows"


def _attempt(f, *args):
    """Run f, returning None or the error it raised as text."""
    try:
        f(*args)
        return None
    except Exception as e:  # reported as a failed check, by op name
        return f"{type(e).__name__}: {e}"


def _topk(con, files):
    rows = con.sql(f"SELECT qid, vec_id FROM read_parquet({files!r})").fetchall()
    out = {}
    for q, v in rows:
        out.setdefault(q, set()).add(v)
    return out


def check(out_dir, data_dir, cache_dir):
    """Returns ({op: (passed, detail)}, {ann family: recall@10})."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    dumps = {os.path.basename(d): sorted(glob.glob(f"{d}/*.parquet"))
             for d in glob.glob(os.path.join(out_dir, "results", "*"))}
    verdicts, recalls = {}, {}
    checked = [n for n in sorted(dumps) if n in sqls and n not in ANN]
    os.makedirs(cache_dir, exist_ok=True)
    # the oracle queries are independent: run them side by side, the
    # longest first
    todo = sorted(((n, _expected(cache_dir, n, sqls[n])) for n in checked),
                  key=lambda t: -len(sqls[t[0]]))
    todo = [(n, path) for n, path in todo if not os.path.isfile(path)]
    with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
        errors = dict(zip([n for n, _ in todo], pool.map(
            lambda t: _attempt(_materialize, con, t[1], sqls[t[0]]), todo)))
    for name in checked:
        files = dumps[name]
        if not files:
            verdicts[name] = (False, "no output files")
        elif errors.get(name):
            verdicts[name] = (False, f"oracle query failed: {errors[name]}")
        else:
            try:
                verdicts[name] = _compare(con, files, _expected(cache_dir, name, sqls[name]))
            except Exception as e:  # an unreadable output is a failed check
                verdicts[name] = (False, f"{type(e).__name__}: {e}")
    exact_ok = verdicts.get(EXACT, (False, ""))[0]
    for name, fam in ANN.items():
        if name not in dumps or not dumps[name]:
            continue
        if not exact_ok:
            verdicts[name] = (False, "exact top-10 unavailable")
            continue
        exact, ann = _topk(con, dumps[EXACT]), _topk(con, dumps[name])
        r = float(np.mean([len(ann.get(q, set()) & ex) / len(ex) for q, ex in exact.items()]))
        recalls[fam] = r
        verdicts[name] = (r >= RECALL_FLOOR, f"recall@10 {r:.4f} (floor {RECALL_FLOOR})")
    con.close()
    return verdicts, recalls
