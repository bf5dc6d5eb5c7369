"""Output check: each entry's Spark result against its oracle SQL,
evaluated by DuckDB over the same parquet inputs. Columns are compared by
name and rows as an unordered multiset of exact values, with the value
rules of the program's own DuckDB check (`tools/check.py`: `norm`,
`table`), which this module imports rather than copies."""
import glob
import importlib.util
import os

import duckdb

_CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tools", "check.py")


def _load_check():
    if not os.path.isfile(_CHECK_PY):
        raise SystemExit(f"oracle: {_CHECK_PY} is missing")
    spec = importlib.util.spec_from_file_location("graft_check", _CHECK_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_check = _load_check()


def _rows(con, sql):
    """Columns sorted by name, rows in `tools/check.py`'s canonical form."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = _check.table([r[i] for i in order] for r in cur.fetchall())
    return [names[i] for i in order], rows


def connect(data_dir):
    """A DuckDB session with one view per input table of `data_dir`."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(con, result_dir, oracle_sql):
    """(ok, message) for one entry."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return False, "no result written"
    got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    try:
        exp_cols, exp = _rows(con, oracle_sql)
    except duckdb.Error as e:
        return False, f"oracle error: {str(e)[:200]}"
    if got_cols != exp_cols:
        return False, f"columns {got_cols} != {exp_cols}"
    if got != exp:
        only_got = len(set(got) - set(exp))
        only_exp = len(set(exp) - set(got))
        return False, (f"rows {len(got)} vs {len(exp)}: {only_got} only in Spark, "
                       f"{only_exp} only in the oracle")
    return True, f"{len(got)} rows"


def check_all(data_dir, results_dir, entries, oracles):
    """{entry: (ok, message)} for every entry; an entry without an oracle
    cannot be checked and counts as failed."""
    con = connect(data_dir)
    out = {}
    for e in entries:
        if e not in oracles:
            out[e] = (False, "no oracle")
        else:
            out[e] = compare(con, os.path.join(results_dir, e), oracles[e])
    con.close()
    return out
