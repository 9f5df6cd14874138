"""DuckDB oracle compare for the ingest_stream drains.

Runs each gate's oracle SQL (dumped by the JVM, with `<sfDir>` standing for
the generated corpus directory) once per run, and compares it with the
drained result the JVM wrote, by the rule of the repo's compare tool:
columns sorted by name, rows sorted, equal dtypes, exact values.
"""
import glob
import json
import os

import duckdb


def compare(sql_json, results_dir, corpus_dir, perturb=frozenset()):
    """Returns (number of matching keys, list of failed check names)."""
    with open(sql_json) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    ok, bad = 0, []
    for key, sql in sorted(oracle_sql.items()):
        name = f"oracle.{key}"
        files = glob.glob(os.path.join(results_dir, key, "*.parquet"))
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None
            want = con.sql(sql.replace("<sfDir>", corpus_dir)).df()
        except Exception as e:  # a failing oracle is a failed check
            print(f"bench: {name}: {e}")
            bad.append(name)
            continue
        if got is not None and name in perturb and len(got):
            got = got.iloc[1:]
        if got is not None and same(got, want):
            ok += 1
        else:
            bad.append(name)
    return ok, bad


def same(s, o):
    s = s.reindex(sorted(s.columns), axis=1)
    o = o.reindex(sorted(o.columns), axis=1)
    if list(s.columns) != list(o.columns) or list(s.dtypes) != list(o.dtypes):
        return False
    if len(s) != len(o):
        return False
    cols = list(s.columns)
    s = s.sort_values(by=cols).reset_index(drop=True)
    o = o.sort_values(by=cols).reset_index(drop=True)
    return s.equals(o)
