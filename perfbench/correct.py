"""The benchmark's correctness gate, run after the timed passes.

Catalog workloads: every query's full output (written by the untimed
verify pass) is compared with its `QueryDef.oracle` SQL run in DuckDB over
the same generated inputs, with `scripts/check.py`'s canonicalisation.
Every query must also return the same row count on every pass; a query
without oracle SQL must give the same digest on two fresh builds.

Migration: every target table's count, key sums and numeric sums (read
with plain JDBC after the last pass) must equal DuckDB's over the source
parquet.
"""
import importlib.util
import os
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq


def _check_module(root):
    spec = importlib.util.spec_from_file_location(
        "repo_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duckdb(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in sorted(os.listdir(inputs)):
        if not t.endswith(".parquet"):
            continue
        name = t.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{inputs}/{t}/*.parquet')")
    return con


def catalog(root, inputs, verify_dir, verify):
    """Problems found, one string each; empty when the outputs are
    correct."""
    chk = _check_module(root)
    con = _duckdb(inputs)
    problems = []
    counts = verify["counts"]
    for name, sql in sorted(verify["oracle"].items()):
        path = os.path.join(verify_dir, name)
        if not os.path.isdir(path):
            problems.append(f"{name}: no output")
            continue
        t = pq.read_table(path)
        d = t.to_pydict()
        srows = [tuple(d[c][i] for c in t.column_names)
                 for i in range(t.num_rows)]
        dt = con.execute(sql).arrow()
        dd = dt.to_pydict()
        drows = [tuple(dd[c][i] for c in dt.column_names)
                 for i in range(dt.num_rows)]
        sc, sv = chk.canon(t.column_names, srows, t)
        dc, dv = chk.canon(dt.column_names, drows, dt)
        if sc != dc:
            problems.append(f"{name}: schema {sc} != {dc}")
        elif sv != dv:
            problems.append(f"{name}: {len(sv)} rows differ from the "
                            f"oracle's {len(dv)}")
        if counts.get(name, [t.num_rows]) != [t.num_rows]:
            problems.append(f"{name}: pass row counts {counts.get(name)} "
                            f"!= output rows {t.num_rows}")
    for name, ds in verify["digests"].items():
        if len(set(ds)) != 1:
            problems.append(f"{name}: digests differ across builds {ds}")
    for name, cs in counts.items():
        if len(cs) != 1:
            problems.append(f"{name}: row counts differ across passes {cs}")
    return problems


def migration(inputs, target):
    """Compare the target tables' figures with DuckDB's over the source."""
    con = _duckdb(inputs)
    problems = []
    for table, got in sorted(target.items()):
        if got.get("missing"):
            problems.append(f"{table}: missing from the target")
            continue
        cols = [c for c in got if c != "count"]
        schema = dict(con.execute(f"SELECT column_name, column_type FROM "
                                  f"(DESCRIBE {table})").fetchall())
        exprs = ["count(*)"] + [
            f"sum(round({c}, 2)::DECIMAL(18,2))" if schema[c] == "DOUBLE"
            else f"sum({c})::DECIMAL(38,2)" for c in cols]
        want = con.execute(f"SELECT {', '.join(exprs)} FROM {table}")\
            .fetchone()
        if got["count"] != want[0]:
            problems.append(f"{table}: {got['count']} rows, source has "
                            f"{want[0]}")
        for c, w in zip(cols, want[1:]):
            if Decimal(got[c]) != Decimal(w):
                problems.append(f"{table}.{c}: sum {got[c]} != source {w}")
    return problems
