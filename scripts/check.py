#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Reads Verify output (<out>/<name>/ parquet + oracle_sql.json), runs each
oracle SQL in DuckDB against the same sf parquet tables, and compares:
row count, column names (sorted), and values (rows sorted, floats rounded).
Usage: python3 scripts/check.py /root/testdata/sf0.01 /tmp/verify_out
"""
import sys, os, json, math, time
import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def type_class(t):
    """Coarse Arrow-type class: keeps the distinctions the driver's
    hasher is known to be sensitive to (int64 vs decimal128 — the r16
    five-red-row defect class) while normalizing representation-only
    variants (string vs large_string) that differ between a parquet
    file and a DuckDB Arrow fetch."""
    import pyarrow as pa
    # widths collapse: the driver's hasher compares python-object
    # values, so int32 == int64 (both python int; Spark row_number is
    # int32 where DuckDB's is int64 and those rows pass the driver) —
    # but Decimal('940') != 940, so decimal stays its own class
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "bin"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_date(t): return "date"
    if pa.types.is_timestamp(t): return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{f.name}:{type_class(f.type)}" for f in t) + ">"
    return str(t)

def canon(cols, rows, table=None):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v): v = "NaN"
                else: v = f"{v:.6f}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    # TYPE-STRICT (r16 lesson): the driver's hasher serializes values
    # WITH their Arrow types, so str(Decimal('940')) == str(940) is a
    # blind spot — five red rows shipped while this gate said PASS.
    # Carry the coarse type class next to each column name.
    typed = sorted(cols)
    if table is not None:
        tmap = {f.name: type_class(f.type) for f in table.schema}
        typed = [f"{c}:{tmap[c]}" for c in sorted(cols)]
    return typed, sorted(out)

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(f"{outdir}/{d}"))
    n_pass = n_fail = n_weak = 0
    slow = []
    for name in names:
        t = pq.read_table(f"{outdir}/{name}")
        scols = t.column_names
        d = t.to_pydict()
        srows = [tuple(d[c][i] for c in scols) for i in range(t.num_rows)]
        if name not in oracle:
            n_weak += 1
            status = "WEAK " if t.num_rows > 0 else "WEAK0"
            print(f"[{status}] {name}: rows={t.num_rows} (no oracle)")
            continue
        try:
            # fetch via Arrow: HUGEINT sums surface as the float/decimal
            # values the driver's hasher would see, not python ints
            t0 = time.monotonic()
            dt = con.execute(oracle[name]).arrow()
            dur = time.monotonic() - t0
            if dur > 10:
                # tripwire for the q217/q213 class: an unrolled CTE chain
                # a future edit leaves un-MATERIALIZED re-inlines
                # exponentially and can spill the disk at the next SF —
                # surface it while it is still only slow (the slowest
                # oracle at sf0.01, q214, takes ~6 s)
                slow.append((name, dur))
            dcols = dt.column_names
            dd = dt.to_pydict()
            drows = [tuple(dd[c][i] for c in dcols)
                     for i in range(dt.num_rows)]
        except Exception as e:
            n_fail += 1
            print(f"[FAIL ] {name}: duckdb error: {e}")
            continue
        sc, sv = canon(scols, srows, t)
        dc, dv = canon(dcols, drows, dt)
        if sc != dc:
            n_fail += 1
            print(f"[FAIL ] {name}: schema {sc} != {dc}")
        elif len(sv) != len(dv):
            n_fail += 1
            print(f"[FAIL ] {name}: rows {len(sv)} != {len(dv)}")
        elif sv != dv:
            n_fail += 1
            bad = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
            print(f"[FAIL ] {name}: values differ at sorted row {bad}:")
            print(f"         spark:  {sv[bad][:200]}")
            print(f"         duckdb: {dv[bad][:200]}")
        else:
            n_pass += 1
            print(f"[PASS ] {name}: rows={len(sv)}")
    for name, dur in slow:
        print(f"[SLOW ] {name}: oracle took {dur:.0f}s — check CTE "
              f"MATERIALIZED hints before the next scale-up")
    # pin the oracle engine version into the artifact trail: the r15
    # q188 red row was a DRIVER-environment DuckDB delta invisible in
    # the repo's own runs (VERDICT r15 adjudication)
    print(f"[env  ] duckdb={duckdb.__version__}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
