"""Seeded input generator for the benchmark.

Writes the ten catalog tables (the TPC-H-shaped star schema plus
`events`, `documents` and `embeddings`) with the same schemas and value
domains as the repo's sf fixtures, so every catalog query and its DuckDB
oracle run unchanged on them. Everything is drawn from one
`numpy.random.Generator` seeded with the run's seed: the same seed and
spec give byte-identical parquet files.

Big tables are written as directories of several files with ~1 MB row
groups (the layout `graft.Bench`'s multi-row-group rewrite produces), so
scans are not pinned to one core.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

ROW_GROUP_BYTES = 1 << 20
SPLIT = {"customer": 16, "supplier": 16, "part": 16, "orders": 16,
         "lineitem": 16, "documents": 16, "embeddings": 16, "events": 4}
TPCH = ("region", "nation", "supplier", "customer", "part", "orders",
        "lineitem")
ALL = TPCH + ("events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000
EPOCH_1995 = 9131       # 1995-01-01 in days since 1970-01-01
EPOCH_2024_US = 19723 * DAY_US


def sizes(scale):
    """Row counts of the sf test fixtures as a function of scale."""
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "events": int(1_000_000 * scale), "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _ts_days(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def tpch(rng, scale, gap_share=0.0, order_key_stride=1):
    """The seven TPC-H tables. Lineitem rows are generated per order with
    line numbers 1..n, so (l_orderkey, l_linenumber) is a key. Order keys
    are multiples of `order_key_stride` (TPC-H's own order keys are
    sparse too), which widens their span without adding rows. With
    `gap_share` > 0 a seed-placed band of that share of the orders is
    left out, together with those orders' lineitems."""
    n = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ns, nc, np_, no = n["supplier"], n["customer"], n["part"], n["orders"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(np_)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(rng, names, np_),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    okey = np.arange(no) * order_key_stride
    if gap_share > 0:
        width = max(1, int(no * gap_share))
        start = int(rng.integers(0, no - width))
        okey = np.concatenate([okey[:start], okey[start + width:]])
    m = len(okey)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, m), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, m)),
        "o_orderdate": _ts_days(EPOCH_1995 + rng.integers(0, 2404, m)),
        "o_orderpriority": _pick(rng, PRIORITIES, m)})
    lines = rng.poisson(4.0, m)
    nl = int(lines.sum())
    lkey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts_days(EPOCH_1995 + 1 + rng.integers(0, 2499, nl))})
    return out


def corpus(rng, scale):
    """events, documents (5% carry another document's text plus " dup")
    and unit-norm 64-d embeddings."""
    n = sizes(scale)
    ne, nd, nv = n["events"], n["documents"], n["embeddings"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)])})
    lens = rng.integers(10, 50, nd)
    words = np.asarray(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    dup = rng.random(nd) < 0.05
    src = rng.integers(0, nd, nd)
    text = [text[s] + " dup" if d else t for t, d, s in zip(text, dup, src)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return {"events": events, "documents": documents,
            "embeddings": embeddings}


def shuffled(rng, t):
    """Rows in a seed-chosen order (the source insertion order)."""
    return t.take(pa.array(rng.permutation(t.num_rows)))


def write(tables, out_dir):
    """Write each table as `<name>.parquet/part-NNNNN.parquet`."""
    for name, t in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        files = SPLIT.get(name, 1) if t.num_rows >= 1000 else 1
        per_file = -(-t.num_rows // files)
        per_row = max(1, t.nbytes // max(1, t.num_rows))
        rg = max(1024, ROW_GROUP_BYTES // per_row)
        for i in range(files):
            pq.write_table(t.slice(i * per_file, per_file),
                           os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=rg, compression="snappy")


def write_csv(tables, out_dir):
    """Write each table as `<name>.csv` (no header) for a database bulk
    import: doubles with exactly two decimals, timestamps as dates."""
    for name, t in tables.items():
        cols = []
        for c in t.columns:
            if pa.types.is_floating(c.type):
                c = pa.array(np.char.mod("%.2f", c.to_numpy()))
            elif pa.types.is_timestamp(c.type):
                c = pc.cast(c, pa.date32())
            cols.append(c)
        pcsv.write_csv(pa.table(cols, names=t.column_names),
                       os.path.join(out_dir, f"{name}.csv"),
                       pcsv.WriteOptions(include_header=False))


def fingerprint(out_dir):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(spec, seed, out_dir):
    """Generate one workload's inputs. `spec` holds `scale`, `tables`,
    and optionally `gap_share`, `order_key_stride`, `shuffle` and
    `csv`."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, spec["scale"], spec.get("gap_share", 0.0),
                  spec.get("order_key_stride", 1))
    if any(t in spec["tables"] for t in ("events", "documents",
                                         "embeddings")):
        tables.update(corpus(rng, spec["scale"]))
    tables = {t: tables[t] for t in spec["tables"]}
    if spec.get("shuffle"):
        tables = {t: shuffled(rng, v) for t, v in tables.items()}
    write(tables, out_dir)
    if spec.get("csv"):
        write_csv(tables, out_dir)
    return {t: v.num_rows for t, v in tables.items()}
