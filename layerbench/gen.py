"""Seeded generator for the ten graft test tables.

The tables follow the schemas graft reads (`graft.util.Tables.names`):
a TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem) plus the `events` stream, the `documents` corpus and the
`embeddings` vectors. Row counts scale linearly from the sf0.1 sizes,
with a floor of 500 rows for `documents` and `embeddings`; each table
is one parquet file with one row group, the layout graft's session
cache is tuned for. The timestamp columns are naive timestamp[us]. The
same (seed, sf) always gives the same bytes. README.md compares the
distributions with those of graft's test data (`survey.py`).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf0.1
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "users": 1500, "documents": 5000, "embeddings": 2000}

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
DIM = 64
LABELS = 10
# fewer rows than this are never generated for these tables
FLOOR = {"documents": 500, "embeddings": 500}
# share of documents that copy another one with " dup" appended, and
# share of those copies that also have one word replaced
NEAR_DUP = 0.05
EDITED_DUP = 0.2


def _rows(table, sf):
    return max(FLOOR.get(table, 1), int(round(BASE_ROWS[table] * sf / 0.1)))


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _cents(x):
    return np.round(x, 2)


def tables(seed, sf):
    """Yields (name, pyarrow.Table) for the ten tables."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = _rows("customer", sf)
    yield "customer", pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n_cust = n

    n = _rows("supplier", sf)
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n))})
    n_supp = n

    n = _rows("part", sf)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    yield "part", pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": _cents(900.0 + (np.arange(n) % 1000) / 10.0)})
    n_part = n

    n = _rows("orders", sf)
    yield "orders", pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n_ord = n

    n = _rows("lineitem", sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n)})

    n = _rows("events", sf)
    # exponential gaps over 30 days: ts rises with event_id
    gaps = rng.exponential(1.0, n)
    span_us = 30 * 86400 * 1_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    yield "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, _rows("users", sf), n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _cents(rng.exponential(50.0, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = _rows("documents", sf)
    words = np.array(WORDS)
    n_dup = int(round(NEAR_DUP * n))
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n - n_dup)]
    for src in rng.integers(0, n - n_dup, n_dup):
        toks = texts[src].split(" ")
        if rng.random() < EDITED_DUP:
            toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
        texts.append(" ".join(toks + ["dup"]))
    # a copy may come before its original, as in the test data
    texts = [texts[i] for i in rng.permutation(n)]
    yield "documents", pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n = _rows("embeddings", sf)
    # unit vectors in random directions; the label does not depend on the
    # vector, as in the test data
    labels = rng.integers(0, LABELS, n)
    vecs = rng.normal(0.0, 1.0, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def write(out_dir, seed, sf, only=None):
    """Writes the tables as `<out_dir>/<name>.parquet`; returns
    {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables(seed, sf):
        if only is not None and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        sizes[name] = (t.num_rows, os.path.getsize(path))
    return sizes


# key columns per table and their offset domain, as in
# graft.util.ScaleTrial.replicate
KEYS = {
    "region": [], "nation": [],
    "customer": [("c_custkey", "cust")],
    "supplier": [("s_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"),
                 ("l_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [("vec_id", "vec")],
}


def replicate(src_dir, out_dir, replicas, tables, seed):
    """`replicas` copies of each table with key offsets that keep every
    foreign key valid: ScaleTrial.replicate's rule (offset = the next
    power of ten above the domain's max key, taken from the first table
    that uses the domain; keyless dimension tables stay one copy). The
    seed fixes the row order of the result. Each table becomes a
    directory of `replicas` part files, the layout Spark writes."""
    rng = np.random.default_rng([seed, replicas])
    domains = {}
    sizes = {}
    for t in tables:
        base = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        copies = []
        for i in range(replicas if KEYS[t] else 1):
            cols = {c: base[c] for c in base.column_names}
            for c, dom in KEYS[t]:
                if dom not in domains:
                    m = int(np.max(base[c].to_numpy()))
                    domains[dom] = 10 ** int(np.ceil(np.log10(m + 1)))
                cols[c] = pa.array(base[c].to_numpy() + i * domains[dom])
            copies.append(pa.table(cols))
        whole = pa.concat_tables(copies)
        whole = whole.take(rng.permutation(whole.num_rows))
        d = os.path.join(out_dir, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-whole.num_rows // len(copies))
        total = 0
        for k in range(len(copies)):
            piece = whole.slice(k * step, step)
            p = os.path.join(d, f"part-{k:05d}.parquet")
            pq.write_table(piece, p, row_group_size=max(1, piece.num_rows))
            total += os.path.getsize(p)
        sizes[t] = (whole.num_rows, total)
    return sizes
