"""Seeded input generator for the benchmark.

Writes the ten tables the driver entries read (`Tables.names`) as one
parquet file each, with the column names, types and value ranges of the
TPC-H-style test star schema at sf0.1. The rows are fixed (like the
repository's sf0.1 test set); the seed permutes their order, and each file is
written as several row groups (chunks), the way the reference uploads a
file as chunks.

`replicas=N` writes N key-offset copies of every table except `region`
and `nation`: copy i adds i * (rows of the parent table) to every key,
so keys stay unique and foreign keys stay consistent within a copy.

Only numpy and pyarrow are used; the same (seed, tables, scale, replicas)
gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PTYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PADJ = ["large", "hot", "blue", "cold", "small", "red", "green", "old"]
PNOUN = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# rows at sf0.1 (region and nation are fixed-size)
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
N_USERS = 1500

US = 1_000_000
DAY_US = 86400 * US
EPOCH_1995 = 788918400 * US          # 1995-01-01T00:00:00
EPOCH_2024 = 1704067200 * US         # 2024-01-01T00:00:00
ORDER_DAYS = 2404                    # 1995-01-01 .. 2001-08-01

# the row content is fixed, as the repository's sf0.1 test set is; the workload
# seed permutes row order, so every seed is a different physical input
# with the same oracle answer
CONTENT_SEED = 0
# row groups per file
CHUNKS = 4

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(x):
    return np.round(x, 2)


def _base(seed, scale, tables):
    """One copy of each of `tables` as {name: {column: array}}. Every
    table draws from its own generator, so any subset of tables comes
    out the same as in the full set."""
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    t = {}
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]

    def rng_for(name):
        return np.random.default_rng([seed, TABLES.index(name)])

    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}

    if "customer" in tables:
        rng = rng_for("customer")
        t["customer"] = {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": None,  # derived from the key after offsetting
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]}

    if "supplier" in tables:
        rng = rng_for("supplier")
        t["supplier"] = {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": None,
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns))}

    if "part" in tables:
        rng = rng_for("part")
        pk = np.arange(np_, dtype=np.int64)
        t["part"] = {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(
                np.array(PADJ)[rng.integers(0, len(PADJ), np_)], " "),
                np.array(PNOUN)[rng.integers(0, len(PNOUN), np_)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), np_)],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": _money(900.0 + (pk % 1000) / 10.0)}

    if "orders" in tables:
        rng = rng_for("orders")
        t["orders"] = {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, no)),
            "o_orderdate": EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, no) * DAY_US,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]}

    if "lineitem" in tables:
        rng = rng_for("lineitem")
        nl = n["lineitem"]
        qty = rng.integers(1, 51, nl).astype(np.float64)
        t["lineitem"] = {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, nl)),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": EPOCH_1995 + rng.integers(1, ORDER_DAYS + 96, nl) * DAY_US}

    if "events" in tables:
        rng = rng_for("events")
        ne = n["events"]
        # event ids ascend with time; timestamps are distinct microseconds
        ts = np.sort(rng.choice(30 * DAY_US, ne, replace=False)) + EPOCH_2024
        t["events"] = {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, N_USERS, ne).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng.exponential(50.0, ne)),
            "props": np.char.add(np.char.add('{"k": ',
                                             rng.integers(0, 100, ne).astype(str)), "}")}

    if "documents" in tables:
        rng = rng_for("documents")
        nd = n["documents"]
        lens = rng.integers(10, 101, nd)
        words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
        cuts = np.concatenate([[0], np.cumsum(lens)])
        text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(nd)]
        # 5% near-duplicates (an earlier document plus a marker word) and a
        # few exact duplicates, for the dedup operators
        for i in np.flatnonzero(rng.random(nd) < 0.05):
            if i > 0:
                text[i] = text[int(rng.integers(0, i))] + " dup"
        for i in np.flatnonzero(rng.random(nd) < 0.002):
            if i > 0:
                text[i] = text[int(rng.integers(0, i))]
        did = np.arange(nd, dtype=np.int64)
        t["documents"] = {
            "doc_id": did,
            "text": text,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)],
            "source": np.char.add("src", (did % 20).astype(str)),
            "n_chars": np.array([len(s) for s in text], dtype=np.int64)}

    if "embeddings" in tables:
        rng = rng_for("embeddings")
        nv = n["embeddings"]
        v = rng.standard_normal((nv, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        t["embeddings"] = {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": v,
            "label": rng.integers(0, 10, nv).astype(np.int32)}

    return {k: v for k, v in t.items() if k in tables}


# (table, key column, parent table whose row count is the offset step)
KEYS = [("customer", "c_custkey", "customer"),
        ("supplier", "s_suppkey", "supplier"),
        ("part", "p_partkey", "part"),
        ("orders", "o_orderkey", "orders"), ("orders", "o_custkey", "customer"),
        ("lineitem", "l_orderkey", "orders"), ("lineitem", "l_partkey", "part"),
        ("lineitem", "l_suppkey", "supplier"),
        ("events", "event_id", "events"), ("events", "user_id", None),
        ("documents", "doc_id", "documents"),
        ("embeddings", "vec_id", "embeddings")]


def _replicate(t, replicas, scale):
    if replicas == 1:
        return t
    rows = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    out = {"region": t["region"], "nation": t["nation"]}
    for name, cols in t.items():
        if name in out:
            continue
        copies = []
        for i in range(replicas):
            c = dict(cols)
            for tbl, key, parent in KEYS:
                if tbl == name:
                    step = N_USERS if parent is None else rows[parent]
                    c[key] = c[key] + i * step
            copies.append(c)
        out[name] = {k: (None if cols[k] is None else
                         np.concatenate([c[k] for c in copies])
                         if isinstance(cols[k], np.ndarray)
                         else [x for c in copies for x in c[k]])
                     for k in cols}
    return out


def _to_arrow(name, cols):
    if name == "customer":
        cols["c_name"] = np.char.add("Customer#", np.char.zfill(
            cols["c_custkey"].astype(str), 9))
    if name == "supplier":
        cols["s_name"] = np.char.add("Supplier#", np.char.zfill(
            cols["s_suppkey"].astype(str), 9))
    arrays = {}
    for k, v in cols.items():
        if k in ("o_orderdate", "l_shipdate", "ts"):
            arrays[k] = _ts(v)
        elif k == "embedding":
            arrays[k] = pa.FixedSizeListArray.from_arrays(
                pa.array(v.reshape(-1), type=pa.float32()), 64).cast(
                pa.list_(pa.float32()))
        elif isinstance(v, np.ndarray) and v.dtype.kind == "U":
            arrays[k] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def content_key(replicas):
    """Identity of the row content `generate` writes (not of its order)."""
    import hashlib
    with open(os.path.abspath(__file__), "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()[:16]
    return f"gen={code};content={CONTENT_SEED};replicas={replicas}"


def generate(out_dir, seed, tables=TABLES, scale=1.0, replicas=1):
    """Write `tables` (plus `region` and `nation`, which the warm-up
    reads) under `out_dir`; return {table: {rows, bytes}}. The rows come
    from `CONTENT_SEED`; `seed` permutes them."""
    tables = set(tables) | {"region", "nation"}
    rows = _replicate(_base(CONTENT_SEED, scale, tables), replicas, scale)
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name in [t for t in TABLES if t in tables]:
        tbl = _to_arrow(name, rows[name])
        perm = np.random.default_rng([seed, TABLES.index(name), 1]).permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy",
                       row_group_size=max(1, -(-tbl.num_rows // CHUNKS)))
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return stats

