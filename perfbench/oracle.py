"""Checks each item's verification output against its DuckDB oracle.

The oracle SQL is `SparkEntry.oracleSql` (written by the harness as
`oracle_sql.json`), run over the generated inputs of the same run. Both
sides are canonicalized by the `_norm`/`canon` functions of
`tools/check.py`, loaded from that file unchanged, so this check and the
repository's correctness gate agree on what "equal" means.

The oracle side depends only on the row content of the inputs, the SQL
and the code that computes and canonicalizes the answer, so its
canonical digest is cached per (input key, code key, SQL); the build
fills the cache (see build.py), so runs only read it.
"""
import ast
import glob
import hashlib
import json
import os
import time

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_canon(root):
    """`canon` from tools/check.py, with its imports and helpers, without
    running the script's body."""
    path = os.path.join(root, "tools", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom))
            or (isinstance(n, ast.FunctionDef) and n.name in ("_norm", "canon"))]
    ns = {}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def code_key(root):
    """Identity of the code an oracle answer depends on: this file, the
    canonicalization in tools/check.py and the DuckDB version."""
    h = hashlib.sha256(duckdb.__version__.encode())
    for p in (os.path.abspath(__file__), os.path.join(root, "tools", "check.py")):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _rows(df):
    return [tuple(v.item() if hasattr(v, "item") else v for v in row)
            for row in df.itertuples(index=False, name=None)]


def _digest(cols, rows):
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over one input directory, with each query's canonical
    result digest cached per (input key, code key, SQL)."""

    def __init__(self, root, data_dir, input_key, cache_dir, threads):
        self.canon = load_canon(root)
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.input_key = input_key + ";" + code_key(root)
        self.threads = threads
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def reference(self, sql):
        key = hashlib.sha256((self.input_key + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as f:
                return json.load(f)
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute(f"SET threads TO {self.threads}")
            for t in TABLES:
                if os.path.exists(f"{self.data_dir}/{t}.parquet"):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                     f"read_parquet('{self.data_dir}/{t}.parquet')")
        res = self.con.execute(sql)
        cols, rows = self.canon(_rows(res.df()), [x[0] for x in res.description])
        ref = {"cols": cols, "rows": len(rows), "digest": _digest(cols, rows)}
        with open(cached + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(cached + ".tmp", cached)
        return ref

    def close(self):
        if self.con is not None:
            self.con.close()


def check(oracle, verify_dir, items):
    """Compares each item's verification output with its oracle.
    Returns ({item: {"ok", "rows", "detail"}}, oracle seconds)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    t0 = time.time()
    out = {}
    for item in items:
        files = glob.glob(os.path.join(verify_dir, item, "*.parquet"))
        if not files:
            out[item] = {"ok": False, "rows": 0, "detail": "no output (item failed)"}
            continue
        tbl = pq.ParquetDataset(os.path.join(verify_dir, item)).read()
        scols, srows = oracle.canon(_rows(tbl.to_pandas()), tbl.column_names)
        if item not in sql:
            out[item] = {"ok": False, "rows": len(srows), "detail": "no oracle SQL"}
            continue
        ref = oracle.reference(sql[item])
        ok = scols == ref["cols"] and _digest(scols, srows) == ref["digest"]
        detail = "" if ok else (f"spark cols={scols} rows={len(srows)}; "
                                f"oracle cols={ref['cols']} rows={ref['rows']}")
        out[item] = {"ok": ok, "rows": len(srows), "detail": detail}
    oracle.close()
    return out, time.time() - t0
