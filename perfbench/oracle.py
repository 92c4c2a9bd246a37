"""Independent oracle checks for the query workloads.

The harness writes each query's reference result (its warm-up execution)
as parquet plus the query's DuckDB oracle SQL (`SparkEntry.oracleSqlFor`)
into `<run>/refs.json`. Each timed op of the query was already compared
with that reference inside the JVM; here the reference itself is compared
with an implementation that shares no code with the engine:

- queries with oracle SQL: DuckDB over the same generated tables, compared
  cell by cell with types (floats bitwise), the rule of scripts/selfcheck.py;
- e02_minhash_pairs / e38_incremental_dedup, whose committed fixtures only
  exist for the fixed test data: every reported pair or partner is
  re-estimated with the Python MinHash twin (scripts/fixture_oracle.py),
  and the exact-duplicate part of the answer is recomputed in DuckDB.
"""
import importlib.util
import json
import math
import os
import struct

import duckdb

TWIN_CHECKED = ("e02_minhash_pairs", "e38_incremental_dedup")


def _twin(root):
    spec = importlib.util.spec_from_file_location(
        "fixture_oracle", os.path.join(root, "scripts", "fixture_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _same(a, b):
    a, b = _norm(a), _norm(b)
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return struct.pack(">d", a) == struct.pack(">d", b) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _key(row, cols):
    def k(v):
        v = _norm(v)
        if isinstance(v, float):
            return "f" + struct.pack(">d", v).hex()
        return type(v).__name__ + repr(v)
    return [k(row[c]) for c in cols]


def compare_sql(con, sql, ref_path):
    duck = con.execute(sql).fetch_arrow_table()
    spark = con.execute(f"SELECT * FROM read_parquet('{ref_path}/*.parquet')").fetch_arrow_table()
    cols = sorted(duck.column_names)
    if cols != sorted(spark.column_names):
        return f"columns {cols} != {sorted(spark.column_names)}"
    if duck.num_rows != spark.num_rows:
        return f"rows {spark.num_rows} != oracle {duck.num_rows}"
    d = sorted(duck.select(cols).to_pylist(), key=lambda r: _key(r, cols))
    s = sorted(spark.select(cols).to_pylist(), key=lambda r: _key(r, cols))
    for i, (x, y) in enumerate(zip(d, s)):
        for c in cols:
            if not _same(x[c], y[c]):
                return f"row {i} column {c}: {y[c]!r} != oracle {x[c]!r}"
    return None


def _est(twin, texts, a, b, cache):
    for d in (a, b):
        if d not in cache:
            cache[d] = twin.minhash128(texts[d])
    return sum(1 for x, y in zip(cache[a], cache[b]) if x == y) / 128.0


def check_e02(con, twin, ref_path):
    rows = con.execute(f"SELECT d1, d2, est_jaccard, in_engine FROM read_parquet('{ref_path}/*.parquet')").fetchall()
    ids = {d for r in rows for d in r[:2]}
    texts = dict(con.execute(
        f"SELECT doc_id, text FROM documents WHERE doc_id IN ({','.join(map(str, ids)) or 'NULL'})").fetchall())
    cache = {}
    for d1, d2, est, in_engine in rows:
        if in_engine != 1 or not d1 < d2 or est < 0.5:
            return f"malformed pair ({d1}, {d2}, {est})"
        if _est(twin, texts, d1, d2, cache) != est:
            return f"pair ({d1}, {d2}) est {est} != twin {_est(twin, texts, d1, d2, cache)}"
    dups = con.execute("""SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
        ON a.text = b.text AND a.doc_id < b.doc_id""").fetchall()
    missing = set(dups) - {(r[0], r[1]) for r in rows}
    return f"exact-duplicate pairs missing: {sorted(missing)[:5]}" if missing else None


def check_e38(con, twin, ref_path):
    rows = con.execute(f"SELECT doc_id, status, partner, est_jaccard FROM read_parquet('{ref_path}/*.parquet')").fetchall()
    max_id = con.execute("SELECT max(doc_id) FROM documents").fetchone()[0]
    thr = (max_id + 1) * 4 // 5
    want_ids = [r[0] for r in con.execute(
        f"SELECT doc_id FROM documents WHERE doc_id >= {thr} ORDER BY doc_id").fetchall()]
    if sorted(r[0] for r in rows) != want_ids:
        return f"verdict rows {len(rows)} != new-batch docs {len(want_ids)}"
    exact = dict(con.execute(f"""SELECT n.doc_id, min(p.doc_id) FROM documents n JOIN documents p
        ON n.text = p.text AND p.doc_id < n.doc_id WHERE n.doc_id >= {thr} GROUP BY n.doc_id""").fetchall())
    near = [r for r in rows if r[1] == "near"]
    ids = {d for r in near for d in (r[0], r[2])}
    texts = dict(con.execute(
        f"SELECT doc_id, text FROM documents WHERE doc_id IN ({','.join(map(str, ids)) or 'NULL'})").fetchall())
    cache = {}
    for doc, status, partner, est in rows:
        if (status == "exact") != (doc in exact):
            return f"doc {doc}: status {status}, exact partner {exact.get(doc)}"
        if status == "exact" and partner != exact[doc]:
            return f"doc {doc}: exact partner {partner} != {exact[doc]}"
        if status == "near" and not (partner < doc and est >= 0.5
                                     and _est(twin, texts, doc, partner, cache) == est):
            return f"doc {doc}: near partner {partner} est {est} does not re-estimate"
        if status == "unique" and partner is not None:
            return f"doc {doc}: unique with partner {partner}"
    return None


def check_refs(root, run_dir, data_dir):
    """-> {query: None when its reference result is right, else the reason}"""
    refs = json.load(open(os.path.join(run_dir, "refs.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    twin = None
    out = {}
    for name, ref in refs.items():
        try:
            if name in TWIN_CHECKED:
                twin = twin or _twin(root)
                check = check_e02 if name == "e02_minhash_pairs" else check_e38
                out[name] = check(con, twin, ref["path"])
            elif ref["sql"] is None:
                out[name] = "no oracle"
            else:
                out[name] = compare_sql(con, ref["sql"], ref["path"])
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
    return out
