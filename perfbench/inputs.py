"""Seeded input generation for the graft benchmark.

Everything here derives from the workload seed alone and is written with
numpy + DuckDB, never with graft: the program under test only ever sees the
finished parquet files.

  * `write_tables` writes the ten contract tables (the TPC-H-like star
    schema, `events`, `documents`, `embeddings`) with the column names,
    types and value distributions of the contract's test data, in a
    seeded row order and with a fixed parquet row-group size.
  * `write_ingest` writes the `ingest` workload's stream: a base corpus of
    vectors and documents plus one batch of appends per cycle, with
    near-duplicate documents planted at known ids.

Outputs go to a per-seed directory and are reused when it already holds a
complete copy (a `DONE` marker is written last).
"""
import json
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

ROW_GROUP_ROWS = 16384
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base, offsets_s):
    return pd.to_datetime(base) + pd.to_timedelta(offsets_s, unit="s")


def _days(rng, n, start, end):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return pd.Timestamp(start) + pd.to_timedelta(
        rng.integers(0, span + 1, n), unit="D")


def _docs(rng, n):
    """Random word documents; every 20th one repeats an earlier document
    with a trailing " dup" (the contract data's near-duplicates)."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(DOC_WORDS, k)) for k in lens]
    for i in range(19, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _unit_vectors(rng, n, dim):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _frames(seed, lineitem_rows, docs_rows, emb_rows):
    rng = np.random.default_rng(seed)
    n_li = lineitem_rows
    n_ord = max(n_li // 4, 100)
    n_cust = max(n_li // 40, 50)
    n_part = max(n_li // 30, 50)
    n_supp = max(n_li // 600, 10)
    n_ev = max(n_li // 6, 100)
    n_users = max(n_li // 400, 10)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    span_s = 30 * 86400
    ev_off = np.sort(rng.uniform(0, span_s, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_off).floor("us"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _docs(rng, docs_rows)
    vecs = _unit_vectors(rng, emb_rows, 64)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(emb_rows, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, emb_rows).astype(np.int32)})
    return out


def _copy_parquet(con, df, path, rng):
    """Write `df` in a seeded row permutation with fixed row groups."""
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    con.register("frame", df)
    select = "SELECT * FROM frame"
    if "embedding" in df.columns:
        select = ("SELECT vec_id, embedding::FLOAT[] AS embedding, label "
                  "FROM frame")
    con.execute(f"COPY ({select}) TO '{path}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
    con.unregister("frame")


def _done(path):
    return os.path.exists(os.path.join(path, "DONE"))


def write_tables(out_dir, seed, lineitem_rows, docs_rows, emb_rows):
    """The ten contract tables for `seed`, one parquet file each."""
    if _done(out_dir):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    frames = _frames(seed, lineitem_rows, docs_rows, emb_rows)
    rng = np.random.default_rng([seed, 1])
    con = duckdb.connect()
    for t in TABLES:
        _copy_parquet(con, frames[t], os.path.join(out_dir, f"{t}.parquet"), rng)
    con.close()
    open(os.path.join(out_dir, "DONE"), "w").close()
    return out_dir


def write_ingest(out_dir, seed, base_vecs, base_docs, batch, cycles, dim):
    """The `ingest` stream for `seed`.

    base.parquet holds the starting vectors (vec_id, embedding) and
    docs.parquet the starting documents (doc_id, text). Cycle c appends
    `batch` vectors and `batch` documents with fresh ids; within each
    document batch every fourth document is a near-duplicate of a live
    document (one word appended), so the expected survivors are known by
    construction and listed in plan.json.
    """
    if _done(out_dir):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 2])
    con = duckdb.connect()
    n_vec = base_vecs + batch * cycles
    vecs = _unit_vectors(rng, n_vec, dim)
    vdf = pd.DataFrame({"vec_id": np.arange(n_vec, dtype=np.int64),
                        "embedding": list(vecs)})
    words = [f"w{i}" for i in range(400)]

    def text(k):
        return " ".join(rng.choice(words, k))

    n_doc = base_docs + batch * cycles
    texts = [text(int(rng.integers(30, 80))) for _ in range(n_doc)]
    plan = {"base_vecs": base_vecs, "base_docs": base_docs, "batch": batch,
            "cycles": cycles, "dim": dim, "dup_of": {}}
    for c in range(cycles):
        lo = base_docs + c * batch
        for i in range(lo, lo + batch, 4):
            # a near-duplicate of a document that is live when the batch
            # lands: the trailing window of the corpus
            src = int(rng.integers(lo - base_docs // 2, lo))
            while str(src) in plan["dup_of"]:
                src -= 1
            texts[i] = texts[src] + " " + words[int(rng.integers(0, 400))]
            plan["dup_of"][str(i)] = src
    ddf = pd.DataFrame({"doc_id": np.arange(n_doc, dtype=np.int64),
                        "text": texts})
    for name, df in [("vectors", vdf), ("docs", ddf)]:
        con.register("frame", df)
        select = ("SELECT vec_id, embedding::FLOAT[] AS embedding FROM frame"
                  if name == "vectors" else "SELECT * FROM frame")
        con.execute(f"COPY ({select} ORDER BY 1) TO "
                    f"'{os.path.join(out_dir, name + '.parquet')}' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP_ROWS})")
        con.unregister("frame")
    con.close()
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    open(os.path.join(out_dir, "DONE"), "w").close()
    return out_dir


if __name__ == "__main__":
    # python3 inputs.py <dir> <seed> <lineitem rows> <documents> <embeddings>
    import sys
    d, seed, li, docs, emb = sys.argv[1:6]
    write_tables(d, int(seed), int(li), int(docs), int(emb))
