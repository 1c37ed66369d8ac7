#!/usr/bin/env python3
"""Seeded benchmark inputs, derived with DuckDB from a read-only source
fixture.

Usage: python3 perfbench/gen_inputs.py --seed N --src DIR --out DIR

Every table of the source is written to DIR as <table>.parquet, with
the same rows and columns. The seed changes three things:
  - row order: every table is sorted by a seeded hash of its key;
  - key offsets: each surrogate key (customer, supplier, part, order,
    event, user, document) is shifted by a seeded offset, the same one
    everywhere the key appears, so joins still match. Vector keys are
    permuted within their range instead: the search queries take the
    vectors with the smallest keys as their queries, so a shift would
    leave them none, while a permutation picks other query vectors for
    each seed;
  - near-duplicate perturbations: a seeded hash picks about 1% of the
    documents and appends one word to each, so which documents are exact
    and which are near duplicates of each other moves with the seed while
    the duplicate density stays that of the source.
Table sizes are those of the source. The source is never written.
"""
import argparse
import os

import duckdb

# table -> (columns that carry a shifted key, as (column, key family)).
KEYS = {
    "region": [],
    "nation": [],
    "customer": [("c_custkey", "cust")],
    "supplier": [("s_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    "embeddings": [],
}
FAMILIES = ["cust", "supp", "part", "order", "event", "user", "doc"]
PERTURBED_SHARE = 0.01
# Appended to a perturbed document; picked per document by the seed.
EXTRA_WORDS = ["data", "spark", "table", "value", "query", "stream", "index", "merge"]


def offsets(seed):
    # Deterministic, seed-dependent and distinct per key family; small
    # enough that every shifted key still fits a 32-bit int.
    return {f: ((seed * 7919 + i * 104729) % 9973) * 100 for i, f in enumerate(FAMILIES)}


def generate(seed, src, out):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    off = offsets(seed)
    for table, keys in KEYS.items():
        path = os.path.join(src, f"{table}.parquet")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
        shifted = dict(keys)
        select = [f"{c} + {off[shifted[c]]} AS {c}" if c in shifted else c for c in cols]
        order_key = keys[0][0] if keys else cols[0]
        rel = f"read_parquet('{path}')"
        if table == "embeddings":
            # The n keys are 0..n-1; the row with the k-th smallest seeded
            # hash takes key k, so the keys keep their range and classes.
            rel = (f"(SELECT * REPLACE (CAST(row_number() OVER (ORDER BY hash(vec_id, {seed}, 'perm'), "
                   f"vec_id) - 1 AS BIGINT) AS vec_id) FROM {rel})")
        if table == "documents":
            # hash() is DuckDB's own 64-bit hash: stable across runs for
            # the same value, so the same seed picks the same documents.
            pick = f"hash(doc_id, {seed}, 'perturb') % 10000 < {int(PERTURBED_SHARE * 10000)}"
            word = (f"list_extract({EXTRA_WORDS}, "
                    f"CAST(hash(doc_id, {seed}, 'word') % {len(EXTRA_WORDS)} AS INTEGER) + 1)")
            select = [f"CASE WHEN {pick} THEN text || ' ' || {word} ELSE text END AS text"
                      if c == "text" else
                      f"CASE WHEN {pick} THEN n_chars + 1 + length({word}) ELSE n_chars END AS n_chars"
                      if c == "n_chars" else s
                      for c, s in zip(cols, select)]
        # The seeded hash sets the order; the full row breaks its ties, so
        # one seed always yields byte-identical files.
        sql = (f"SELECT {', '.join(select)} FROM {rel} "
               f"ORDER BY hash({order_key}, {seed}), {', '.join(cols)}")
        con.execute(f"COPY ({sql}) TO '{os.path.join(out, table + '.parquet')}' (FORMAT PARQUET)")
    con.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.src, a.out)


if __name__ == "__main__":
    main()
