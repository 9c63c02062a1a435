"""Seeded input generator for the benchmark.

Derives a star-schema input directory from the base tables in
``perfbench/base`` (a verbatim copy of the sf0.001 test tables) by

* a seeded **key permutation**: every key domain (part, supplier,
  customer, order, document, vector, event, user) is relabelled by a
  random permutation, applied consistently to every column that holds a
  key of that domain, so joins keep their cardinalities;
* a **key-shift replication** (the synthesis ``graft.ScaleProbe10x``
  uses): ``scale`` copies of the fact tables, copy ``r`` with its keys
  shifted by ``r`` times the domain size, each copy with its own
  permutation -- series and entity counts grow with ``scale`` while the
  depth per series stays the same. Dimension tables the facts join to
  (part, supplier, customer) are replicated with the same shifts;
  region, nation, documents and embeddings are not scaled;
* a seeded **series resample**: inside each (part, supplier) series of
  each copy, the measure tuple (quantity, extended price, discount,
  tax) is permuted across the series' rows, so every series keeps its
  multiset of values but gets a new time pattern.

Schemas, column types and value domains are unchanged. The same
(seed, scale) gives byte-identical files.

Usage: python3 gen.py <out_dir> <seed> <scale>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# key domain -> (table, column) pairs that hold it
DOMAINS = {
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}
SCALED = {"customer", "supplier", "part", "orders", "lineitem", "events"}
MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _rng(seed, *tag):
    """Independent stream per (seed, tag): adding a table or domain never
    shifts the draws of another."""
    h = hashlib.sha256(repr((seed,) + tag).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _domain_size(base, dom):
    t, c = DOMAINS[dom][0]
    return int(pc.max(base[t][c]).as_py()) + 1


def _relabel(values, perm, shift):
    arr = values.to_numpy(zero_copy_only=False)
    return pa.array(perm[arr] + shift, type=values.type)


def _resample_series(tbl, rng):
    part = tbl["l_partkey"].to_numpy()
    supp = tbl["l_suppkey"].to_numpy()
    order = np.lexsort((supp, part))
    ps, ss = part[order], supp[order]
    starts = np.flatnonzero(np.r_[True, (ps[1:] != ps[:-1]) | (ss[1:] != ss[:-1])])
    ends = np.r_[starts[1:], len(order)]
    src = np.arange(len(order))
    for a, b in zip(starts, ends):
        if b - a > 1:
            src[order[a:b]] = order[a:b][rng.permutation(b - a)]
    for c in MEASURES:
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, tbl[c].take(pa.array(src)))
    return tbl


def generate(out_dir, seed, scale):
    base = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    sizes = {d: _domain_size(base, d) for d in DOMAINS}
    out = {}
    for t in TABLES:
        copies = []
        for r in range(scale if t in SCALED else 1):
            tbl = base[t]
            for dom, cols in DOMAINS.items():
                for tt, c in cols:
                    if tt != t:
                        continue
                    perm = _rng(seed, "perm", dom, r).permutation(sizes[dom])
                    i = tbl.schema.get_field_index(c)
                    tbl = tbl.set_column(i, c, _relabel(tbl[c], perm, r * sizes[dom]))
            if t == "lineitem":
                tbl = _resample_series(tbl, _rng(seed, "resample", r))
            copies.append(tbl)
        out[t] = pa.concat_tables(copies)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t, tbl in out.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{t}.parquet"), compression="snappy")
        rows[t] = tbl.num_rows
    return rows


def digest(out_dir):
    """Content digest of a generated input directory."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def main():
    out_dir, seed, scale = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    rows = generate(out_dir, seed, scale)
    print(json.dumps({"seed": seed, "scale": scale, "rows": rows}))


if __name__ == "__main__":
    main()
