#!/usr/bin/env python3
"""Harness tables for the `query_mix` workload.

Writes the ten tables every registered query reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings; one parquet file each) with the column names, parquet types
and value domains of the repository's sf tables (TESTDATA.md):

- TPC-H-ish star schema; money columns are 2-decimal doubles;
- events over 30 days of January 2024, 5 event types, `{"k": n}` props;
- documents drawn from the closed 30-token vocabulary, with 5% "dup"
  near-duplicates (an earlier text plus the token `dup`) and a few exact
  repeats, so the dedup/graph queries have work to do;
- embeddings: 64-dim unit vectors, labels 0..9.

The content is fixed for a given scale factor (generator seed 42): the
workload seed only permutes the query order, so the recorded row counts
and content hashes in query_mix.json hold for every run.

Usage: python3 gen_tables.py OUT_DIR [SF]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf0.1 = 600k lineitem)."""
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "users": int(15000 * sf),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def ts_us(start, offsets_s):
    base = np.datetime64(start, "us")
    return base + (np.asarray(offsets_s) * 1e6).astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf=0.01, seed=42):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(regions)})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    segs = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, nc)])})

    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))})

    npart = n["part"]
    adj = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil",
            "gizmo"]
    types = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
    write("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array([types[t] for t in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) / 10, 2))})

    no = n["orders"]
    span_days = 6 * 365 + 212  # 1995-01-01 .. 2001-08-01
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[s] for s in
                                   rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(money(rng, 1000, 500000, no)),
        "o_orderdate": pa.array(ts_us("1995-01-01",
                                      rng.integers(0, span_days, no) * 86400),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([prios[p] for p in
                                     rng.integers(0, 5, no)])})

    nl = n["lineitem"]
    okeys = rng.integers(0, no, nl)
    # line numbers count up within an order, as in TPC-H
    order = np.argsort(okeys, kind="stable")
    linenum = np.empty(nl, np.int32)
    sorted_keys = okeys[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_len = np.diff(np.r_[starts, nl])
    linenum[order] = (np.arange(nl) - np.repeat(starts, run_len)) % 7 + 1
    qty = rng.integers(1, 51, nl).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[f] for f in
                                  rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("O", "F")[f] for f in
                                  rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(ts_us("1995-01-02",
                                     rng.integers(0, span_days + 90, nl)
                                     * 86400), pa.timestamp("us"))})

    ne = n["events"]
    etypes = ["signup", "purchase", "view", "click", "error"]
    offs = np.sort(rng.uniform(0, 30 * 86400, ne))
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts_us("2024-01-01", offs), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array([etypes[t] for t in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)])})

    nd = n["documents"]
    langs = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and r < 0.053:  # exact repeat
            texts.append(texts[rng.integers(0, i)])
        else:
            toks = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[t] for t in toks))
    write("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([langs[k] for k in
                          rng.integers(0, len(langs), nd)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    x = rng.standard_normal((nv, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
