#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: gen.py <workload> <seed> <outDir>

The same (workload, seed) writes byte-identical files. Every workload gets
its own input directory; the harness sees only these files.

  interactive_mix  the ten harness tables at sf0.01 size (TPC-H-ish star
                   schema, events, documents, embeddings) with the harness
                   distributions, plus order.txt: the seeded query order
                   (one permutation of mix_queries.txt per line).
  dedup_batch      documents.parquet: a Zipf ("heaps") vocabulary corpus
                   with planted exact copies and near-dup clusters, and
                   embeddings.parquet with planted near-duplicate groups.

STREAM_RATE is the arrival rate (docs/s) of the short open-loop curate
stream that a traced run drives over its workload's documents.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# interactive_mix: the harness sf0.01 table sizes
MIX_SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, documents=500, embeddings=500)
MIX_ORDER_PASSES = 64

# dedup_batch
DEDUP_DOCS = 600
DEDUP_VECS = 400
ZIPF_S = 1.1
ZIPF_UNIVERSE = 50000

# the traced runs' probe stream: fixed open-loop arrival rate (docs/s)
STREAM_RATE = 4

HARNESS_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window").split()
LANGS = np.array(["en", "es", "fr", "de", "zh"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])


def _write(table, path):
    # fixed writer settings and a single row group, so the bytes depend on
    # the data alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(days, epoch):
    base = np.datetime64(epoch, "us")
    return pa.array(base + (days * 86400e6).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def harness_texts(rng, n):
    """Space-separated harness-vocabulary texts of 50-500 chars; about 5 %
    are an earlier text plus the token "dup" (a planted near-dup, as in the
    harness tables)."""
    vocab = np.array(HARNESS_VOCAB)
    lens = rng.integers(50, 501, n)
    pool = rng.integers(0, len(vocab), int(lens.sum() // 3) + n * 4)
    texts, at = [], 0
    for i in range(n):
        toks, ln = [], -1
        while ln < lens[i]:
            w = vocab[pool[at]]
            at += 1
            toks.append(w)
            ln += len(w) + 1
        texts.append(" ".join(toks))
    dup = rng.random(n) < 0.05
    for i in np.nonzero(dup)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def gen_tables(rng, out):
    s = MIX_SIZES
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")

    def bal(n):
        return np.round(rng.uniform(-999.99, 9999.99, n), 2)

    nc = s["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": bal(nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}),
        f"{out}/customer.parquet")
    ns = s["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": bal(ns)}), f"{out}/supplier.parquet")
    npart = s["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    no = s["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, no).astype(np.float64), "1995-01-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}),
        f"{out}/orders.parquet")
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng.integers(1, 2499, nl).astype(np.float64), "1995-01-01")}),
        f"{out}/lineitem.parquet")
    ne = s["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(rng.uniform(0.0, 30.0, ne)), "2024-01-01"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}),
        f"{out}/events.parquet")
    nd = s["documents"]
    texts = harness_texts(rng, nd)
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    _write(_embeddings(rng, s["embeddings"], 0), f"{out}/embeddings.parquet")


def _embeddings(rng, n, planted_frac):
    """Unit-norm 64-dim float32 vectors, label 0..9; a `planted_frac` share
    are small perturbations of an earlier vector (cosine well above the
    semantic-dedup threshold)."""
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for i in np.nonzero(rng.random(n) < planted_frac)[0]:
        if i > 0:
            src = v[int(rng.integers(0, i))]
            w = src + 0.05 * rng.standard_normal(64)
            v[i] = w / np.linalg.norm(w)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def _zipf_words():
    def word(j):
        s, x = "", j
        while True:
            s += chr(ord("a") + x % 26)
            x //= 26
            if x == 0:
                return "w" + s
    vocab = np.array([word(j) for j in range(ZIPF_UNIVERSE)])
    p = 1.0 / np.power(np.arange(1, ZIPF_UNIVERSE + 1, dtype=np.float64), ZIPF_S)
    return vocab, np.cumsum(p / p.sum())


def _edit(rng, toks, vocab, k):
    toks = list(toks)
    for _ in range(k):
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
    return toks


def _zipf_docs(rng, vocab, cum, n):
    """n token lists of 20-89 Zipf-drawn words."""
    ntok = rng.integers(20, 90, n)
    flat = vocab[np.searchsorted(cum, rng.random(int(ntok.sum())))]
    bounds = np.concatenate([[0], np.cumsum(ntok)])
    return [flat[bounds[i]:bounds[i + 1]].tolist() for i in range(n)]


def _documents(rng, toks):
    """The documents table over token lists: random lang and source."""
    n = len(toks)
    texts = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{int(i)}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def gen_dedup(rng, out):
    """Heaps-vocabulary corpus (gen_scale_corpus.py's distributions) with
    the duplicate share raised: ~4 % exact copies and ~20 % members of
    near-dup clusters (1-3 token edits of a recent doc, J mostly >= 0.5),
    so the verify and connected-components stages do real work."""
    vocab, cum = _zipf_words()
    n = DEDUP_DOCS
    toks = _zipf_docs(rng, vocab, cum, n)
    role = rng.random(n)
    for i in range(1, n):
        if role[i] < 0.04:
            toks[i] = toks[int(rng.integers(0, i))]
        elif role[i] < 0.24:
            # near-dup of a recent doc: clusters form because recent seeds
            # are themselves often near-dups
            src = int(rng.integers(max(0, i - 400), i))
            toks[i] = _edit(rng, toks[src], vocab, int(rng.integers(1, 4)))
    _write(_documents(rng, toks), f"{out}/documents.parquet")
    _write(_embeddings(rng, DEDUP_VECS, 0.15), f"{out}/embeddings.parquet")


def mix_queries():
    with open(os.path.join(HERE, "mix_queries.txt")) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def gen_mix(rng, out):
    gen_tables(rng, out)
    names = mix_queries()
    with open(f"{out}/order.txt", "w") as f:
        for _ in range(MIX_ORDER_PASSES):
            f.write(" ".join(names[i] for i in rng.permutation(len(names))) + "\n")


GENERATORS = {"interactive_mix": gen_mix, "dedup_batch": gen_dedup}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](np.random.default_rng(seed), out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <outDir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
