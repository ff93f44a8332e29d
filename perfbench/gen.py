"""Seeded input generator for the benchmark (single process, single thread).

Two datasets, both written as one parquet file per table:

* ``corpus``: the ``documents`` table as a Zipf corpus for the TF-IDF
  workload.  Each of the five categories (``lang``) draws terms from the
  same vocabulary through its own rank permutation, so categories have
  different top terms.  Sentences start with a capital and end with
  punctuation so the tokenizer's lower/strip steps do real work, and the
  stop words ``the``/``a`` appear at English-like rates.
* ``tables``: the ten-table star schema (region .. lineitem, events,
  documents, embeddings) with the column domains, distributions and key
  relations of the repository's sf0.1 test tables, at ``TABLES_SF``.
  Every foreign key is valid by construction.

A dataset is written once per (generator version, seed) under the
benchmark's data directory and reused afterwards; the version is a digest
of this file.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Inputs are reused per seed only while this file is unchanged.
with open(__file__, "rb") as _f:
    VERSION = "g" + hashlib.sha256(_f.read()).hexdigest()[:12]

CORPUS_DOCS = 2000
CORPUS_TOKENS = 150          # mean tokens per document
CORPUS_VOCAB = 50000
CORPUS_ZIPF = 1.1
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

TABLES_SF = 0.02

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86400 * 10**6


def _ts(days0, lo, hi, rng, n):
    """Midnight timestamps uniform over [lo, hi] days after ``days0``."""
    d = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array((np.datetime64(days0, "D") + d).astype("datetime64[us]"))


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _vocabulary(rng, n):
    """``n`` distinct lowercase ASCII words built from random syllables."""
    syl = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"], dtype=object)
    tail = np.array([""] + list("bcdfghjklmnprstvwz"), dtype=object)
    m = 2 * n
    k = rng.integers(1, 4, m)
    w = syl[rng.integers(0, len(syl), m)]
    for slot in (2, 3):
        w = w + np.where(k >= slot, syl[rng.integers(0, len(syl), m)], "")
    w = w + tail[rng.integers(0, len(tail), m) * (rng.random(m) < 0.5)]
    words = [x for x in dict.fromkeys(w.tolist()) if x not in DOC_WORDS]
    return np.array(words[:n], dtype=object)


def corpus(out, seed):
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, CORPUS_VOCAB)
    ranks = np.arange(1, CORPUS_VOCAB + 1, dtype=np.float64)
    p = ranks ** -CORPUS_ZIPF
    cdf = np.cumsum(p / p.sum())
    perms = [rng.permutation(CORPUS_VOCAB) for _ in LANGS]
    lang_idx = rng.choice(len(LANGS), CORPUS_DOCS, p=LANG_P)
    lengths = rng.integers(CORPUS_TOKENS // 2, CORPUS_TOKENS * 3 // 2 + 1, CORPUS_DOCS)
    total = int(lengths.sum())
    rank = np.minimum(np.searchsorted(cdf, rng.random(total)), CORPUS_VOCAB - 1)
    words = vocab[np.stack(perms)[np.repeat(lang_idx, lengths), rank]]
    u = rng.random(total)
    words[u < 0.08] = "a"
    words[u < 0.06] = "the"
    mark = rng.random(total)
    starts = np.zeros(total, dtype=bool)
    starts[np.cumsum(lengths)[:-1]] = True
    starts[0] = True
    starts[1:] |= mark[:-1] < 0.07
    cap = starts | (rng.random(total) < 0.02)
    words[cap] = [w.capitalize() for w in words[cap]]
    paren = (mark >= 0.11) & (mark < 0.115)
    words[paren] = "(" + words[paren] + ")"
    words[mark < 0.11] += ","
    words[mark < 0.07] = [w[:-1] + "." for w in words[mark < 0.07]]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(CORPUS_DOCS)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(CORPUS_DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in lang_idx], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(CORPUS_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(out, seed, sf=TABLES_SF):
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[k] for k in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, n_part), 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", 0, 2404, rng, n_ord),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)])})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts("1995-01-02", 0, 2498, rng, n_li)})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + t0
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    # documents: 31-word vocabulary, 10..100 words; 5% are a copy of an
    # earlier document with " dup" appended (near-duplicates, re-keyed)
    words = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in lengths]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n_doc, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


GENERATORS = {"corpus": corpus, "tables": tables}


def ensure(root, dataset, seed):
    """Directory holding ``dataset`` for ``seed``, generated if absent."""
    final = os.path.join(root, VERSION, f"seed{seed}", dataset)
    if os.path.isdir(final):
        return final
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[dataset](tmp, seed)
    os.rename(tmp, final)
    return final
