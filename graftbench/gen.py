"""Seeded input generator for the graftbench workloads.

Writes the table layout the library's registered queries read (one
`<table>.parquet` file per table, the columns and types `graft.Tables`
expects) into a directory. The same
seed and parameters give byte-identical files; `digest()` hashes them so a
run can prove it regenerated exactly the inputs it expected.

Shapes chosen per workload (see README.md):
  * research_daily: long per-symbol histories (>= 250 daily bars) from a
    random walk, so the 50-period windows fill and every strategy trades;
    quarterly orders/lineitem per symbol for the fundamentals.
  * corpus_curation: a word corpus with injected near-duplicate clusters,
    documents copied from the held-out benchmark split, and clustered
    embeddings with injected near-identical vectors.
"""
import datetime
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    "research_daily": dict(symbols=12, days=260, ticks_per_day=3,
                           order_years=3, orders_per_quarter=2, docs=200,
                           dup_clusters=0, contaminated=0, vectors=200),
    "corpus_curation": dict(symbols=16, days=30, ticks_per_day=2,
                            order_years=1, orders_per_quarter=1, docs=1000,
                            dup_clusters=30, contaminated=12, vectors=1000),
}

EMBED_DIM = 64
EMBED_CLUSTERS = 16
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
# Vocabulary large enough that two unrelated documents share almost no
# word trigrams: injected duplicates are then the only near-duplicates.
VOCAB = [a + b for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
                         "va", "ze", "bo", "du")
         for b in ("r", "n", "t", "l", "s", "m", "k", "ve", "da", "po",
                   "gu", "x")]
START = datetime.datetime(2023, 1, 2)
US = 1_000_000


def _ts(seconds):
    return pa.array((seconds * US).astype(np.int64), pa.timestamp("us"))


def _events(rng, p):
    """Ticks of a daily random walk per symbol. About one day in fifteen
    is a spike day: a large move on several times the usual tick count,
    so the volume-spike strategy has something to find."""
    s, d, k = p["symbols"], p["days"], p["ticks_per_day"]
    spike = rng.random((s, d)) < 1.0 / 15
    steps = rng.normal(0.0, 0.02, size=(s, d))
    steps[spike] += np.where(rng.random(int(spike.sum())) < 0.5, -0.05, 0.05)
    level = 20.0 + 80.0 * rng.random(s)
    close = level[:, None] * np.exp(np.cumsum(steps, axis=1))
    counts = np.where(spike, 4 * k, k).reshape(-1)
    sym = np.repeat(np.repeat(np.arange(s), d), counts)
    day = np.repeat(np.tile(np.arange(d), s), counts)
    n = len(sym)
    px = close[sym, day] * (1.0 + rng.normal(0.0, 0.005, n))
    sec = (day * 86400 + 34200 + rng.integers(0, 23400, n)
           + (START - datetime.datetime(1970, 1, 1)).total_seconds())
    order = np.lexsort((sym, sec))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(sec[order]),
        "user_id": pa.array(sym[order], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(px[order], 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % i for i in
                           rng.integers(0, 100, n)], pa.string()),
    })


def _fundamentals(rng, p):
    s = p["symbols"]
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    customer = pa.table({
        "c_custkey": pa.array(range(s), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(s)],
        "c_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, s), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s)]})
    quarters = 4 * p["order_years"]
    n_o = s * quarters * p["orders_per_quarter"]
    cust = np.repeat(np.arange(s), quarters * p["orders_per_quarter"])
    q = np.tile(np.repeat(np.arange(quarters), p["orders_per_quarter"]), s)
    first = datetime.date(START.year - p["order_years"] + 1, 1, 1)
    epoch = datetime.date(1970, 1, 1)
    day = ((first - epoch).days + q * 91 + rng.integers(0, 90, n_o))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": _ts(day * 86400),
        "o_orderpriority": ["%d-P" % i for i in rng.integers(1, 6, n_o)]})
    lines = rng.integers(1, 5, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o), lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 20, n_l), pa.int64()),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, c + 1) for c in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": _ts((day[okey] + rng.integers(1, 60, n_l)) * 86400)})
    part = pa.table({
        "p_partkey": pa.array(range(200), pa.int64()),
        "p_name": ["part %d" % i for i in range(200)],
        "p_brand": ["Brand#%d" % i for i in rng.integers(1, 26, 200)],
        "p_type": ["ECONOMY"] * 200,
        "p_size": pa.array(rng.integers(1, 51, 200), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(200) * 0.1, 2)})
    supplier = pa.table({
        "s_suppkey": pa.array(range(20), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(20)],
        "s_nationkey": pa.array(rng.integers(0, 25, 20), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, 20), 2)})
    return dict(nation=nation, region=region, customer=customer,
                orders=orders, lineitem=lineitem, part=part,
                supplier=supplier)


def _edit(rng, words, n_edits):
    w = list(words)
    for _ in range(n_edits):
        w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return w


def _documents(rng, p):
    """Random-word documents. Each of `dup_clusters` training documents
    gets one to three one-word edits of itself (a near-duplicate cluster),
    and `contaminated` training documents become one-word edits of a
    held-out benchmark document (doc_id % 20 >= 18); the copies overwrite
    documents of the second half. Returns the table and the injected
    ground truth."""
    n = p["docs"]
    texts = [list(rng.choice(VOCAB, int(rng.integers(40, 90))))
             for _ in range(n)]
    train = [i for i in range(n) if i % 20 < 18]
    held = [i for i in range(n) if i % 20 >= 18]
    free = [i for i in train if i >= n // 2]
    rng.shuffle(free)
    clusters, contaminated = [], []
    for c in range(p["dup_clusters"]):
        src = train[c]
        members = [src]
        for _ in range(int(rng.integers(1, 4))):
            dst = int(free.pop())
            texts[dst] = _edit(rng, texts[src], 1)
            members.append(dst)
        clusters.append(sorted(members))
    for c in range(p["contaminated"]):
        src = held[c]
        dst = int(free.pop())
        texts[dst] = _edit(rng, texts[src], 1)
        contaminated.append([dst, src])
    text = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": text,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": ["src%d" % i for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    return table, sorted(clusters), sorted(contaminated)


def _embeddings(rng, p):
    n = p["vectors"]
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n)
    vec = centers[label] + rng.normal(0.0, 0.35, (n, EMBED_DIM))
    # near-identical pairs for semantic dedup: every 50th vector copies
    # its predecessor with a tiny perturbation
    dup = np.arange(50, n, 50)
    vec[dup] = vec[dup - 1] + rng.normal(0.0, 0.001, (len(dup), EMBED_DIM))
    label[dup] = label[dup - 1]
    emb = pa.array([row for row in vec.astype(np.float32)],
                   pa.list_(pa.float32()))
    table = pa.table({"vec_id": pa.array(range(n), pa.int64()),
                      "embedding": emb,
                      "label": pa.array(label, pa.int32())})
    return table, [[int(i - 1), int(i)] for i in dup]


def generate(out_dir, workload, seed):
    """Write every table for `workload` into `out_dir`; return the
    generator parameters and injected ground truth."""
    p = PARAMS[workload]
    rng = np.random.default_rng([seed, sorted(PARAMS).index(workload)])
    tables = _fundamentals(rng, p)
    tables["events"] = _events(rng, p)
    tables["documents"], clusters, contaminated = _documents(rng, p)
    tables["embeddings"], vec_dups = _embeddings(rng, p)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in sorted(tables.items()):
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"),
                       compression="snappy")
    dup_docs = sum(len(c) - 1 for c in clusters)
    truth = {"dup_clusters": clusters, "contaminated": contaminated,
             "vector_dups": vec_dups}
    params = dict(p, seed=seed, embed_dim=EMBED_DIM,
                  embed_clusters=EMBED_CLUSTERS,
                  duplicate_share=round(dup_docs / p["docs"], 4),
                  contaminated_share=round(len(contaminated) / p["docs"], 4),
                  hot_bucket_docs=max([len(c) for c in clusters] or [0]),
                  input_bytes=dir_bytes(out_dir))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return params, truth


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
               if f.endswith(".parquet"))


def digest(d):
    """sha256 over every generated file's name and bytes, in name order."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet") or f == "truth.json":
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
