"""Seeded input generators for the benchmark.

Everything the engine sees is produced here from a seed: the serve
corpus, its read requests and write plan, and the batch tables. The same
seed always yields byte-identical inputs.
"""
import os
import random

import numpy as np

# The seven read routes of `serve_read`, issued in this fixed order.
READ_ROUTES = [
    "semantic_exact", "semantic_approx", "lexical_scan", "lexical_bm25_indexed",
    "hybrid_scan", "hybrid_approx", "get_by_ids",
]

N_TOPICS = 16
TOPIC_WORDS = 40
COMMON_WORDS = 120
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _vocabulary():
    """Fixed synthetic vocabulary: per-topic word lists plus common words."""
    rng = random.Random(7)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    seen, words = set(), []
    while len(words) < N_TOPICS * TOPIC_WORDS + COMMON_WORDS:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    topics = [words[i * TOPIC_WORDS:(i + 1) * TOPIC_WORDS] for i in range(N_TOPICS)]
    return topics, words[N_TOPICS * TOPIC_WORDS:]


TOPICS, COMMON = _vocabulary()


_ZIPF = [1.0 / (r + 1) for r in range(TOPIC_WORDS)]


def _zipf_pick(rng, words):
    # rank r drawn with weight 1/(r+1): a few frequent terms per topic
    return rng.choices(words, weights=_ZIPF)[0]


def _doc(rng):
    topic = TOPICS[rng.randrange(N_TOPICS)]
    n = rng.randint(20, 60)
    toks = [_zipf_pick(rng, topic) if rng.random() < 0.9 else rng.choice(COMMON)
            for _ in range(n)]
    return " ".join(toks), {"source": "src%d" % rng.randrange(20), "lang": rng.choice(LANGS)}


def _question(rng):
    topic = TOPICS[rng.randrange(N_TOPICS)]
    return " ".join(rng.sample(topic[:20], rng.randint(2, 4)))


def serve_inputs(seed, n_base=600, n_write=50, n_recall=4, n_get_ids=10):
    """Corpus and requests of the `serve_read` workload.

    - `base`: the corpus ingested at set-up, as [content, metadata] pairs;
    - `write`: held-out docs of the same corpus, upserted once the indexes
      exist, so the write path maintains them;
    - `reads`: one request per route, in `READ_ROUTES` order, issued once
      as the warm-up pass and then replayed through the timed phase;
    - `recall`: questions of the end-of-run approximate-recall probe;
    - `postings`: (document, term) pairs the lexical index must hold (the
      corpus is lowercase words the engine's tokenizer keeps whole).
    """
    rng = random.Random(seed)
    seen, base = set(), []
    while len(base) < n_base + n_write:
        content, meta = _doc(rng)
        if content not in seen:
            seen.add(content)
            base.append([content, meta])
    base, write = base[:n_base], base[n_base:]
    reads = []
    for route in READ_ROUTES:
        if route == "get_by_ids":
            reads.append({"route": route, "positions": sorted(rng.sample(range(n_base), n_get_ids))})
        else:
            reads.append({"route": route, "question": _question(rng)})
    recall = [_question(rng) for _ in range(n_recall)]
    postings = sum(len(set(content.split())) for content, _ in base + write)
    return {"seed": seed, "base": base, "write": write, "reads": reads, "recall": recall,
            "postings": postings}


# ---------------------------------------------------------------- batch tables

BATCH_DATA_SEED = 42
# rows per table at scale 1.0 (sf1-like); scaled down per run size
_ROWS = {"customer": 150000, "orders": 1500000, "lineitem": 6000000, "part": 200000,
         "supplier": 10000, "events": 1000000}
_DOC_WORDS = ("batch part spark line column order small sort fast value scan hash slow group "
              "agg filter query big key window row table stream merge data join vector "
              "customer the a").split()


def _ts(base, offsets_us):
    return (np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"))


def batch_tables(sf, seed=BATCH_DATA_SEED):
    """TPC-H-like tables plus `documents`, `embeddings` and `events`, with
    the column names and types the engine's entry queries read."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in _ROWS.items()}
    n_docs, n_vecs, dim = 500, 500, 64
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": ["NATION_%d" % i for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    c = n["customer"]
    t["customer"] = {"c_custkey": np.arange(c, dtype=np.int64),
                     "c_name": ["Customer#%09d" % i for i in range(c)],
                     "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                                 "MACHINERY"], c).tolist()}
    s = n["supplier"]
    t["supplier"] = {"s_suppkey": np.arange(s, dtype=np.int64),
                     "s_name": ["Supplier#%09d" % i for i in range(s)],
                     "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)}
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = {"p_partkey": np.arange(p, dtype=np.int64),
                 "p_name": ["%s %s" % (adj[a], nouns[b]) for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
                 "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, p)],
                 "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                      p).tolist(),
                 "p_size": rng.integers(1, 51, p).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)}
    o = n["orders"]
    t["orders"] = {"o_orderkey": np.arange(o, dtype=np.int64),
                   "o_custkey": rng.integers(0, c, o).astype(np.int64),
                   "o_orderstatus": rng.choice(["F", "O", "P"], o).tolist(),
                   "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
                   "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * 86400 * 10**6),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"], o).tolist()}
    li = n["lineitem"]
    t["lineitem"] = {"l_orderkey": rng.integers(0, o, li).astype(np.int64),
                     "l_partkey": rng.integers(0, p, li).astype(np.int64),
                     "l_suppkey": rng.integers(0, s, li).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, li).astype(np.float64),
                     "l_extendedprice": np.round(rng.uniform(900, 105000, li), 2),
                     "l_discount": rng.integers(0, 11, li) / 100.0,
                     "l_tax": rng.integers(0, 9, li) / 100.0,
                     "l_returnflag": rng.choice(["A", "N", "R"], li).tolist(),
                     "l_linestatus": rng.choice(["F", "O"], li).tolist(),
                     "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, li) * 86400 * 10**6)}
    e = n["events"]
    t["events"] = {"event_id": np.arange(e, dtype=np.int64),
                   "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86400 * 10**6, e))),
                   "user_id": rng.integers(0, max(15, e // 66), e).astype(np.int64),
                   "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e).tolist(),
                   "value": np.round(rng.exponential(50.0, e), 2),
                   "props": ['{"k": %d}' % k for k in rng.integers(0, 100, e)]}
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100))).tolist()))
    t["documents"] = {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
                      "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs).tolist(),
                      "source": ["src%d" % (i % 20) for i in range(n_docs)],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.15, (10, dim))
    x = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(x),
                       "label": labels.astype(np.int32)}
    return t


def write_batch_tables(out_dir, sf):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in batch_tables(sf).items():
        arrays = {}
        for k, v in cols.items():
            if k == "embedding":
                arrays[k] = pa.array([r.tolist() for r in v], type=pa.list_(pa.float32()))
            else:
                arrays[k] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, name + ".parquet"))
