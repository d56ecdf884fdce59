"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical parquet files, another seed writes different ones.
The engine only ever sees the files.

The table shapes follow the repository's sf0.1 test data (TESTDATA.md,
FIXTURES.md), whose measured distributions are reproduced here:

- documents: words drawn uniformly from a 30-word vocabulary that
  includes the stopwords "the" and "a", 10 to 100 words per document,
  lang en 41% and de/es/fr/zh about 15% each, source src0..src19.
- embeddings: 64-dim L2-normalised float vectors, labels 0..9.
- customer / orders / lineitem: uniform keys and values in the sf0.1
  ranges (15k customers, 150k orders, 600k lineitems, 20k parts).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
STOPWORDS = ("the", "a", "data", "table", "row")  # the engine's list, minus "of"


def _wide_vocab(n_content=1500):
    """sf0.1's vocabulary widened for the curate corpus: the same five
    stopwords, each still drawn with probability 1/30, plus content
    words of 4 to 6 letters, so stopword share (1/6) and mean word
    length (about 4.7) stay in the range the gates are tuned to. With
    only sf0.1's 30 words, a corpus this size shares over 20% of every
    document's trigrams with the 10% eval carve-out, and
    decontamination removes every document (sf0.1 itself: 0 rows)."""
    rng = np.random.default_rng(0)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = [w for w in VOCAB if w not in STOPWORDS]
    seen = set(words) | set(STOPWORDS)
    while len(words) < n_content:
        n = int(rng.integers(4, 7))
        w = "".join(rng.choice(list(cons if i % 2 == 0 else vows)) for i in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    stop_p = 1 / 30
    probs = [stop_p] * len(STOPWORDS) + [(1 - stop_p * len(STOPWORDS)) / len(words)] * len(words)
    return list(STOPWORDS) + words, np.array(probs)


WIDE_VOCAB, WIDE_P = _wide_vocab()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20

# Planted near-duplicates: each pile member is its root with about one
# word in 12 replaced, and never more than 15 words in a row unchanged.
# That keeps word-trigram Jaccard to the root near 0.63 (above the
# pipeline's 0.5 cluster threshold) while no 20-word span is shared,
# so the members reach the near-dup cluster stage instead of being
# removed by exact or substring dedup.
PILE_SHARE = 1 / 3
PILE_SUB_P = 1 / 24
PILE_MAX_RUN = 15
PILE_ROOT_LEN = (40, 90)
EXACT_COPY_SHARE = 0.002
SUFFIX_COPY_SHARE = 0.01


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _random_doc(rng, vocab, p, lo=10, hi=100):
    return list(rng.choice(len(vocab), size=int(rng.integers(lo, hi + 1)), p=p))


def _pile_member(rng, root, vocab, p):
    out, run = [], 0
    for w in root:
        run += 1
        if run > PILE_MAX_RUN or rng.random() < PILE_SUB_P:
            w2 = w
            while w2 == w:
                w2 = int(rng.choice(len(vocab), p=p))
            w, run = w2, 0
        out.append(w)
    return out


def _pile_sizes(n_pile_docs, max_pile):
    """Heavy-tailed pile sizes summing to n_pile_docs: the k-th largest
    pile holds max_pile / k documents (at least 2). The sizes
    depend only on the corpus size, so every seed plants the same pile
    structure and only the text differs."""
    sizes, left, k = [], n_pile_docs, 1
    while left >= 2:
        s = min(max(2, max_pile // k), left)
        if left - s == 1:
            s += 1
        sizes.append(s)
        left -= s
        k += 1
    return sizes


def corpus(out_dir, seed, n_docs, pile_share=PILE_SHARE,
           suffix_share=SUFFIX_COPY_SHARE, wide=True):
    """documents.parquet; returns its properties. The defaults make the
    curate corpus: wide vocabulary, dense near-duplicate piles.
    `wide=False` keeps sf0.1's 30 uniform words."""
    rng = np.random.default_rng([seed, 1])
    vocab, p = (WIDE_VOCAB, WIDE_P) if wide else (VOCAB, None)
    n_pile = int(n_docs * pile_share)
    # the largest piles exceed the engine's shingle df cap (100 documents)
    sizes = _pile_sizes(n_pile, max(2, n_docs // 15))
    docs = []
    for s in sizes:
        root = _random_doc(rng, vocab, p, *PILE_ROOT_LEN)
        docs.append(root)
        docs.extend(_pile_member(rng, root, vocab, p) for _ in range(s - 1))
    n_exact = int(n_docs * EXACT_COPY_SHARE)
    n_suffix = int(n_docs * suffix_share)
    n_base = n_docs - len(docs) - n_exact - n_suffix
    base = [_random_doc(rng, vocab, p) for _ in range(n_base)]
    texts = [" ".join(vocab[w] for w in d) for d in docs + base]
    picks = rng.integers(len(docs), len(texts), size=n_exact + n_suffix)
    texts += [texts[i] for i in picks[:n_exact]]
    texts += [texts[i] + " dup" for i in picks[n_exact:]]
    order = rng.permutation(len(texts))
    text = [texts[i] for i in order]
    ids = np.arange(len(text), dtype=np.int64)
    lang = rng.choice(len(LANGS), size=len(text), p=LANG_P)
    _write(os.path.join(out_dir, "documents.parquet"), pa.table({
        "doc_id": ids,
        "text": text,
        "lang": [LANGS[i] for i in lang],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }))
    return {"docs": len(text), "pile_doc_share": round(n_pile / len(text), 4),
            "piles": len(sizes), "largest_pile": max(sizes, default=0),
            "exact_copies": n_exact, "suffix_copies": n_suffix}


def _unit_rows(rng, n, dim):
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vectors(v):
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, flat.__len__() + 1, v.shape[1], dtype=np.int32)), flat)


def training(out_dir, seed, n_examples, dim=64, n_classes=10, noise=2.2,
             holdout=0.1):
    """train/ and holdout/ parquet for train_dp: ten unit-norm class
    prototypes plus Gaussian noise, so the labels are learnable."""
    rng = np.random.default_rng([seed, 2])
    protos = _unit_rows(rng, n_classes, dim)
    labels = rng.integers(0, n_classes, size=n_examples)
    x = protos[labels] + rng.standard_normal((n_examples, dim)) * (noise / np.sqrt(dim))
    n_hold = int(n_examples * holdout)
    for name, sl in (("holdout", slice(0, n_hold)), ("train", slice(n_hold, None))):
        _write(os.path.join(out_dir, f"{name}.parquet"), pa.table({
            "features": _vectors(x[sl]),
            "label": labels[sl].astype(np.int32),
        }))
    counts = np.bincount(labels[n_hold:], minlength=n_classes)
    return {"train_examples": int(n_examples - n_hold), "holdout_examples": n_hold,
            "dim": dim, "classes": n_classes,
            "class_balance": round(float(counts.min() / counts.max()), 4)}


def tables(out_dir, seed, rel_scale=0.1, vec_scale=1.0):
    """customer, orders, lineitem, embeddings and documents in the sf0.1
    shapes, for query_mix. The relational tables (customer, orders,
    lineitem and the part keys) are `rel_scale` of sf0.1; embeddings and
    documents are `vec_scale` of it."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_ord, n_li, n_part = (int(15000 * rel_scale), int(150000 * rel_scale),
                                   int(600000 * rel_scale), int(20000 * rel_scale))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(n_cust, dtype=np.int64)
    _write(os.path.join(out_dir, "customer.parquet"), pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }))
    day0 = np.datetime64("1995-01-01", "ms")
    ms_day = np.timedelta64(86400000, "ms")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(os.path.join(out_dir, "orders.parquet"), pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, n_ord) * ms_day,
                                pa.timestamp("ms")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }))
    _write(os.path.join(out_dir, "lineitem.parquet"), pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n_part // 20), n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(day0 + rng.integers(1, 2499, n_li) * ms_day,
                               pa.timestamp("ms")),
    }))
    n_emb = int(2000 * vec_scale)
    _write(os.path.join(out_dir, "embeddings.parquet"), pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vectors(_unit_rows(rng, n_emb, 64)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }))
    # sf0.1's corpus: no planted piles, 5% "... dup" suffix copies
    props = corpus(out_dir, seed, int(5000 * vec_scale), pile_share=0.0,
                   suffix_share=0.05, wide=False)
    return {"customers": n_cust, "orders": n_ord, "lineitems": n_li,
            "parts": n_part, "embeddings": n_emb, "docs": props["docs"]}
