"""Seeded input generators for the benchmark.

Two kinds of input, both written as parquet with the engine's fixture
schemas (`graft.Tables`):

* `fixture(dir, sf, seed)`: the TPC-H-ish star schema plus `events`,
  `documents` and `embeddings`, with the column domains and row counts of
  the engine's test fixtures (uniform keys, 1995-2001 order dates, a
  31-word document vocabulary, unit 64-d embeddings).  The fixture
  workloads use one fixed fixture; their seed only permutes query order.
* `corpus(dir, n_docs, seed)`: the `llm_pipeline` corpus.  A Zipf
  vocabulary, PII spans for the redactor, and a fixed share of
  near-duplicate documents whose embeddings are near-copies too, so
  every dedup operator has real work.

Same seed, same bytes: every draw comes from one `numpy` generator.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DUP_RATE = 0.15          # share of corpus docs that are near-copies of another
EDIT_RATE = 0.04         # share of a near-copy's tokens replaced at random
PII_RATE = 0.10          # share of corpus docs that carry one PII span
DIM = 64
VOCAB = 300_000          # corpus vocabulary; Zipf-distributed token draws
ZIPF = 0.9

FIXTURE_WORDS = ("a batch row sort query filter hash key group agg join scan "
                 "order value window fast vector small table data stream slow "
                 "part merge column customer the spark big line").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts_us(days_from, days_to, n, rng, day_only=True, start="1995-01-01"):
    base = np.datetime64(start, "us")
    if day_only:
        d = rng.integers(days_from, days_to + 1, n).astype("timedelta64[D]")
        return base + d.astype("timedelta64[us]")
    span = (days_to - days_from) * 86_400_000_000
    off = rng.integers(0, span, n).astype("timedelta64[us]")
    return base + np.timedelta64(days_from, "D").astype("timedelta64[us]") + off


def _write(path, cols, schema):
    pq.write_table(pa.Table.from_arrays(cols, schema=schema), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _unit_rows(m):
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _emb_array(mat):
    flat = pa.array(mat.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def fixture(out_dir, sf=0.1, seed=42):
    """Write the ten fixture tables for scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(os.path.join(out_dir, "region.parquet"),
           [pa.array(np.arange(5, dtype=np.int32)), pa.array(regions)],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(os.path.join(out_dir, "nation.parquet"),
           [pa.array(np.arange(25, dtype=np.int32)),
            pa.array([f"NATION_{i}" for i in range(25)]),
            pa.array(rng.integers(0, 5, 25).astype(np.int32))],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(os.path.join(out_dir, "customer.parquet"),
           [pa.array(np.arange(n_cust, dtype=np.int64)),
            pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            pa.array(segs[rng.integers(0, 5, n_cust)])],
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(os.path.join(out_dir, "supplier.parquet"),
           [pa.array(np.arange(n_supp, dtype=np.int64)),
            pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            pa.array(_money(rng, -999.99, 9999.99, n_supp))],
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    adj = "red blue cold hot new old small large".split()
    noun = "widget bolt anvil ring plate rod gear spring".split()
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(os.path.join(out_dir, "part.parquet"),
           [pa.array(np.arange(n_part, dtype=np.int64)),
            pa.array(names[rng.integers(0, len(names), n_part)]),
            pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            pa.array(types[rng.integers(0, 6, n_part)]),
            pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0)],
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(os.path.join(out_dir, "orders.parquet"),
           [pa.array(np.arange(n_ord, dtype=np.int64)),
            pa.array(rng.integers(0, n_cust, n_ord)),
            pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            pa.array(_ts_us(0, 2404, n_ord, rng), type=ts),
            pa.array(prio[rng.integers(0, 5, n_ord)])],
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(os.path.join(out_dir, "lineitem.parquet"),
           [pa.array(rng.integers(0, n_ord, n_line)),
            pa.array(rng.integers(0, n_part, n_line)),
            pa.array(rng.integers(0, n_supp, n_line)),
            pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            pa.array(rng.integers(0, 11, n_line) / 100.0),
            pa.array(rng.integers(0, 9, n_line) / 100.0),
            pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            pa.array(_ts_us(1, 2499, n_line, rng), type=ts)],
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(os.path.join(out_dir, "events.parquet"),
           [pa.array(np.arange(n_ev, dtype=np.int64)),
            pa.array(_ts_us(0, 30, n_ev, rng, day_only=False, start="2024-01-01"), type=ts),
            pa.array(rng.integers(0, max(15, n_ev // 67), n_ev)),
            pa.array(etypes[rng.integers(0, 5, n_ev)]),
            pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])],
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                      ("value", f64), ("props", s)]))
    words = np.array(FIXTURE_WORDS[:-1])
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:      # near-copy tagged with "dup"
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    _write(os.path.join(out_dir, "documents.parquet"),
           [pa.array(np.arange(n_doc, dtype=np.int64)), pa.array(texts),
            pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
            pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
            pa.array(np.array([len(t) for t in texts], dtype=np.int64))],
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    labels = rng.integers(0, 10, n_emb)
    centers = _unit_rows(rng.standard_normal((10, DIM)))
    emb = _unit_rows(centers[labels] * 0.5 + rng.standard_normal((n_emb, DIM)) / 8)
    _write(os.path.join(out_dir, "embeddings.parquet"),
           [pa.array(np.arange(n_emb, dtype=np.int64)), _emb_array(emb),
            pa.array(labels.astype(np.int32))],
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


def _vocab(n):
    """`n` distinct pseudo-words of three or four syllables."""
    syl = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    m = len(syl)
    out = []
    for i in range(n):
        k = (i * 7919) % m ** 3          # a bijection on [0, m^3): distinct stems
        w = syl[k % m] + syl[k // m % m] + syl[k // (m * m)]
        out.append(w + syl[i % m] if i % 3 == 0 else w)
    return np.array(out)


def _pii(rng):
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return f"user{int(rng.integers(0, 10**6))}@mail{int(rng.integers(0, 50))}.example.com"
    if kind == 1:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    if kind == 2:
        return " ".join(f"{int(x):04d}" for x in rng.integers(0, 10_000, 4))
    return f"+1 {int(rng.integers(200, 999))}-{int(rng.integers(200, 999))}-{int(rng.integers(1000, 9999))}"


def corpus_tables(n_docs, seed):
    """The `llm_pipeline` corpus as two arrow tables (documents, embeddings)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(VOCAB)
    zipf = 1.0 / (np.arange(len(vocab)) + 10.0) ** ZIPF
    zipf /= zipf.sum()
    lens = rng.integers(40, 161, n_docs)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=zipf)
    pool = rng.choice(len(vocab), size=n_docs * 20, p=zipf)   # replacement tokens
    used = 0
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    n_topics = 32
    centers = _unit_rows(rng.standard_normal((n_topics, DIM)))
    topic = rng.integers(0, n_topics, n_docs)
    emb = centers[topic] * 0.5 + rng.standard_normal((n_docs, DIM)) / 8
    is_dup = rng.random(n_docs) < DUP_RATE
    is_dup[:100] = False
    base_of = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    docs = []
    for i in range(n_docs):
        if is_dup[i]:
            b = docs[base_of[i]]
            t = b.copy()
            edits = rng.random(len(t)) < EDIT_RATE
            k = int(edits.sum())
            t[edits] = pool[used:used + k]
            used += k
            emb[i] = emb[base_of[i]] + rng.standard_normal(DIM) / 200
            topic[i] = topic[base_of[i]]
        else:
            t = toks[starts[i]:starts[i] + lens[i]]
        docs.append(t)
    texts = []
    for t in docs:
        words = vocab[t].tolist()
        if rng.random() < PII_RATE:
            words.insert(int(rng.integers(0, len(words))), _pii(rng))
        texts.append(" ".join(words))
    emb = _unit_rows(emb)
    ids = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": ids, "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    embeddings = pa.Table.from_arrays(
        [pa.array(ids), _emb_array(emb), pa.array(topic.astype(np.int32))],
        schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                          ("label", pa.int32())]))
    return documents, embeddings


def fingerprint(*tables):
    """sha256 over every column buffer of the given arrow tables."""
    h = hashlib.sha256()
    for t in tables:
        for col in t.combine_chunks().columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


def corpus(out_dir, n_docs, seed):
    """Write the corpus to `out_dir` and return its manifest."""
    os.makedirs(out_dir, exist_ok=True)
    documents, embeddings = corpus_tables(n_docs, seed)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    manifest = {"seed": seed, "n_docs": n_docs, "fingerprint": fingerprint(documents, embeddings),
                "sum_chars": int(pc.sum(documents["n_chars"]).as_py())}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
