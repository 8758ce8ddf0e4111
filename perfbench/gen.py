#!/usr/bin/env python3
"""Seeded input generator for the benchmark. run.py calls generate();
this file has no command line of its own.

generate(seed, out) writes under `out`:

  tables/<name>.parquet  the ten board tables (TPC-H-style star schema,
                         events, documents, embeddings) with the schemas
                         the board queries read, at scale factor SF
  corpus/*.txt           a CORPUS_MB plain-text corpus for the MapReduce
                         engine, shaped like the Project Gutenberg set
                         the engine's reference used: skewed file sizes,
                         a near-empty file, non-ASCII letters,
                         punctuation runs and CRLF line ends
  warmup/*.txt           an eighth-size corpus of the same shape, for
                         the engine's untimed warm-up
  corpus.json            the corpus's file count and total bytes

The same seed gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
SF = 0.001
CORPUS_MB = 8.0


def epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(tables_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(tables_dir, f"{name}.parquet"))


def gen_tables(rng, sf, out):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    d0, d1 = epoch_us(1995, 1, 1), epoch_us(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    s0, s1 = epoch_us(1995, 1, 2), epoch_us(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_col(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, n_line) * DAY_US)})
    e0 = epoch_us(2024, 1, 1)
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts_col(np.sort(e0 + rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": money(rng, 0.01, 330.0, n_evt),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]})

    # documents: bag-of-words texts over a 30-word vocabulary. In every
    # block of twenty, documents 12 and 13 are near-duplicates of
    # document 0 (a few "dup" tokens appended), so the dedup family has
    # pairs to find, and the near-dup graph has the same shape (one
    # triangle per block) for every seed
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_docs):
        if i % 20 in (12, 13):
            texts.append(texts[i - i % 20] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors around ten weak cluster centres
    label = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = 0.15 * centres[label] + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


SYLLABLES = ("ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi "
             "mo mu na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu "
             "é ü ß ñ ø å ж ка ни λα μο").split()
SEPS = [" "] * 12 + [", ", ". ", "; ", " -- ", "!? ", "... ", "\r\n", "\r\n\r\n", " (", ") ", "'s ", " 1866 "]


def gen_corpus(rng, total_bytes, out):
    """Files with Gutenberg-like skew: one near-empty file plus sizes
    falling geometrically from the largest, ~300 B at the small end."""
    vocab = sorted({"".join(rng.choice(SYLLABLES, int(rng.integers(1, 5))))
                    for _ in range(30_000)})
    vocab = np.array(vocab, dtype=object)
    rng.shuffle(vocab)
    capitalized = np.array([w.capitalize() for w in vocab], dtype=object)
    seps_all = np.array(SEPS, dtype=object)
    # Zipf-like word frequencies over the vocabulary
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** 1.05)
    cdf /= cdf[-1]
    shares = 0.6 ** np.arange(9)
    sizes = [int(total_bytes * s / shares.sum()) for s in shares]
    sizes[-1] = 300
    files = {"pg-empty-ish.txt": "\r\n"}
    for i, size in enumerate(sizes):
        n_tok = max(8, size // 7)
        idx = np.searchsorted(cdf, rng.random(n_tok))
        parts = np.empty(2 * n_tok, dtype=object)
        parts[0::2] = np.where(rng.random(n_tok) < 0.08, capitalized[idx], vocab[idx])
        parts[1::2] = seps_all[rng.integers(0, len(SEPS), n_tok)]
        files[f"pg-{i:02d}.txt"] = "".join(parts.tolist())[:size]
    for name, text in files.items():
        with open(os.path.join(out, name), "w", encoding="utf-8", newline="") as f:
            f.write(text)
    return {"files": len(files),
            "bytes": sum(len(t.encode("utf-8")) for t in files.values())}


def generate(seed, out):
    """Write tables/, corpus/, warmup/ and corpus.json under `out`;
    return the corpus's file count and bytes."""
    for sub in ("tables", "corpus", "warmup"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    rng = np.random.default_rng
    gen_tables(rng([seed, 1]), SF, os.path.join(out, "tables"))
    info = gen_corpus(rng([seed, 2]), int(CORPUS_MB * 1e6), os.path.join(out, "corpus"))
    gen_corpus(rng([seed, 3]), int(CORPUS_MB * 1e6 / 8), os.path.join(out, "warmup"))
    with open(os.path.join(out, "corpus.json"), "w") as f:
        json.dump(info, f)
    return info
