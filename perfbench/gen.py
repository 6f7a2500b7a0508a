"""Seeded input generators for the three workloads.

Everything a run feeds the program is made here from the run's seed:
the same seed gives byte-identical files. Generated inputs are cached
under the build directory, keyed by kind, seed and GENERATOR_VERSION, and
their content digest is checked before reuse.
"""
import collections
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever any generator's output changes, so stale caches are not reused.
GENERATOR_VERSION = 4

# ---------------------------------------------------------------- cache


def digest(root):
    """sha256 over every file's relative path and content, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "DIGEST":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def cached(cache_dir, key, make):
    """Return a directory holding `make(dir)`'s output for `key`.

    A cached copy is reused only when its recorded digest matches its
    content; otherwise it is rebuilt in a temporary directory and moved
    into place.
    """
    final = os.path.join(cache_dir, f"{key}-g{GENERATOR_VERSION}")
    stamp = os.path.join(final, "DIGEST")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest(final):
                return final
        shutil.rmtree(final)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(digest(tmp))
    os.rename(tmp, final)
    return final


def rng(*key):
    """A generator seeded from a tuple of ints, independent per key."""
    return np.random.Generator(np.random.PCG64(list(key)))


# ------------------------------------------------------ mr-wordcount


def vocabulary(r, size):
    """`size` distinct lowercase words, lengths 1..12 (shorter more likely)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        n = int(min(12, r.geometric(0.22)))
        w = "".join(r.choice(letters, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


# Word separators: mostly a space, sometimes punctuation or a digit, which
# the reference tokenizer (`[^A-Za-z]` runs) must also split on.
SEPARATORS = np.array([" "] * 12 + [", ", ". ", " - ", "'", "7", "; "])


def wordcount_corpus(seed, out, total_bytes, n_files, vocab_size):
    """A Zipf-vocabulary corpus as `n_files` `.txt` files: words of
    `[a-z]`, one in thirty capitalised, split by spaces, punctuation and
    digits; plus `oracle.tsv`, the `verify.py` word counts of the corpus
    (case-sensitive `[A-Za-z]` runs, the reference's tokenizer)."""
    r = rng(seed, 1)
    vocab = vocabulary(r, vocab_size)
    ranks = np.arange(1, vocab_size + 1)
    p = 1.0 / (ranks + 2.7)  # Zipf-Mandelbrot, exponent 1
    p /= p.sum()
    mean_len = float((p * np.char.str_len(vocab)).sum()) + 1.3
    counts = collections.Counter()
    per_file = total_bytes // n_files
    for i in range(n_files):
        words = vocab[r.choice(vocab_size, size=max(1, int(per_file / mean_len)), p=p)]
        caps = r.random(len(words)) < 1 / 30
        words[caps] = np.char.capitalize(words[caps])
        seps = r.choice(SEPARATORS, len(words))
        seps[r.integers(6, 18, size=len(words) // 6 + 1).cumsum().clip(max=len(words) - 1)] = "\n"
        seps[-1] = "\n"
        text = "".join(np.char.add(words, seps))
        counts.update(re.sub("[^A-Za-z]", " ", text).split())
        with open(os.path.join(out, f"pg{i:03d}.txt"), "w") as f:
            f.write(text)
    with open(os.path.join(out, "oracle.tsv"), "w") as f:
        for w, c in sorted(counts.items()):
            f.write(f"{w}\t{c}\n")


# -------------------------------------------------------- catalog tables

WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS, LANG_P = ["en", "es", "zh", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]


def documents(r, n):
    """`documents` rows: 10-100 words from a 30-word vocabulary; one doc in
    twenty is a near-duplicate (an earlier doc plus the token `dup`)."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(10, 101)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": r.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _ts(r, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + r.integers(0, days, n) * 86_400_000_000


def catalog_tables(out, sf, data_seed):
    """The ten catalog tables (the schemas and value domains of TESTDATA.md) at
    scale factor `sf`, one parquet file each."""
    r = rng(data_seed, 2)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    us = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"],
                                 n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "large", "red", "blue", "hot", "cold", "green", "black"]
    noun = ["ring", "widget", "bolt", "gizmo", "gear", "valve", "spring", "clip"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[r.integers(0, 8)]} {noun[r.integers(0, 8)]}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_ts(r, n_ord, "1995-01-01", 2404), us),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                    n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(_ts(r, n_li, "1995-01-02", 2498), us)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(start + r.integers(0, 30 * 86_400_000_000, n_ev)), us),
        "user_id": r.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": r.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(np.clip(r.exponential(50, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    t["documents"] = documents(r, n_doc)
    emb = r.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def catalog_sample(seed, pool, targets, bands):
    """A seeded stratified sample of catalog queries, in seeded order.

    `pool` maps each candidate to (family, reference seconds). All of
    `targets` are in. The other candidates are sorted by cost and cut into
    `bands` equal bands, and one query is drawn from each band, preferring
    a family not drawn yet: every sample has the same cost profile (so its
    medians move little from seed to seed) and spans the families.
    """
    r = rng(seed, 3)
    chosen = list(targets)
    cands = sorted((c, q) for q, (f, c) in pool.items() if q not in targets)
    families = set()
    for band in np.array_split(np.arange(len(cands)), bands):
        members = [cands[i][1] for i in band]
        fresh = [q for q in members if pool[q][0] not in families] or members
        pick = fresh[int(r.integers(len(fresh)))]
        families.add(pool[pick][0])
        chosen.append(pick)
    return [chosen[i] for i in r.permutation(len(chosen))]


# -------------------------------------------------------- curate-stream


def curate_batches(seed, out, n_docs, n_batches):
    """`n_docs` documents split at random into `n_batches` micro-batch files
    `b<i>.parquet` (doc_id, text), and `plan.json`: the delivery order, in
    which the middle batch is delivered a second time right after the
    first, with the same id (a replay after a crash between the sink
    commit and the checkpoint). The replay's position is fixed so that
    every seed's stream does the same work."""
    r = rng(seed, 4)
    docs = documents(r, n_docs).select(["doc_id", "text"])
    assign = r.permutation(np.arange(n_docs) % n_batches)
    for b in range(n_batches):
        pq.write_table(docs.filter(pa.array(assign == b)), os.path.join(out, f"b{b}.parquet"))
    plan = list(range(n_batches))
    plan.insert(n_batches // 2, n_batches // 2)
    text_bytes = sum(len(t.encode()) for t in docs.column("text").to_pylist())
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"plan": plan, "docs": n_docs, "text_bytes": text_bytes,
                   "delivered": int(sum(np.bincount(assign, minlength=n_batches)[plan]))}, f)
