"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python (no Spark), so the flagship ground truth
is computed independently of the engine under test: the generator knows
which Arabic tokens it emitted into each file.

    flagship_etl       nested Arabic text corpus + per-file ground truth
    warehouse_queries  TPC-H-ish star schema + events (testdata schema)
    curation           documents table with planted near-duplicates
"""
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------- flagship_etl

# Arabic letters (hamza .. ghain, feh .. yeh); every one is inside the
# engine's token class [ء-غـ-ْ].
LETTERS = [chr(c) for c in range(0x0621, 0x063B)] + [chr(c) for c in range(0x0641, 0x064B)]
TASHKEEL = [chr(c) for c in range(0x064B, 0x0653)]
# Separators and noise that are outside the token class.
LATIN_NOISE = ["data", "Spark", "ETL", "http", "v2", "OK", "corpus", "x86"]
DIGIT_NOISE = ["2024", "17", "3.14", "١٢٣", "٠٩"]
PUNCT = ["،", ".", "!", "؟", ":", "؛", "(", ")", "-"]

FLAGSHIP_FILES = 100
FLAGSHIP_TOKENS_PER_FILE = (3000, 6000)
FLAGSHIP_VOCAB = 60000


def _arabic_word(rng, lo, hi):
    return "".join(rng.choice(LETTERS) for _ in range(rng.randint(lo, hi)))


def gen_flagship(root, seed):
    """Writes corpus/dNN/eN/fNNNN.txt plus truth.json; returns input bytes.

    truth.json maps the file path's last four segments (what the flagship
    job keeps of a path) to [token_count, sorted distinct words].
    """
    rng = random.Random(seed)
    vocab = []
    seen = set()
    while len(vocab) < FLAGSHIP_VOCAB:
        # length and tashkeel follow the Zipf rank, not the seed, so the
        # corpus size (dominated by the top ranks) is the same for every seed
        rank = len(vocab)
        w = "".join(rng.choice(LETTERS) for _ in range(3 + (rank * 5) % 7))
        if rank % 10 < 3:
            w = "".join(ch + (TASHKEEL[(rank + k) % len(TASHKEEL)] if k % 2 == 0 else "")
                        for k, ch in enumerate(w))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    # Zipf(1.1) ranks over the vocabulary, drawn with numpy for speed.
    nrng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, FLAGSHIP_VOCAB + 1) ** 1.1
    weights /= weights.sum()

    corpus = os.path.join(root, "corpus")
    truth = {}
    total = 0
    for i in range(FLAGSHIP_FILES):
        rel = f"corpus/d{i % 12:02d}/e{(i // 12) % 4}/f{i:04d}.txt"
        lo, hi = FLAGSHIP_TOKENS_PER_FILE
        n_tok = lo + (i * 1777) % (hi - lo + 1)     # same file sizes for every seed
        ids = nrng.choice(FLAGSHIP_VOCAB, size=n_tok, p=weights)
        parts, tokens = [], []
        for k, wid in enumerate(ids):
            w = vocab[wid]
            if (i * 7 + k) % 2500 == 0:
                # over-long token: exercises the 255-char truncation
                w = _arabic_word(rng, 260, 400)
            tokens.append(w)
            r = rng.random()
            if r < 0.03:
                w = w + rng.choice(LATIN_NOISE)           # glued Latin noise
            elif r < 0.05:
                w = rng.choice(DIGIT_NOISE) + w           # glued digit noise
            parts.append(w)
            r = rng.random()
            if r < 0.06:
                parts.append(rng.choice(PUNCT))
            elif r < 0.09:
                parts.append(rng.choice(LATIN_NOISE + DIGIT_NOISE))
            parts.append("\n" if k % 17 == 16 else " ")
        text = "".join(parts)
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        total += len(data)
        truth[rel] = [len(tokens), sorted(set(tokens))]
    # files the *.txt glob must skip
    for d in ("d00", "d05"):
        with open(os.path.join(corpus, d, "NOTES.md"), "w", encoding="utf-8") as f:
            f.write("ملاحظات not part of the corpus\n")
    with open(os.path.join(root, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, ensure_ascii=False)
    return total


# ------------------------------------------------------ warehouse_queries

WH_CUSTOMERS = 3000
WH_SUPPLIERS = 200
WH_PARTS = 4000
WH_ORDERS = 30000
WH_USERS = 300
WH_EVENTS = 20000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
PART_WORDS = ["red", "blue", "hot", "large", "small", "steel", "ring", "bolt", "nut", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

DAY_US = 86400 * 1_000_000
EPOCH_1995 = 788918400 * 1_000_000       # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1704067200 * 1_000_000      # 2024-01-01T00:00:00Z in micros


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(dirpath, name, cols):
    path = os.path.join(dirpath, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def gen_warehouse(root, seed):
    """Writes one parquet file per table, testdata schema; returns bytes."""
    g = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    total = 0
    total += _write(root, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    total += _write(root, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    total += _write(root, "customer", {
        "c_custkey": pa.array(np.arange(WH_CUSTOMERS, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(WH_CUSTOMERS)],
        "c_nationkey": pa.array(g.integers(0, 25, WH_CUSTOMERS, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, WH_CUSTOMERS), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in g.integers(0, 5, WH_CUSTOMERS)]})
    total += _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(WH_SUPPLIERS, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(WH_SUPPLIERS)],
        "s_nationkey": pa.array(g.integers(0, 25, WH_SUPPLIERS, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, WH_SUPPLIERS), 2))})
    price = np.round(900.0 + (np.arange(WH_PARTS) % 2000) * 0.1, 2)
    total += _write(root, "part", {
        "p_partkey": pa.array(np.arange(WH_PARTS, dtype=np.int64)),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in g.integers(0, 10, (WH_PARTS, 2))],
        "p_brand": [f"Brand#{i}" for i in g.integers(10, 56, WH_PARTS)],
        "p_type": [PART_TYPES[i] for i in g.integers(0, 6, WH_PARTS)],
        "p_size": pa.array(g.integers(1, 51, WH_PARTS, dtype=np.int32)),
        "p_retailprice": pa.array(price)})
    odate = EPOCH_1995 + g.integers(0, 2404, WH_ORDERS) * DAY_US   # .. 2001-08-01
    total += _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(WH_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, WH_CUSTOMERS, WH_ORDERS, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in g.integers(0, 3, WH_ORDERS)],
        "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, WH_ORDERS), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in g.integers(0, 5, WH_ORDERS)]})
    nlines = g.integers(1, 8, WH_ORDERS)
    okey = np.repeat(np.arange(WH_ORDERS, dtype=np.int64), nlines)
    n = len(okey)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1).astype(np.int32)
    # skewed part popularity so market-basket pairs recur
    partkey = np.minimum((g.pareto(1.2, n) * 40).astype(np.int64), WH_PARTS - 1)
    qty = g.integers(1, 51, n).astype(np.float64)
    total += _write(root, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(g.integers(0, WH_SUPPLIERS, n, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[partkey], 2)),
        "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, n)],
        "l_shipdate": _ts(np.repeat(odate, nlines) + g.integers(1, 122, n) * DAY_US)})
    ts = np.sort(EPOCH_2024 + g.integers(0, 30 * DAY_US, WH_EVENTS))
    total += _write(root, "events", {
        "event_id": pa.array(np.arange(WH_EVENTS, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(g.integers(0, WH_USERS, WH_EVENTS, dtype=np.int64)),
        "event_type": [EVENT_TYPES[i] for i in g.integers(0, 5, WH_EVENTS)],
        "value": pa.array(np.round(g.exponential(40.0, WH_EVENTS), 2)),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, WH_EVENTS)]})
    return total


# --------------------------------------------------------------- curation

CUR_DOCS = 1000
CUR_NEAR_DUP = 0.10
CUR_EXACT_DUP = 0.01
CUR_BOILERPLATE = 0.05      # originals that share a boilerplate span
DOC_WORDS = ("spark table query scan join agg hash sort merge filter window stream batch "
             "vector column row line part order customer key value data group small big "
             "fast slow").split()
STOPS = {"en": ["the", "a", "of", "and", "to", "in", "is"],
         "fr": ["le", "la", "de", "et", "les", "des", "un"],
         "es": ["el", "los", "y", "en", "una", "que", "un"],
         "de": ["der", "die", "das", "und", "ein", "zu", "ist"],
         "zh": []}
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]


def gen_curation(root, seed):
    """documents.parquet with ~10% near-duplicates; returns bytes.

    Each planted duplicate copies a different original, so no document
    gathers a seed-dependent cluster of copies: the dedup work per doc
    is the same for every seed.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    n_near = int(CUR_DOCS * CUR_NEAR_DUP)
    n_exact = int(CUR_DOCS * CUR_EXACT_DUP)
    n_orig = CUR_DOCS - n_near - n_exact
    # shared boilerplate: survivors that are not near-duplicates but share
    # a span, so the span cut always has work to do
    boilerplate = [[rng.choice(DOC_WORDS) for _ in range(16)] for _ in range(4)]
    docs = []
    for _ in range(n_orig):
        lang = rng.choice(LANGS)
        pool = DOC_WORDS + STOPS[lang] * 2
        n = rng.randint(8, 120)
        words = [rng.choice(pool) for _ in range(n)]
        if rng.random() < 0.2:
            words[rng.randrange(n)] += rng.choice([".", ",", "!", "?"])
        if n >= 60 and rng.random() < CUR_BOILERPLATE * 2:
            at = rng.randrange(n)
            words[at:at] = rng.choice(boilerplate)
        docs.append((" ".join(words), lang))
    sources = rng.sample(range(n_orig), n_near + n_exact)
    for j in sources[:n_near]:
        # near-duplicate: perturb a few words of the original
        words = docs[j][0].split(" ")
        for _ in range(max(1, len(words) // 25)):
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
        docs.append((" ".join(words), docs[j][1]))
    for j in sources[n_near:]:
        # exact duplicate up to case and spacing
        docs.append(("  " + docs[j][0].upper().replace(" ", "   ") + " ", docs[j][1]))
    rng.shuffle(docs)
    texts = [t for t, _ in docs]
    return _write(root, "documents", {
        "doc_id": pa.array(np.arange(CUR_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": [l for _, l in docs],
        "source": [f"src{rng.randrange(20)}" for _ in range(CUR_DOCS)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


GENERATORS = {"flagship_etl": gen_flagship, "warehouse_queries": gen_warehouse,
              "curation": gen_curation}


def generate(workload, root, seed):
    """Regenerates `root` from scratch; returns the input size in bytes."""
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(root)
    return GENERATORS[workload](root, seed)
