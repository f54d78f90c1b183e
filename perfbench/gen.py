"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of (seed, size, GENERATOR_VERSION):

* ``text``: one UTF-8 text file for the word-count workload, with its exact
  per-word counts.  Words are drawn from a Zipf(1.1) vocabulary that mixes
  ASCII and non-ASCII letters and upper/lower case; they are separated by
  runs of spaces, digits and punctuation (never letters, so every token the
  engine's ``[^\\p{L}]+`` split produces is one drawn word).  Some lines are
  empty, some end in CRLF, and the last line has no newline.
* ``tables``: the ten corpus tables (one parquet file each) with the column
  names and types the engine's registry queries read, so those queries run
  unchanged on the generated directory.

Outputs are cached under ``<root>/<kind>-<digest of the key>/``; a
``MANIFEST.json`` there records the key and a checksum over the files, and
a cached directory is reused only when both still match.
"""
import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

# Letters only: every character here is in Unicode category L, so the
# tokenizer never splits inside a word.
LETTERS = ("abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
           "éèêüöäßñçøåœ" "λμπσω" "жяшд")
# No letters here (digits, punctuation, blanks): each is a token boundary.
SEPARATORS = [" "] * 12 + [", ", ". ", "  ", "-", "; ", "7", "42", "!?",
                           "\t", " (", ") ", "--"]
ZIPF_S = 1.1

# The base documents vocabulary in frequency-rank order (as the engine's
# own corpus ranks it); "the" and "a" are the stopwords the quality gate
# looks for, so they never take a rare-word suffix.
DOC_VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "table", "data", "agg", "value", "key", "stream", "window",
             "spark", "a", "group", "part", "big", "sort", "query", "fast",
             "the"]
STOPWORDS = {"the", "a"}
DOCS_PER_GROUP = 5000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


# --------------------------------------------------------------------------
# word-count text

def make_vocab(rng, n_words):
    """`n_words` distinct words in Zipf rank order.  A word's length, 3-10
    letters, is set by its rank alone, so the text's size in bytes barely
    moves between seeds."""
    words, seen = [], set()
    letters = np.array(list(LETTERS))
    while len(words) < n_words:
        n = 3 + len(words) % 8
        w = "".join(letters[rng.integers(0, len(letters), n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_text(seed, n_tokens, n_words):
    """Returns (text, {word: count}) for `n_tokens` drawn tokens."""
    rng = np.random.default_rng([seed, 1])
    vocab = make_vocab(rng, n_words)
    p = np.arange(1, n_words + 1, dtype=np.float64) ** -ZIPF_S
    ids = rng.choice(n_words, size=n_tokens, p=p / p.sum())
    counts = np.bincount(ids, minlength=n_words)

    # line boundaries: 1-16 tokens a line
    lens = rng.integers(1, 17, size=n_tokens // 4 + 2)
    ends = np.cumsum(lens)
    ends = ends[ends < n_tokens]
    seps = np.array(SEPARATORS, dtype=object)[
        rng.integers(0, len(SEPARATORS), n_tokens)]
    # the separator after a line's last token is its line ending: mostly
    # LF, some CRLF, and some followed by an empty line
    eol = np.where(rng.random(len(ends)) < 0.05, "\r\n", "\n").astype(object)
    eol = np.where(rng.random(len(ends)) < 0.02, eol + "\n", eol)
    seps[ends - 1] = eol
    seps[n_tokens - 1] = ""  # final line without a newline
    out = np.empty(2 * n_tokens, dtype=object)
    out[0::2] = np.array(vocab, dtype=object)[ids]
    out[1::2] = seps
    text = "".join(out.tolist())
    return text, {w: int(c) for w, c in zip(vocab, counts) if c > 0}


def sorted_tsv(counts):
    """The expected single sorted TSV: `word\\tcount\\n` in bytewise order."""
    keys = sorted(counts, key=lambda w: w.encode("utf-8"))
    return "".join(f"{w}\t{counts[w]}\n" for w in keys).encode("utf-8")


def write_text(dst, seed, size):
    text, counts = make_text(seed, size["tokens"], size["vocab"])
    (dst / "input.txt").write_bytes(text.encode("utf-8"))
    (dst / "expected.tsv").write_bytes(sorted_tsv(counts))


# --------------------------------------------------------------------------
# corpus tables

def cents(rng, lo, hi, n):
    """Money values: whole cents in [lo, hi], as the nearest double."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def doc_text(rng, n_docs):
    """Document texts drawn from DOC_VOCAB with a square bias toward the
    frequent ranks; rare-half words take a per-group letter suffix so the
    vocabulary grows like sqrt(corpus size) instead of staying fixed."""
    v = len(DOC_VOCAB)
    vocab = np.array(DOC_VOCAB, dtype=object)
    n_groups = max(1, round((n_docs / DOCS_PER_GROUP) ** 0.5))
    ntok = rng.integers(10, 100, n_docs)
    total = int(ntok.sum())
    idx = np.floor(rng.random(total) ** 2 * v).astype(np.int64)
    words = vocab[idx]
    doc_of = np.repeat(np.arange(n_docs), ntok)
    group = doc_of * n_groups // n_docs
    suffix = np.array(["q" + chr(ord("a") + g % 26) * (1 + g // 26)
                       for g in range(n_groups)], dtype=object)
    rare = (idx >= v // 2) & ~np.isin(words, list(STOPWORDS))
    if n_groups > 1:
        words = np.where(rare, words + suffix[group], words)
    bounds = np.concatenate([[0], np.cumsum(ntok)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]].tolist())
             for i in range(n_docs)]
    # near duplicates: ~5% of documents repeat an earlier one plus a marker
    for i in np.nonzero(rng.random(n_docs) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def make_tables(seed, size):
    """{table name: pyarrow.Table} for the corpus at `size`."""
    rng = np.random.default_rng([seed, 2])
    sf = size["sf"]
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = size["docs"], int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(pick(rng, SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(pick(rng, ADJECTIVES, n_part) + " "
                           + pick(rng, NOUNS, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(pick(rng, PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": (90_000 + np.arange(n_part) % 1000 * 10) / 100.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(pick(rng, ["F", "O", "P"], n_ord)),
        "o_totalprice": cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(pick(rng, PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], n_li)),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n_li))})
    gaps = rng.integers(1, int(2 * 30 * 86400e6 / n_ev), n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), i64),
        "event_type": pa.array(pick(rng, EVENT_TYPES, n_ev)),
        "value": cents(rng, 0.01, 490.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = doc_text(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(pick(rng, LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    emb = rng.normal(size=(n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write_tables(dst, seed, size):
    for name, table in make_tables(seed, size).items():
        pq.write_table(table, dst / f"{name}.parquet")


WRITERS = {"text": write_text, "tables": write_tables}


# --------------------------------------------------------------------------
# cache

def checksum(d):
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(q for q in d.rglob("*") if q.is_file()):
        if p.name == "MANIFEST.json":
            continue
        h.update(str(p.relative_to(d)).encode() + b"\0")
        with p.open("rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def generate(root, kind, seed, size):
    """Generates (or reuses) one input set.  Returns a dict with the
    directory, the checksum, whether it was cached, and generation time."""
    key = {"kind": kind, "seed": seed, "size": size,
           "version": GENERATOR_VERSION}
    tag = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()
    dst = Path(root) / f"{kind}-{tag[:16]}"
    manifest = dst / "MANIFEST.json"
    t0 = time.perf_counter()
    if manifest.exists():
        m = json.loads(manifest.read_text())
        if m.get("key") == key and m.get("checksum") == checksum(dst):
            return {"dir": str(dst), "checksum": m["checksum"], "cached": True,
                    "gen_s": time.perf_counter() - t0}
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst.with_name(dst.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    WRITERS[kind](tmp, seed, size)
    digest = checksum(tmp)
    (tmp / "MANIFEST.json").write_text(
        json.dumps({"key": key, "checksum": digest}, sort_keys=True))
    tmp.rename(dst)
    return {"dir": str(dst), "checksum": digest, "cached": False,
            "gen_s": time.perf_counter() - t0}
