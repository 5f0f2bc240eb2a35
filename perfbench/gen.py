"""Seeded input generators for the benchmark.

Two families, both written as single-file parquet tables the engine reads
through `graft.sources.Tables`:

* `tables(dest, seed, sf)` - the star schema plus `events`, `documents` and
  `embeddings`, with the column names, types and value domains of the
  engine's fixture tables (FIXTURES.md, part B). Row counts scale with `sf`
  (lineitem = 6M x sf).
* `corpus(dest, seed, tokens)` - the word-count corpus: `documents.parquet`
  with a Zipf-distributed vocabulary, mixed case, attached punctuation,
  hashtags, digits and stand-alone punctuation tokens, plus the exact
  expected word counts (`expected.parquet`) computed here, independently of
  the engine.

Every directory also gets `warmup/documents.parquet`, a ~1k-line corpus for
the untimed warm-up operation.

The same (seed, size) always gives byte-identical inputs. Outputs are cached:
a finished directory holds a `_DONE` marker and is reused as is.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


def _cached(dest: str, build) -> str:
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    tmp = dest + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "warmup"))
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


# ---------------------------------------------------------------- corpus

_PUNCT = list(",.!?;:") + ['"', "'", ")", "..."]
_LONE = ["-", "&", "...", "--", "|", "(:", "!!"]
_LANGS = ["en", "fr", "es", "zh", "de"]


def _vocabulary(rng: np.random.Generator, n: int) -> list:
    """n distinct lowercase words: letters, some with digits, some numbers."""
    seen, words = set(), []
    while len(words) < n:
        m = 2 * (n - len(words)) + 16
        letters = rng.integers(97, 123, size=(m, 10), dtype=np.uint8)
        lengths = rng.integers(2, 11, size=m)
        kind = rng.random(m)
        nums = rng.integers(0, 100000, size=m)
        for row, k, r, x in zip(letters, lengths, kind, nums):
            if r < 0.05:
                w = str(x)
            elif r < 0.12:
                w = row[:k].tobytes().decode() + str(x % 100)
            else:
                w = row[:k].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _surfaces(rng: np.random.Generator, words: list) -> np.ndarray:
    """Four surface forms per word; every one normalizes back to the word."""
    out = np.empty(len(words) * 4, dtype=object)
    punct = rng.choice(_PUNCT, size=len(words))
    lead = rng.random(len(words))
    for i, w in enumerate(words):
        out[4 * i] = w
        out[4 * i + 1] = w.capitalize()
        out[4 * i + 2] = w.upper()
        if lead[i] < 0.3:
            out[4 * i + 3] = ("#" if lead[i] < 0.15 else "@") + w
        elif len(w) > 3 and lead[i] < 0.4:
            out[4 * i + 3] = w[:-1] + "'" + w[-1]
        else:
            out[4 * i + 3] = w + punct[i]
    return out


def _documents(rng: np.random.Generator, tokens: int, vocab: int):
    """Returns (documents table, expected counts table)."""
    words = _vocabulary(rng, vocab)
    surfaces = _surfaces(rng, words)
    # Zipf-like ranks: p(rank r) ~ 1 / (r + 2.7)^1.05
    ranks = np.arange(vocab, dtype=np.float64)
    p = 1.0 / np.power(ranks + 2.7, 1.05)
    p /= p.sum()
    word_ids = rng.choice(vocab, size=tokens, p=p)
    variant = rng.choice(4, size=tokens, p=[0.70, 0.15, 0.05, 0.10])
    toks = surfaces[word_ids * 4 + variant]
    # ~1% stand-alone punctuation tokens that normalize to nothing
    lone = rng.random(tokens) < 0.01
    toks[lone] = rng.choice(_LONE, size=int(lone.sum()))
    counted = word_ids[~lone]

    lengths = rng.integers(5, 36, size=tokens // 20 + 2)
    ends = np.cumsum(lengths)
    ends = ends[ends < tokens]
    bounds = np.concatenate([[0], ends, [tokens]])
    texts = [" ".join(toks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    n = len(texts)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })
    counts = np.bincount(counted, minlength=vocab)
    nz = np.nonzero(counts)[0]
    expected = pa.table({
        "word": pa.array([words[i] for i in nz], pa.string()),
        "cnt": pa.array(counts[nz].astype(np.int64)),
    })
    return docs, expected


def _warmup(dest: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 7])
    docs, _ = _documents(rng, 20_000, 2_000)
    _write(docs, os.path.join(dest, "warmup", "documents.parquet"))


def corpus(dest: str, seed: int, tokens: int) -> str:
    def build(tmp):
        rng = np.random.default_rng([seed, 1])
        vocab = max(2_000, min(400_000, tokens // 15))
        docs, expected = _documents(rng, tokens, vocab)
        _write(docs, os.path.join(tmp, "documents.parquet"), row_groups=32)
        _write(expected, os.path.join(tmp, "expected.parquet"))
        total = int(pc.sum(expected["cnt"]).as_py())
        top = sorted(zip(expected["cnt"].to_pylist(), expected["word"].to_pylist()),
                     key=lambda cw: (-cw[0], cw[1]))[:20]
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump({"tokens": total, "distinct": expected.num_rows,
                       "lines": docs.num_rows}, f)
        with open(os.path.join(tmp, "top20.tsv"), "w") as f:
            f.writelines(f"{w}\t{c}\n" for c, w in top)
        _warmup(tmp, seed)
    return _cached(dest, build)


# ---------------------------------------------------------------- tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = ("a the of and to data table query scan join filter sort group "
              "agg hash merge window stream batch spark value key row column "
              "part order line customer fast slow big small vector").split()
_COLORS = ["red", "blue", "green", "small", "large", "shiny"]
_NOUNS = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 100))
        words = list(rng.choice(_DOC_WORDS, size=k))
        if rng.random() < 0.2:
            j = int(rng.integers(0, k))
            words[j] = words[j] + rng.choice([",", ".", "!", "?"])
        if rng.random() < 0.1:
            words.append(str(int(rng.integers(0, 2030))))
        texts.append(" ".join(words))
    # exact and near duplicates, so the dedup operators have work to report
    for i in range(n // 20, n, 20):
        src = texts[int(rng.integers(0, i))]
        if rng.random() < 0.5:
            texts[i] = src
        else:
            w = src.split(" ")
            w[int(rng.integers(0, len(w)))] = "variant"
            texts[i] = " ".join(w)
    return texts


def _build_tables(tmp: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 2])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_users = max(15, int(15_000 * sf))

    def put(name, cols):
        _write(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(_REGIONS)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust))})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    prices = 900.0 + (np.arange(n_part) % 1000) / 10.0
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(_COLORS, n_part), rng.choice(_NOUNS, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(prices, 2))})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord))})
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * prices[partkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, n_line) * _DAY_US)})
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    put("events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt)),
        "value": pa.array(np.round(rng.exponential(40.0, n_evt) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
    texts = _doc_texts(rng, n_doc)
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = (rng.standard_normal((n_doc, 64)) * 0.13).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(np.int32))})
    _warmup(tmp, seed)


def tables(dest: str, seed: int, sf: float) -> str:
    return _cached(dest, lambda tmp: _build_tables(tmp, seed, sf))
