"""Seeded, vectorized input generator for the benchmark workloads.

Every table is written as one parquet file per table under the output
directory, with the same schema as the engine's fixture tables (the
TPC-H-ish star, ``events``, ``documents``, ``embeddings``), plus one
newline-delimited text corpus for the word-count lifecycle. The same
seed gives byte-identical inputs; the program under test only ever
sees the files. ``run.py`` passes its ``--seed`` here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts at the fixture's sf0.1 layout (600k lineitem).
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
EVENT_USERS = 1_500
N_DOCS = 3_000
NEAR_DUP_SHARE = 0.10  # docs that are a lightly edited copy of another
EXACT_DUP_SHARE = 0.01  # docs that are a verbatim copy of another
DOC_VOCAB = 400
DOC_ZIPF = 0.8
N_VECTORS = 1_000
VECTOR_DIM = 64
N_CLUSTERS = 10
CLUSTER_WEIGHT = 0.5  # centroid norm against unit-norm noise
CORPUS_BYTES = 10 << 20
CORPUS_VOCAB = 20_000
CORPUS_ZIPF = 1.1
WORDS_PER_LINE = 12

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["hot", "cold", "large", "small", "red", "blue", "steel", "brass"]
_PART_NOUN = ["bolt", "ring", "nut", "gear", "pipe", "valve", "screw", "plate"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _words(rng: np.random.Generator, n: int, min_len: int, max_len: int) -> list[str]:
    """``n`` distinct lower-case pseudo-words."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(min_len, max_len + 1, size=n)
        letters = rng.integers(0, 26, size=int(lens.sum())).astype(np.uint8) + 97
        flat = letters.tobytes().decode()
        ends = np.cumsum(lens)
        for e, ln in zip(ends, lens):
            out.setdefault(flat[e - ln : e], None)
            if len(out) == n:
                break
    return list(out)


def _join_lines(vocab: list[str], idx: np.ndarray, lengths: np.ndarray) -> pa.Array:
    """Space-join ``vocab[idx]`` into one string per ``lengths`` run."""
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    values = pa.array(vocab).take(pa.array(idx))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), values), " ")


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def star_tables(rng: np.random.Generator, out: str) -> dict:
    """TPC-H-ish star plus ``events``; uniform keys like the fixture."""
    r = STAR_ROWS
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    }))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(r["customer"])),
        "c_name": _names("Customer", r["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, r["customer"]),
        "c_mktsegment": _pick(rng, _SEGMENTS, r["customer"]),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(r["supplier"])),
        "s_name": _names("Supplier", r["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, r["supplier"]),
    }))
    n = r["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n)),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0,
    }))
    n = r["orders"]
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n)),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    }))
    n = r["lineitem"]
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, r["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n) * _DAY_US),
    }))
    n = r["events"]
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }))
    return {"lineitem_rows": r["lineitem"], "event_users": EVENT_USERS}


def documents(rng: np.random.Generator, out: str) -> dict:
    """Word-shuffled docs over a shared Zipf vocabulary, with a planted
    share of near-duplicates (1-3 token substitutions of an earlier
    doc) and of verbatim copies."""
    vocab = _words(rng, DOC_VOCAB, 2, 9)
    p = _zipf_probs(DOC_VOCAB, DOC_ZIPF)
    lengths = rng.integers(10, 101, N_DOCS)
    tokens = rng.choice(DOC_VOCAB, size=int(lengths.sum()), p=p)
    docs = np.split(tokens, np.cumsum(lengths)[:-1])
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    copies = rng.choice(np.arange(N_DOCS // 2, N_DOCS), n_near + n_exact, replace=False)
    for i, dst in enumerate(copies):
        src = int(rng.integers(0, N_DOCS // 2))
        doc = docs[src].copy()
        if i < n_near:
            k = int(rng.integers(1, 4))
            doc[rng.choice(len(doc), k, replace=False)] = rng.choice(DOC_VOCAB, k, p=p)
        docs[dst] = doc
    lengths = np.array([len(d) for d in docs])
    text = _join_lines(vocab, np.concatenate(docs), lengths)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCS)),
        "text": text,
        "lang": _pick(rng, _LANGS, N_DOCS, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    }))
    return {
        "docs": N_DOCS,
        "near_dup_share": NEAR_DUP_SHARE,
        "exact_dup_share": EXACT_DUP_SHARE,
        "doc_vocab": DOC_VOCAB,
        "doc_zipf_s": DOC_ZIPF,
    }


def embeddings(rng: np.random.Generator, out: str) -> dict:
    """Unit vectors around ``N_CLUSTERS`` random centroids."""
    centroids = rng.standard_normal((N_CLUSTERS, VECTOR_DIM))
    centroids *= CLUSTER_WEIGHT / np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, N_CLUSTERS, N_VECTORS)
    v = centroids[label] + rng.standard_normal((N_VECTORS, VECTOR_DIM)) / np.sqrt(VECTOR_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), VECTOR_DIM)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))
    return {"vectors": N_VECTORS, "dim": VECTOR_DIM, "clusters": N_CLUSTERS}


def corpus(rng: np.random.Generator, out: str) -> dict:
    """~CORPUS_BYTES of newline-delimited Zipf text; about one token
    in twenty is capitalised and the stop word ``the`` is rank 1, so
    the word count's lower-casing and stop-word filter both do work."""
    vocab = ["the"] + _words(rng, CORPUS_VOCAB - 1, 2, 10)
    p = _zipf_probs(CORPUS_VOCAB, CORPUS_ZIPF)
    mean_word = float(np.dot(p, [len(w) + 1 for w in vocab]))
    n_words = int(CORPUS_BYTES / mean_word)
    idx = rng.choice(CORPUS_VOCAB, size=n_words, p=p)
    caps = rng.random(n_words) < 0.05
    vocab2 = vocab + [w.capitalize() for w in vocab]
    idx = np.where(caps, idx + CORPUS_VOCAB, idx)
    lengths = rng.integers(1, 2 * WORDS_PER_LINE, size=n_words // WORDS_PER_LINE + 1)
    lengths = lengths[: np.searchsorted(np.cumsum(lengths), n_words) + 1]
    lengths[-1] -= int(lengths.sum()) - n_words
    lines = _join_lines(vocab2, idx, lengths[lengths > 0])
    path = os.path.join(out, "corpus.txt")
    with open(path, "wb") as fh:
        fh.write(("\n".join(lines.to_pylist()) + "\n").encode())
    return {"corpus_words": n_words, "corpus_vocab": CORPUS_VOCAB, "corpus_zipf_s": CORPUS_ZIPF}


# Which inputs each workload reads.
INPUTS = {
    "tuned_wordcount": (corpus,),
    "star_join_analytics": (star_tables,),
    "near_dup_search": (documents, embeddings),
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out``; return their stated
    properties (skew, planted shares, cluster count, bytes on disk)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(INPUTS).index(workload)])
    props: dict = {"seed": seed}
    for make in INPUTS[workload]:
        props.update(make(rng, out))
    props["input_bytes"] = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
    )
    return props
