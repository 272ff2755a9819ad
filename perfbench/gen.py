"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng`` seeded by the
benchmark seed (plus a fixed per-workload offset) and writes parquet
with pyarrow, so the same seed yields byte-identical files. Inputs are
written once per (workload, seed) under the cache directory and reused;
the program under test only ever sees these files.

Ground truth (planted duplicate clusters, contamination, neighbours) is
written next to the inputs as JSON for the checks.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload so a run's cost depends only on the code
# under test, never on the seed. perfbench/README.md lists them.
STAR = dict(n_fact=200_000, n_batch=40_000, batch_overlap=0.25,
            n_cust=20_000, n_prod=800, n_store=60, n_days=28)
CORPUS = dict(n_warm=200, n_unique=1400, n_exact_sets=60, n_near_sets=70,
              near_variants=(1, 3), edit_rates=(0.02, 0.04, 0.06),
              n_contam=30, n_eval=30, contam_span=20,
              n_labeled=600, vocab=3000, doc_len=(60, 140))
EMB = dict(n_vec=8000, dim=32, n_centers=16, spread=0.35,
           n_query=400, n_append_vec=1000)
EVENTS = dict(n_files=40, rows_per_file=3000, n_users=5000, n_days=7,
              kinds=("view", "click", "cart", "buy"))

_OFFSETS = {"etl_star": 11, "llm_curation": 23, "ann_serving": 37,
            "stream_ingest": 53}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _OFFSETS[workload]])


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed compression: the byte layout depends only on
    # the data, which depends only on the seed
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# --------------------------------------------------------------------------
# etl_star: fact + dimension tables and a second, overlapping fact batch
# --------------------------------------------------------------------------


def _fact(rng, ids, p):
    n = len(ids)
    return pa.table({
        "sale_id": pa.array(ids, pa.int64()),
        "cust_id": pa.array(rng.integers(0, p["n_cust"], n), pa.int64()),
        # skewed product popularity: a few hot products, as in real sales
        "prod_id": pa.array(
            np.minimum(rng.zipf(1.4, n) - 1, p["n_prod"] - 1), pa.int64()),
        "store_id": pa.array(rng.integers(0, p["n_store"], n), pa.int64()),
        "day": pa.array(rng.integers(0, p["n_days"], n), pa.int32()),
        "qty": pa.array(rng.integers(1, 12, n), pa.int64()),
        "price": pa.array(np.round(rng.uniform(0.5, 200.0, n), 2)),
    })


def gen_star(out: str, seed: int) -> None:
    p = STAR
    rng = _rng("etl_star", seed)
    _write(_fact(rng, np.arange(p["n_fact"]), p), f"{out}/fact.parquet")
    # the second batch re-sends a share of existing keys (an upsert must
    # keep the first version) and brings new ones
    n_old = int(p["n_batch"] * p["batch_overlap"])
    old = rng.choice(p["n_fact"], n_old, replace=False)
    new = np.arange(p["n_fact"], p["n_fact"] + p["n_batch"] - n_old)
    _write(_fact(rng, np.sort(np.concatenate([old, new])), p),
           f"{out}/fact_batch.parquet")
    _write(pa.table({
        "cust_id": pa.array(np.arange(p["n_cust"]), pa.int64()),
        "segment": pa.array(rng.choice(["retail", "smb", "corp", "gov"],
                                       p["n_cust"])),
        "region": pa.array(rng.choice(["na", "eu", "apac", "latam", "mea"],
                                      p["n_cust"])),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "prod_id": pa.array(np.arange(p["n_prod"]), pa.int64()),
        "category": pa.array([f"cat{c:02d}" for c in
                              rng.integers(0, 24, p["n_prod"])]),
        "brand": pa.array([f"brand{b:03d}" for b in
                           rng.integers(0, 90, p["n_prod"])]),
    }), f"{out}/product.parquet")
    _write(pa.table({
        "store_id": pa.array(np.arange(p["n_store"]), pa.int64()),
        "city": pa.array([f"city{c:02d}" for c in
                          rng.integers(0, 20, p["n_store"])]),
    }), f"{out}/store.parquet")


# --------------------------------------------------------------------------
# llm_curation: corpus with planted exact / near duplicates and eval-set
# contamination, an eval set, and a labeled set for the quality model
# --------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "po", "se", "di", "fa",
              "gu", "he", "jo", "ki", "lu", "ma", "no", "pi", "ri", "so",
              "te", "vo", "wa", "ye", "zu", "bo", "ce", "da", "el", "or"]


def _vocab(rng, n: int) -> list[str]:
    words: list[str] = []
    seen = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _doc_words(rng, vocab, probs, length) -> list[str]:
    return [vocab[i] for i in rng.choice(len(vocab), length, p=probs)]


def gen_corpus(out: str, seed: int) -> None:
    p = CORPUS
    rng = _rng("llm_curation", seed)
    vocab = _vocab(rng, p["vocab"])
    ranks = np.arange(1, p["vocab"] + 1, dtype=float)
    probs = 1.0 / ranks**1.05
    probs /= probs.sum()

    def length():
        return int(rng.integers(*p["doc_len"]))

    eval_docs = [_doc_words(rng, vocab, probs, length())
                 for _ in range(p["n_eval"])]
    unique = [_doc_words(rng, vocab, probs, length())
              for _ in range(p["n_unique"])]
    docs: list[str] = []
    clusters: list[list[int]] = []  # planted duplicate groups (doc indices)

    for words in unique:
        docs.append(" ".join(words))
    # exact duplicates: same text up to case and surrounding whitespace
    for base in rng.choice(p["n_unique"], p["n_exact_sets"], replace=False):
        base = int(base)
        copies = [base]
        for c in range(int(rng.integers(1, 3))):
            t = docs[base].upper() if c % 2 == 0 else f"  {docs[base]} "
            docs.append(t)
            copies.append(len(docs) - 1)
        clusters.append(copies)
    used = {i for c in clusters for i in c}
    # near duplicates: word substitutions at a known edit rate
    free = [i for i in range(p["n_unique"]) if i not in used]
    near_bases = rng.choice(free, p["n_near_sets"], replace=False)
    edit_rates = []
    for base in near_bases:
        base = int(base)
        members = [base]
        rate = float(p["edit_rates"][int(rng.integers(len(p["edit_rates"])))])
        for _ in range(int(rng.integers(p["near_variants"][0],
                                        p["near_variants"][1] + 1))):
            words = list(unique[base])
            n_edit = max(1, int(round(rate * len(words))))
            for pos in rng.choice(len(words), n_edit, replace=False):
                words[pos] = vocab[int(rng.integers(len(vocab)))]
            docs.append(" ".join(words))
            members.append(len(docs) - 1)
        clusters.append(members)
        edit_rates.append(rate)
    used |= {i for c in clusters for i in c}
    # contamination: a span of an eval doc pasted into otherwise unique docs
    free = [i for i in range(p["n_unique"]) if i not in used]
    contam = sorted(int(i) for i in
                    rng.choice(free, p["n_contam"], replace=False))
    span = p["contam_span"]
    for i in contam:
        src = eval_docs[int(rng.integers(p["n_eval"]))]
        start = int(rng.integers(0, len(src) - span))
        words = list(unique[i])
        at = int(rng.integers(0, len(words)))
        words[at:at] = src[start:start + span]
        docs[i] = " ".join(words)

    # shuffle doc ids so duplicates are not adjacent in id order
    perm = rng.permutation(len(docs))
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[perm] = np.arange(len(docs))
    texts = [None] * len(docs)
    for i, t in enumerate(docs):
        texts[int(doc_id[i])] = t
    sources = [f"src{int(s)}" for s in rng.integers(0, 4, len(docs))]
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
        "text": pa.array(texts),
        "source": pa.array(sources),
    }), f"{out}/docs.parquet")
    # warm-up slice: the first doc ids (a random sample, ids are shuffled)
    _write(pq.read_table(f"{out}/docs.parquet").slice(0, p["n_warm"]),
           f"{out}/warm_docs.parquet")
    _write(pa.table({
        "eval_id": pa.array(np.arange(p["n_eval"]), pa.int64()),
        "text": pa.array([" ".join(w) for w in eval_docs]),
    }), f"{out}/eval.parquet")

    # labeled set for the quality model: natural text (1) vs crawl junk
    # (0: long runs of repeated tokens and random character soup)
    lab_text, lab_y = [], []
    for j in range(p["n_labeled"]):
        if j % 2 == 0:
            lab_text.append(" ".join(_doc_words(rng, vocab, probs, length())))
            lab_y.append(1.0)
        else:
            w = vocab[int(rng.integers(len(vocab)))]
            junk = [w] * int(rng.integers(10, 40)) + [
                "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 9))
                for _ in range(int(rng.integers(10, 40)))]
            lab_text.append(" ".join(junk))
            lab_y.append(0.0)
    _write(pa.table({"text": pa.array(lab_text),
                     "label": pa.array(lab_y)}), f"{out}/labeled.parquet")

    _dump({
        "clusters": [sorted(int(doc_id[i]) for i in c) for c in clusters],
        "contaminated": sorted(int(doc_id[i]) for i in contam),
        "edit_rates": edit_rates,
        "n_docs": len(docs),
    }, f"{out}/truth.json")


# --------------------------------------------------------------------------
# ann_serving: clustered embeddings, query stream, append stream
# --------------------------------------------------------------------------


def gen_embeddings(out: str, seed: int) -> None:
    p = EMB
    rng = _rng("ann_serving", seed)
    centers = rng.normal(size=(p["n_centers"], p["dim"]))

    def draw(n):
        lab = rng.integers(0, p["n_centers"], n)
        return centers[lab] + p["spread"] * rng.normal(size=(n, p["dim"]))

    base = draw(p["n_vec"])
    n_app = p["n_append_vec"]
    _write(pa.table({
        "vec_id": pa.array(np.arange(p["n_vec"]), pa.int64()),
        "embedding": pa.array(list(base), pa.list_(pa.float64())),
    }), f"{out}/base.parquet")
    _write(pa.table({
        "vec_id": pa.array(np.arange(p["n_vec"], p["n_vec"] + n_app),
                           pa.int64()),
        "embedding": pa.array(list(draw(n_app)), pa.list_(pa.float64())),
    }), f"{out}/append.parquet")
    _write(pa.table({
        "q_id": pa.array(np.arange(p["n_query"]), pa.int64()),
        "embedding": pa.array(list(draw(p["n_query"])),
                              pa.list_(pa.float64())),
    }), f"{out}/queries.parquet")


# --------------------------------------------------------------------------
# stream_ingest: event files landed one at a time by the open-loop generator
# --------------------------------------------------------------------------


def gen_events(out: str, seed: int) -> None:
    p = EVENTS
    rng = _rng("stream_ingest", seed)
    os.makedirs(f"{out}/events", exist_ok=True)
    n = p["rows_per_file"]
    for i in range(p["n_files"]):
        _write(pa.table({
            "event_id": pa.array(np.arange(i * n, (i + 1) * n), pa.int64()),
            "user_id": pa.array(rng.integers(0, p["n_users"], n), pa.int64()),
            "day": pa.array(rng.integers(0, p["n_days"], n), pa.int32()),
            "kind": pa.array(rng.choice(list(p["kinds"]), n)),
            "value": pa.array(np.round(rng.exponential(20.0, n), 2)),
        }), f"{out}/events/part-{i:05d}.parquet")


GENERATORS = {
    "etl_star": gen_star,
    "llm_curation": gen_corpus,
    "ann_serving": gen_embeddings,
    "stream_ingest": gen_events,
}


def inputs(cache_root: str, workload: str, seed: int) -> str:
    """Directory holding ``workload``'s inputs for ``seed``, generating
    them first if this (workload, seed) has not been generated yet."""
    out = os.path.join(cache_root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
