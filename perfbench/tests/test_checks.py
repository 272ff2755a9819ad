"""Each output check accepts a correct output and rejects a corrupted one."""

import json
import os

import numpy as np
import pandas as pd
import pytest

import checks
import gen

# --------------------------------------------------------------------------
# etl_star
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = gen.inputs(str(tmp_path_factory.mktemp("star")), "etl_star", 2)
    rollup, sink = checks.etl_reference(d)
    batch = pd.read_parquet(f"{d}/fact_batch.parquet")
    return rollup, sink, batch


def test_etl_accepts_reference(star):
    rollup, sink, _ = star
    assert checks.check_etl(rollup.sample(frac=1, random_state=0),
                            sink.sample(frac=1, random_state=0),
                            rollup, sink) == []


def test_etl_rejects_wrong_sum(star):
    rollup, sink, _ = star
    bad = rollup.copy()
    bad.loc[3, "revenue"] += 0.5
    assert checks.check_etl(bad, sink, rollup, sink)


def test_etl_rejects_wrong_rank(star):
    rollup, sink, _ = star
    bad = rollup.copy()
    i, j = bad.index[(bad["day"] == 0)][:2]
    bad.loc[[i, j], "rnk"] = bad.loc[[j, i], "rnk"].to_numpy()
    assert checks.check_etl(bad, sink, rollup, sink)


def test_etl_rejects_double_written_key(star):
    rollup, sink, _ = star
    bad = pd.concat([sink, sink.iloc[[5]]])
    assert checks.check_etl(rollup, bad, rollup, sink)


def test_etl_rejects_lost_key(star):
    rollup, sink, _ = star
    assert checks.check_etl(rollup, sink.iloc[1:], rollup, sink)


def test_etl_rejects_wrong_appended_row(star):
    rollup, sink, _ = star
    bad = sink.copy()
    bad.loc[len(bad) - 1, "qty"] += 1  # a key new in the second batch
    assert checks.check_etl(rollup, bad, rollup, sink)


def test_etl_rejects_overwritten_first_version(star):
    rollup, sink, batch = star
    resent = batch[batch["sale_id"] < gen.STAR["n_fact"]]
    assert len(resent)
    bad = pd.concat([sink[~sink["sale_id"].isin(resent["sale_id"])],
                     resent])
    assert checks.check_etl(rollup, bad, rollup, sink)


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = gen.inputs(str(tmp_path_factory.mktemp("corpus")), "llm_curation", 2)
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    all_ids = set(range(truth["n_docs"]))
    dup = {i for c in truth["clusters"] for i in sorted(c)[1:]}
    after = all_ids - dup
    final = after - set(truth["contaminated"])
    return truth, all_ids, after, final


def test_curation_accepts_truth(corpus):
    truth, all_ids, after, final = corpus
    bad, q = checks.check_curation(all_ids, after, final, truth)
    assert bad == []
    assert q == {"dedup_recall": 1.0, "dedup_precision": 1.0}


def test_curation_rejects_missed_near_duplicates(corpus):
    truth, all_ids, after, final = corpus
    kept_back = {i for c in truth["clusters"][len(truth["clusters"]) // 3:]
                 for i in c}
    bad, q = checks.check_curation(all_ids, after | kept_back,
                                   final | kept_back, truth)
    assert bad and q["dedup_recall"] < 0.9


def test_curation_rejects_dropped_unique_docs(corpus):
    truth, all_ids, after, final = corpus
    members = {i for c in truth["clusters"] for i in c}
    victims = set(sorted(after - members - set(truth["contaminated"]))[:10])
    bad, q = checks.check_curation(all_ids, after - victims,
                                   final - victims, truth)
    assert bad and q["dedup_precision"] < 0.98


def test_curation_rejects_a_lost_cluster(corpus):
    truth, all_ids, after, final = corpus
    gone = set(truth["clusters"][0])
    bad, _ = checks.check_curation(all_ids, after - gone, final - gone, truth)
    assert any("lost every member" in b for b in bad)


def test_curation_rejects_missed_contamination(corpus):
    truth, all_ids, after, final = corpus
    leak = truth["contaminated"][0]
    bad, _ = checks.check_curation(all_ids, after, final | {leak}, truth)
    assert any("decontamination" in b for b in bad)


def test_curation_rejects_overzealous_decontamination(corpus):
    truth, all_ids, after, final = corpus
    clean = min(final)
    bad, _ = checks.check_curation(all_ids, after, final - {clean}, truth)
    assert any("decontamination" in b for b in bad)


def _packed(budget):
    rng = np.random.default_rng(0)
    df = pd.DataFrame({"doc_id": np.arange(40),
                       "pack_group": rng.integers(0, 3, 40),
                       "n_tokens": rng.integers(50, 400, 40)})
    df = df.sort_values(["pack_group", "doc_id"])
    start = df.groupby("pack_group")["n_tokens"].cumsum() - df["n_tokens"]
    return df.assign(pack_seq=start // budget)


def test_packing_accepts_running_offsets():
    assert checks.check_packing(_packed(512), 512) == []


def test_packing_rejects_shifted_sequence():
    df = _packed(512)
    df.iloc[7, df.columns.get_loc("pack_seq")] += 1
    assert checks.check_packing(df, 512)


def test_bpe_roundtrip():
    eow = "▁"
    texts = ["kalo mine", "ru"]
    toks = [["ka", "lo▁", "mi", "ne▁"], ["ru▁"]]
    assert checks.check_bpe(texts, toks, eow) == []
    assert checks.check_bpe(texts, [["ka", "lo▁", "mi▁"], ["ru▁"]], eow)


# --------------------------------------------------------------------------
# ann_serving
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(1)
    base = rng.normal(size=(300, 8))
    ids = np.arange(1000, 1300)
    q = rng.normal(size=(5, 8))
    return base, ids, q


def test_ann_accepts_brute_force(vectors):
    base, ids, q = vectors
    want = checks.brute_topk(base, ids, q, 10)
    got = {qi: list(map(int, want[qi])) for qi in range(len(q))}
    assert checks.check_ann_exact(got, base, ids, q, list(range(5)), 10) == []
    assert checks.recall_at_k(list(got.values()), want) == 1.0


def test_ann_rejects_a_wrong_neighbour(vectors):
    base, ids, q = vectors
    want = checks.brute_topk(base, ids, q, 10)
    got = {qi: list(map(int, want[qi])) for qi in range(len(q))}
    far = int(checks.brute_topk(base, ids, -q[2:3], 1)[0][0])
    got[2][-1] = far
    assert checks.check_ann_exact(got, base, ids, q, list(range(5)), 10)
    assert checks.recall_at_k(list(got.values()), want) < 1.0


def test_ann_rejects_repeated_or_missing_results(vectors):
    base, ids, q = vectors
    want = checks.brute_topk(base, ids, q, 10)
    got = {qi: list(map(int, want[qi])) for qi in range(len(q))}
    got[0][1] = got[0][0]
    assert checks.check_ann_exact(got, base, ids, q, list(range(5)), 10)
    del got[0]
    assert checks.check_ann_exact(got, base, ids, q, list(range(5)), 10)


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------


@pytest.fixture
def events():
    rng = np.random.default_rng(2)
    n = 500
    return pd.DataFrame({"day": rng.integers(0, 3, n),
                         "kind": rng.choice(["a", "b"], n),
                         "value": rng.exponential(5.0, n)})


def _rollup(ev):
    return (ev.groupby(["day", "kind"])
            .agg(n=("value", "size"), total=("value", "sum"),
                 vmax=("value", "max")).reset_index())


def test_rollup_accepts_batch_recompute(events):
    assert checks.check_rollup(_rollup(events), events) == []


def test_rollup_rejects_double_counted_batch(events):
    bad = _rollup(events)
    bad.loc[0, "n"] += 3
    assert checks.check_rollup(bad, events)


def test_rollup_rejects_missing_group(events):
    assert checks.check_rollup(_rollup(events).iloc[1:], events)
