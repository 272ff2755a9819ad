"""The same seed gives byte-identical inputs; another seed does not."""

import os

import pytest

import gen


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.inputs(str(tmp_path / "a"), workload, 5)
    b = gen.inputs(str(tmp_path / "b"), workload, 5)
    fa, fb = _files(a), _files(b)
    assert fa and fa.keys() == fb.keys()
    assert all(fa[k] == fb[k] for k in fa)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_other_bytes(tmp_path, workload):
    a = _files(gen.inputs(str(tmp_path / "a"), workload, 5))
    b = _files(gen.inputs(str(tmp_path / "b"), workload, 6))
    assert any(a[k] != b[k] for k in a if k != "_DONE")


def test_inputs_are_cached(tmp_path):
    d = gen.inputs(str(tmp_path), "stream_ingest", 1)
    mark = os.path.join(d, "_DONE")
    before = os.stat(mark).st_mtime_ns
    assert gen.inputs(str(tmp_path), "stream_ingest", 1) == d
    assert os.stat(mark).st_mtime_ns == before


def test_corpus_truth_is_consistent(tmp_path):
    import json

    d = gen.inputs(str(tmp_path), "llm_curation", 3)
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    members = [i for c in truth["clusters"] for i in c]
    assert len(members) == len(set(members)), "clusters overlap"
    assert not set(members) & set(truth["contaminated"])
    assert max(members) < truth["n_docs"]
