"""Generator determinism: a seed fixes the inputs byte for byte."""

import json
import os

import pytest

import gen

PARAMS = json.load(open(os.path.join(os.path.dirname(__file__), "..", "workloads.json")))
SMALL = {
    "curate": dict(PARAMS["curate"], docs=120),
    "feed": dict(PARAMS["feed"], examples=300),
}


def corpus_bytes(seed, tmp_path, name):
    return open(gen.write(gen.corpus(seed, SMALL["curate"]), str(tmp_path / name)), "rb").read()


def examples_bytes(seed, tmp_path, name):
    return open(gen.write(gen.examples(seed, SMALL["feed"]), str(tmp_path / name)), "rb").read()


@pytest.mark.parametrize("make", [corpus_bytes, examples_bytes])
def test_same_seed_same_bytes(make, tmp_path):
    assert make(7, tmp_path, "a.parquet") == make(7, tmp_path, "b.parquet")


@pytest.mark.parametrize("make", [corpus_bytes, examples_bytes])
def test_other_seed_other_bytes(make, tmp_path):
    assert make(7, tmp_path, "a.parquet") != make(8, tmp_path, "b.parquet")


def test_arrivals_same_seed_same_bytes(tmp_path):
    ref = gen.corpus(3, PARAMS["screen"]["reference"])
    a, b, c = (gen.arrivals(s, ref, PARAMS["screen"], 200) for s in (3, 3, 4))
    assert a.equals(b)
    assert not a.equals(c)


def test_planted_copies_point_at_their_source():
    t = gen.corpus(5, SMALL["curate"]).to_pydict()
    kinds = set(t["kind"])
    assert {"clean", "exact", "near"} <= kinds
    for i, kind, src in zip(t["doc_id"], t["kind"], t["src_id"]):
        if kind == "exact":
            assert t["text"][src] == t["text"][i] and src < i
        elif kind == "near":
            assert t["text"][src] != t["text"][i] and src < i
        else:
            assert src == -1


def test_copy_share_of_arrivals():
    p = PARAMS["screen"]
    ref = gen.corpus(3, p["reference"])
    arr = gen.arrivals(3, ref, p, 1000).to_pydict()
    share = sum(s >= 0 for s in arr["src_id"]) / 1000
    assert abs(share - p["copy_share"]) < 0.05
    assert arr["doc_id"][0] == gen.ARRIVAL_ID0
