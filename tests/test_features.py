"""Hashing-trick text featurizer (operators/features.py): exact
pure-Python replay of the md5 bucketing + counts + L2 normalization,
edge-case contracts (blank/NULL text, 1-token docs, collisions), and
the end-to-end train-a-classifier-on-raw-text composition with the
logistic probe."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from hospital_stain_tracker_data_pipeline_spark.operators.features import (
    hashed_text_features,
    score_text_probe,
    train_text_probe,
)


def _py_bucket(gram: str, dim: int) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % dim


def _py_features(text: str, dim: int, bigrams: bool = True):
    norm = re.sub(r"\s+", " ", text.strip().lower())
    toks = norm.split(" ") if norm else []
    if not toks or toks == [""]:
        return None
    grams = list(toks)
    if bigrams:
        if len(toks) >= 2:
            grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        else:
            # the zip NULL-pad degrades a 1-token doc's bigram to the
            # bare token (documented: doubles its count)
            grams += toks
    vec = [0.0] * dim
    for g in grams:
        vec[_py_bucket(g, dim)] += 1.0
    n = math.sqrt(sum(x * x for x in vec))
    return [round(x / n, 6) for x in vec]


def test_features_exact_python_replay(spark, sf_dir):
    """Every fixture doc's vector replays bit-for-bit (md5 bucketing is
    the engine-portable hash; 6-dp rounding removes float-order noise)."""
    dim = 64
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    got = {
        r["doc_id"]: r["features"]
        for r in hashed_text_features(docs, dim=dim).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        want = _py_features(r["text"], dim)
        g = got[r["doc_id"]]
        if want is None:
            assert g is None, r["doc_id"]
            continue
        assert len(g) == dim
        for a, b in zip(g, want):
            assert a == pytest.approx(b, abs=1.5e-6), r["doc_id"]


def test_features_edge_contracts(spark):
    dim = 32
    docs = spark.createDataFrame(
        [
            (1, "single"),            # 1 token: bigram degrades to token
            (2, ""),                  # blank → NULL features
            (3, None),                # NULL → NULL features
            (4, "  spaced   out  "),  # whitespace collapse
            (5, "a b a b"),           # repeated grams accumulate counts
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["features"]
        for r in hashed_text_features(docs, dim=dim).collect()
    }
    assert got[2] is None and got[3] is None
    assert got[1] == _py_features("single", dim)
    assert got[4] == _py_features("spaced out", dim)
    assert got[5] == _py_features("a b a b", dim)
    # unit norm where defined
    for k in (1, 4, 5):
        assert sum(x * x for x in got[k]) == pytest.approx(1.0, abs=1e-4)
    # unnormalized = raw counts
    raw = {
        r["doc_id"]: r["features"]
        for r in hashed_text_features(docs, dim=dim, normalize=False).collect()
    }
    assert sum(raw[5]) == 7.0  # "a b a b": 4 unigrams + 3 bigrams


def test_text_probe_end_to_end(spark):
    """Train a language-ish classifier on raw labeled text and apply
    it: two disjoint vocabularies must separate almost perfectly, and
    blank docs score NULL through the whole composition."""
    from hospital_stain_tracker_data_pipeline_spark.operators.inference import (
        linear_probe_scorer,
    )

    vocab_a = ["der", "die", "das", "und", "nicht", "haus", "wasser"]
    vocab_b = ["the", "and", "not", "house", "water", "with", "from"]
    rows = []
    for i in range(60):
        wa = [vocab_a[(i + j) % len(vocab_a)] for j in range(8)]
        wb = [vocab_b[(i + j) % len(vocab_b)] for j in range(8)]
        rows.append((2 * i, " ".join(wa), 1.0))
        rows.append((2 * i + 1, " ".join(wb), 0.0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label double")

    w, b, history = train_text_probe(docs, dim=64, iters=40, lr=1.0)
    assert history[-1] < history[0]  # loss decreased

    scored = score_text_probe(
        docs.unionByName(
            spark.createDataFrame([(9999, "", 0.0)], docs.schema)
        ),
        linear_probe_scorer(w, b),
        dim=64,
    ).collect()
    by_id = {r["doc_id"]: r["score"] for r in scored}
    assert by_id[9999] is None  # blank doc: no signal, NULL score
    correct = sum(
        1
        for r in scored
        if r["doc_id"] != 9999
        and (r["score"] >= 0.5) == (r["label"] == 1.0)
    )
    assert correct >= 114  # ≥95% of 120


def test_text_probe_artifact_through_file_uri(spark, tmp_path):
    """The probe artifact goes through the Hadoop FileSystem API: a
    ``file://`` URI saves, loads and passes ``index_fsck`` (the CLI's
    --save-probe/--probe-weights take the same paths), and a save
    creates missing parent dirs; a plain path keeps working."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        index_fsck,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.features import (
        load_text_probe,
        save_text_probe,
    )

    for path in (
        f"file://{tmp_path}/nested/probe.json",
        str(tmp_path / "plain.json"),
    ):
        save_text_probe(path, [0.5, -0.25, 0.125], 0.1, 3)
        w, bias, dim = load_text_probe(path)
        assert w.tolist() == [0.5, -0.25, 0.125] and (bias, dim) == (0.1, 3)
        rep = index_fsck(spark, path)
        assert rep["ok"], rep
        assert rep["kind"] == "text_probe" and rep["rows"] == 3
    # a save replaces the previous artifact wholesale
    save_text_probe(path, [1.0], -0.5, 1)
    assert load_text_probe(path)[1:] == (-0.5, 1)
