"""Self-tests of the benchmark: input determinism, metric names against
BENCHMARK.json, and a tiny-input run of every workload.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic(tmp_path, name):
    w = workloads.WORKLOADS[name]
    params = w.sizes["tiny"]
    w.generate(str(tmp_path / "a"), 7, params)
    w.generate(str(tmp_path / "b"), 7, params)
    w.generate(str(tmp_path / "c"), 8, params)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_planted_near_dups_share_most_tokens():
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(3))
    vocab = gen.make_vocab(rng, 500)
    toks = list(vocab[:100])
    copy = gen.near_dup(rng, toks, vocab, 0.05)
    assert len(copy) == len(toks)
    assert 90 <= sum(a == b for a, b in zip(toks, copy)) < 100


@pytest.mark.parametrize("seed", [7, 8])
def test_planted_near_dups_are_pairs_of_originals(tmp_path, seed):
    import pandas as pd

    p = workloads.WORKLOADS["dedup"].sizes["tiny"]
    gen.gen_documents(str(tmp_path), seed, p)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    sampled = [t.split() for t in docs[docs["doc_id"] % p["sample_mod"] == 0]["text"]]
    # a copy keeps its source's length and all but edit_rate of its tokens in place
    linked = [
        (i, j)
        for i in range(len(sampled))
        for j in range(i + 1, len(sampled))
        if len(sampled[i]) == len(sampled[j])
        and sum(a == b for a, b in zip(sampled[i], sampled[j])) >= 0.8 * len(sampled[i])
    ]
    members = [i for pair in linked for i in pair]
    assert len(linked) == round(p["dup_share"] * len(sampled))
    assert len(members) == len(set(members))  # disjoint pairs
    assert set(gen.text_vocab(p["vocab"])) >= {w for toks in sampled for w in toks}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    listed = {w["name"] for w in spec["workloads"]}
    assert listed <= set(workloads.WORKLOADS)


def test_dedup_reference_refuses_changed_oracle_sql(monkeypatch, tmp_path):
    from similarity_analysis_big_data_spark.plans import registry

    monkeypatch.setattr(registry, "oracle_sql_map", lambda: {"near_dup_survivors": "SELECT 1"})
    with pytest.raises(ValueError, match="oracle SQL changed"):
        workloads._dedup_reference(str(tmp_path))


def _run(name: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", name, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_run_passes_its_output_check(name):
    res = _run(name, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_dedup_matches_and_bypasses_similarity():
    res = _run("dedup", 1)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    heavy = m["functions.minhash_s"] + m["operators.dedup.lsh_s"] + m["operators.dedup.verify_s"] + m["operators.components_s"]
    assert m["operators.similarity.join_s"] < 0.01 and m["functions.tfidf_s"] < 0.01
    assert heavy > 0.5 * (m["trace.job_s"] - m["sources.read_s"] - m["functions.tokenize_s"])
    assert m["operators.dedup.candidates"] > 0


def test_traced_search_times_dense_topk_and_python_workers():
    res = _run("search", 1)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["operators.similarity.topk_s"] > 0.1 and m["plans.python_s"] > 0
    assert m["operators.similarity.join_s"] < 0.01 and m["functions.tokenize_s"] < 0.01
    assert m["operators.similarity.scored_pairs"] > 0


def test_traced_dedup_search_rebuilds_both_jobs():
    res = _run("dedup_search", 1)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["operators.dedup.candidates"] > 0 and m["operators.components_s"] > 0.1
    assert m["operators.similarity.topk_s"] > 0.1 and m["plans.python_s"] > 0 and m["plans.call_s"] > 0.1
    assert m["operators.similarity.join_s"] < 0.01 and m["functions.tfidf_s"] < 0.01
