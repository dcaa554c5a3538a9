"""Fast checks of the benchmark's own pieces (no Spark):

    python3 -m pytest perfbench -q
"""

import hashlib
import json
import os

import numpy as np

import gen
import run
import workloads
from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digests(out_dir: str) -> dict:
    return {
        name: hashlib.sha256(
            open(os.path.join(out_dir, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(out_dir))
    }


def _make(tmp_path, name, seed):
    out = str(tmp_path / name)
    gen.make_inputs(out, seed, n_corpus=2_000, n_queries=20, n_batches=2,
                    batch_size=100)
    return _digests(out)


def test_same_seed_regenerates_identical_bytes(tmp_path):
    a = _make(tmp_path, "a", 7)
    b = _make(tmp_path, "b", 7)
    assert a == b
    assert set(a) == {"corpus.parquet", "queries.parquet", "truth.parquet",
                      "batch_000.parquet", "batch_001.parquet"}


def test_other_seed_gives_other_inputs(tmp_path):
    a = _make(tmp_path, "a", 7)
    c = _make(tmp_path, "c", 8)
    assert all(a[name] != c[name] for name in a)


def test_truth_is_exact_topk_by_cosine():
    mix = gen.Mixture(3, 10)
    corpus, queries = mix.draw(500), mix.draw(5)
    ids = np.arange(500) + 1000
    got = gen.exact_topk(queries, corpus, ids, k=10)
    for q in range(5):
        sc = gen.unit64(corpus) @ gen.unit64(queries[q])
        want = ids[np.lexsort((ids, -sc))[:10]]
        assert got[q].tolist() == want.tolist()


def test_within_cluster_cosine_is_about_point_eight():
    mix = gen.Mixture(5, 1)
    x = gen.unit64(mix.draw(400))
    cos = x @ x.T
    off = cos[~np.eye(len(x), dtype=bool)]
    assert abs(off.mean() - gen.WITHIN_CLUSTER_COS) < 0.02


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("parent"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    parent, c1, c2 = tr.spans
    selfs = tr.self_times_ns()
    dur = parent["end_ns"] - parent["start_ns"]
    kids = sum(c["end_ns"] - c["start_ns"] for c in (c1, c2))
    assert selfs[parent["id"]] == dur - kids
    assert c1["parent"] == parent["id"]


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        run.E2E_METRICS
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        workloads.LAYER_METRICS
    assert all(w["name"] in workloads.WORKLOADS for w in bench["workloads"])


def test_load_inputs_reads_back_what_was_written(tmp_path):
    out = str(tmp_path / "in")
    made = gen.make_inputs(out, 3, n_corpus=500, n_queries=7, n_batches=1,
                           batch_size=50)
    got = gen.load_inputs(out, n_batches=1)
    for key in ("corpus", "queries", "truth"):
        assert np.array_equal(got[key], made[key])
    assert np.array_equal(got["batches"][0], made["batches"][0])


def test_overhead_compares_traced_and_untraced_calls_per_kind():
    # even calls are traced, odd ones untraced
    calls = [("a", 1.1), ("a", 1.0), ("b", 2.4), ("b", 2.0), ("c", 9.0)]
    assert abs(workloads.overhead_pct(calls) - 15.0) < 1e-9
