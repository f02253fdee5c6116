"""Benchmark self-tests: input provenance and the metric contract.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import run  # noqa: E402


def _digests(seed):
    corpus = inputs.make_corpus(300, seed)
    queries = (
        inputs.query_stream(corpus, seed, 256, "serve")
        + inputs.shaped_queries(corpus, seed, "gate", inputs.query_shapes())
        + inputs.shaped_queries(corpus, seed, "probe", inputs.INGEST_PROBE_SHAPES)
    )
    return inputs.corpus_digest(corpus), inputs.queries_digest(queries)


def test_same_seed_same_digests():
    assert _digests(7) == _digests(7)


def test_other_seed_other_digests():
    a, b = _digests(7), _digests(8)
    assert a[0] != b[0] and a[1] != b[1]


def test_queries_are_distinct_words_of_the_input():
    corpus = inputs.make_corpus(300, 3)
    content = {w for c in corpus["content"] for w in c.split()}
    paths = {p.split("/")[1] for p in corpus["path"]}
    for q in inputs.query_stream(corpus, 3, 600, "serve"):
        terms = q.split()
        assert 1 <= len(terms) <= 3
        assert len(set(terms)) == len(terms)
        for t in terms:
            assert (
                t in content
                or t in paths
                or t in inputs.STOP_WORDS
                or (t.endswith("s") and t[:-1] in content)
                or t.startswith("zz")
            ), (q, t)


def test_stream_mix_is_the_reference_mix():
    from fuzzy_wiki_spark.corpus import REFERENCE_QUERIES

    assert list(inputs.REFERENCE_SHAPES) == REFERENCE_QUERIES
    for ref, shape in inputs.REFERENCE_SHAPES.items():
        assert len(shape) == len(ref.split())
    assert all(s in inputs.query_shapes() for s in inputs.INGEST_PROBE_SHAPES)
    corpus = inputs.make_corpus(300, 5)
    n = len(REFERENCE_QUERIES)
    stream = inputs.query_stream(corpus, 5, 4 * n, "serve")
    lengths = sorted(len(q.split()) for q in stream)
    assert lengths == sorted(4 * [len(r.split()) for r in REFERENCE_QUERIES])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS


def test_critical_path_packs_buckets_onto_the_scoring_tasks():
    from tracing import critical_path

    assert abs(critical_path([0.3, 0.1, 0.2], 1) - 0.6) < 1e-12
    assert critical_path([0.3, 0.1, 0.2], 4) == 0.3
    assert abs(critical_path([0.3, 0.1, 0.2, 0.2], 2) - 0.4) < 1e-12
    assert critical_path([], 2) == 0.0
