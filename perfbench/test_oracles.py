"""Pure-Python checks of the benchmark's own pieces.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import oracles  # noqa: E402

# HashingTF(numFeatures=64).indexOf(term), read from Spark 4.1
SPARK_BUCKETS = {
    "spark": 54, "window": 19, "merge": 0, "": 28, "a": 35, "the": 17,
    "zzqx": 28, "ñandú": 28, "batch": 5, "ab": 7, "abc": 40, "abcd": 12,
    "abcde": 48,
}


def test_murmur3_buckets_match_spark_hashingtf():
    got = {t: oracles.murmur3_32(t.encode("utf-8")) % 64 for t in SPARK_BUCKETS}
    assert got == SPARK_BUCKETS


def test_chunk_windows():
    assert oracles.chunk("x" * 577) == [(0, "x" * 577)]
    assert [n for n, _ in oracles.chunk("x" * 1000)] == [0]
    two = oracles.chunk("".join(chr(97 + i % 26) for i in range(1001)))
    assert [(n, len(p)) for n, p in two] == [(0, 1000), (1, 201)]
    assert oracles.chunk("") == [(0, "")]


def test_tokenizer_keeps_leading_and_drops_trailing_empties():
    tf = oracles.term_frequencies(" Spark spark\n")
    assert tf[SPARK_BUCKETS["spark"]] == 2
    assert tf[SPARK_BUCKETS[""]] == 1  # the leading empty token
    assert tf.sum() == 3


def test_greedy_mmr_matches_package_mmr_select():
    import numpy as np

    from vectordb_agentic_rag_spark.operators.ml import mmr_select

    rnd = random.Random(7)
    for _ in range(50):
        n = rnd.randint(1, 20)
        ids = rnd.sample(range(1000), n)
        embs = np.array([[float(rnd.randint(0, 3)) for _ in range(8)] for _ in ids])
        sims = [round(rnd.choice([0.5, 0.25, rnd.random()]), 6) for _ in ids]
        picked = oracles.greedy_mmr(ids, embs, sims)
        want = mmr_select(list(zip(ids, embs.tolist(), sims)), oracles.K, oracles.LAMBDA)
        assert [ids[j] for j in picked] == [vid for vid, _ in want]


def test_generators_are_seeded():
    a, b = gen.documents(3), gen.documents(3)
    assert a.equals(b)
    assert not a.equals(gen.documents(4))
    q1 = gen.queries(a, 3, 20, start_id=40)
    assert q1 == gen.queries(a, 3, 20, start_id=40)
    assert [q for q, _, _ in q1] == list(range(40, 60))


def test_per_layer_metrics_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert declared == [(name, unit) for name, unit, _ in layers.CATALOG]
