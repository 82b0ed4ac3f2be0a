"""Fast tests of the benchmark itself (no Spark):

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import pytest  # noqa: E402

import checks  # noqa: E402
import common  # noqa: E402
import inputs  # noqa: E402

# ------------------------------------------------------------ percentiles


def test_no_tail_under_forty_samples():
    assert common.tail(list(range(39))) is None
    s = common.summarize([float(x) for x in range(39)])
    assert s["p50"] == 19.0 and "tail" not in s


@pytest.mark.parametrize(
    "n, pct", [(40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)]
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = [float(x) for x in range(n)]
    p, v = common.tail(values)
    assert p == pct
    beyond = sum(1 for x in values if x > v)
    assert beyond >= common.TAIL_BEYOND
    # the next percentile up would leave fewer than ten samples beyond it
    higher = [q for q in common.TAIL_PERCENTILES if q > pct]
    if higher:
        idx = -(-round(min(higher) * 10) * n // 1000) - 1
        assert n - 1 - idx < common.TAIL_BEYOND


# ------------------------------------------------------------ inputs


def test_queries_repeat_per_seed_and_differ_across_seeds():
    a = inputs.make_queries(7, 200, "serve")
    assert a == inputs.make_queries(7, 200, "serve")
    assert a != inputs.make_queries(8, 200, "serve")
    assert a != inputs.make_queries(7, 200, "post_drop")
    kinds = {k for k, _ in a}
    assert kinds == set(inputs.KIND_SHARES)
    assert inputs.make_spark_queries(7, 8) == inputs.make_spark_queries(7, 8)


def test_every_seed_gives_the_same_query_make_up():
    from collections import Counter

    def make_up(seed):
        return Counter((k, len(q.split())) for k, q in inputs.make_queries(seed, 240, "serve")
                       if k != "zipf")  # zipf terms may repeat within a query

    def zipf_sizes(seed):
        return sum(len(q.split()) for k, q in inputs.make_queries(seed, 240, "serve") if k == "zipf")

    assert make_up(1) == make_up(2) == make_up(3)
    assert zipf_sizes(1) == zipf_sizes(2) == 38 * sum(range(1, 6))  # 190 zipf queries, 38 of each size
    spark = [len(q.split()) for q in inputs.make_spark_queries(4, 8)]
    assert sorted(spark) == [2] * 4 + [3] * 4


def test_corpus_repeats_per_seed_and_differs_across_seeds():
    a = inputs.make_corpus(3, base_convs=20, drop_convs=5, n_drops=2)
    b = inputs.make_corpus(3, base_convs=20, drop_convs=5, n_drops=2)
    c = inputs.make_corpus(4, base_convs=20, drop_convs=5, n_drops=2)
    assert a.all.equals(b.all)
    assert not a.base["text"].equals(c.base["text"])
    assert len(a.drops) == 2
    # drops are new conversations, disjoint from the base
    assert not set(a.drops[0]["conv_id"]) & set(a.base["conv_id"])


# ------------------------------------------------------------ checker


def test_rank_check_rejects_misplaced_doc_and_wrong_score():
    exp = [("a", 3.0), ("b", 2.0), ("c", 1.0)]
    assert checks.rank_check(exp, list(exp)) is None
    assert checks.rank_check(exp, [("a", 3.0), ("c", 1.0), ("b", 2.0)]) is not None
    assert checks.rank_check(exp, [("a", 3.0), ("b", 2.1), ("c", 1.0)]) is not None
    # a 1-ulp near-tie may swap
    tie = [("a", 1.0), ("b", 1.0 - 1e-16)]
    assert checks.rank_check(tie, [("b", 1.0 - 1e-16), ("a", 1.0)]) is None


def test_topk_check_rejects_misplaced_doc_wrong_score_and_missing_doc():
    exp = {"a": 5.0, "b": 4.0, "c": 3.0, "d": 2.0}
    assert checks.topk_check(exp, [("a", 5.0), ("b", 4.0)], 2) is None
    assert checks.topk_check(exp, [("b", 4.0), ("a", 5.0)], 2) is not None
    assert checks.topk_check(exp, [("a", 5.0), ("b", 4.5)], 2) is not None
    assert checks.topk_check(exp, [("a", 5.0), ("c", 3.0)], 2) is not None
    assert checks.topk_check(exp, [("a", 5.0)], 2) is not None


@pytest.fixture(scope="module")
def tiny():
    from holi_search_engine_spark.corpus import make_vocabulary

    corpus = inputs.make_corpus(5, base_convs=30, drop_convs=1, n_drops=0)
    oracle = checks.Oracle(corpus.base, frozenset(make_vocabulary()))
    # a query with more than one distinct score on page 1
    for _kind, q in inputs.make_queries(5, 200, "serve"):
        ranked = oracle.ranked(q)
        if len(ranked) >= 3 and len({s for _, s in ranked[:10]}) >= 3:
            return oracle, q, ranked
    raise AssertionError("no usable query")


def _body(oracle, ranked):
    rows = [
        {"title": oracle.index.titles[d], "url": f"{d[0]}:{d[1]}", "page_head": oracle.index.snippets[d]}
        for d, _ in ranked[:10]
    ]
    return json.dumps({"results": rows, "page": 1, "totalPages": (len(ranked) + 9) // 10})


def test_page_check_rejects_misplaced_doc(tiny):
    oracle, q, ranked = tiny
    assert checks.check_page_json(oracle, q, _body(oracle, ranked)) is None
    # move the best doc to the end of the page
    moved = ranked[1:10] + ranked[:1]
    assert checks.check_page_json(oracle, q, _body(oracle, moved)) is not None


def test_bm25_check_rejects_wrong_score_and_misplaced_doc(tiny):
    import pandas as pd

    oracle, q, _ = tiny
    scores = oracle.bm25_scores(q)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], checks.doc_key(kv[0])))[:10]

    def frame(pairs):
        return pd.DataFrame({
            "conv_id": [d[0] for d, _ in pairs],
            "turn_idx": [d[1] for d, _ in pairs],
            "score": [s for _, s in pairs],
        })

    assert checks.check_bm25(oracle, q, frame(top)) is None
    wrong = [(top[0][0], top[0][1] * 1.001)] + top[1:]
    assert checks.check_bm25(oracle, q, frame(wrong)) is not None
    assert checks.check_bm25(oracle, q, frame(top[1:] + top[:1])) is not None


def test_varbyte_decoder_reads_leb128():
    assert checks.varbyte(bytes([0x05, 0x80, 0x01, 0xFF, 0x7F])) == [5, 128, 16383]


# ------------------------------------------------------------ metric names


def test_layers_a_workload_skips_are_named_per_layer_metrics():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(workloads.NOT_RUN) == set(workloads.WORKLOADS)
    for skipped in workloads.NOT_RUN.values():
        assert skipped <= per_layer


# ------------------------------------------------------------ tracer


def test_self_time_subtracts_the_union_of_children():
    tr = common.Tracer(True)
    tr.spans = [
        {"name": "p", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "c", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "c", "start": 2.0, "end": 5.0, "parent": 0},  # overlaps
    ]
    st = tr.self_times()
    assert st["p"] == pytest.approx(6.0)
    assert st["c"] == pytest.approx(6.0)


def test_disabled_tracer_records_nothing():
    tr = common.Tracer(False)
    with tr.span("x"):
        tr.count("n")
    assert tr.spans == [] and tr.counts == {}
