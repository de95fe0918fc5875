"""Self-tests for the benchmark: generator determinism, the oracle on a
hand-computed corpus, and the metric names and units it prints.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import workloads  # noqa: E402
from oracle import Bm25Oracle  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ---------------------------------------------------------------


def _generate(seed: int, path: str):
    c = gen.gen_docs(np.random.default_rng([seed, 0]), 300)
    gen.write_documents(c, path)
    qs = gen.gen_queries(np.random.default_rng([seed, 1]), gen.doc_freqs(c), 100)
    with open(path, "rb") as f:
        return f.read(), qs


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _generate(7, str(tmp_path / "a.parquet"))
    b = _generate(7, str(tmp_path / "b.parquet"))
    assert a[0] == b[0]
    assert a[1] == b[1]


def test_other_seed_gives_other_inputs(tmp_path):
    a = _generate(7, str(tmp_path / "a.parquet"))
    b = _generate(8, str(tmp_path / "b.parquet"))
    assert a[0] != b[0]
    assert a[1] != b[1]


def test_corpus_and_query_log_shapes():
    c = gen.gen_docs(np.random.default_rng([3, 0]), 2000)
    lens = np.diff(c.offsets)
    assert (lens == 1).any()  # single-token edge docs
    assert 80 < lens.mean() < 300
    df = gen.doc_freqs(c)
    top = np.argsort(-df)[:5]
    assert set(top) <= set(range(gen.HEAD_RANKS))  # Zipf head
    qs = gen.gen_queries(np.random.default_rng([3, 1]), df, 400)
    assert all(1 <= len(set(q["terms"])) <= 5 for q in qs)
    assert any(len(set(q["terms"])) < len(q["terms"]) for q in qs)
    assert 0.3 < np.mean([q["conjunctive"] for q in qs]) < 0.7
    assert {q["k"] for q in qs} == {10, 100}
    props = gen.query_log_properties(
        qs, lambda t: int(df[gen.VOCAB_INDEX[t]]) if t in gen.VOCAB_INDEX else 0
    )
    assert props["term_seen_share"] > 0.5  # every other draw repeats
    cycle = gen.class_cycle(gen.TERM_CLASS_P, gen.CLASS_PERIOD)
    assert {c: cycle.count(c) for c in cycle} == {
        c: round(p * gen.CLASS_PERIOD) for c, p in gen.TERM_CLASS_P.items()
    }
    assert props["tail_term_share"] > 0.05
    assert props["absent_term_share"] > 0.05


def test_words_are_single_tokens():
    import re

    for i in (0, 25, 26, 701, 49_999):
        assert re.fullmatch("[a-z]+", gen.word(i))
    assert len(set(gen.VOCAB)) == gen.VOCAB_SIZE
    assert gen.absent_word(5) not in gen.VOCAB_INDEX


def test_replace_docs_keeps_ids_and_other_docs():
    c = gen.gen_docs(np.random.default_rng(1), 10)
    new = gen.gen_docs(np.random.default_rng(2), 2)
    out = gen.replace_docs(c, np.array([7, 2]), new)
    assert out.n_docs == 10
    assert list(out.doc_tokens(7)) == list(new.doc_tokens(0))
    assert list(out.doc_tokens(2)) == list(new.doc_tokens(1))
    for i in (0, 1, 3, 9):
        assert list(out.doc_tokens(i)) == list(c.doc_tokens(i))


# -- oracle ------------------------------------------------------------------

# N=5, avgdl=9/5. df(a)=4 gives a negative idf; d0 and d2 are identical,
# so every query matching them ties.
DOCS = [["a", "b"], ["a", "c"], ["a", "b"], ["a", "d"], ["e"]]
K1, B = 0.9, 0.4


def _hand(tf, dl, df, n=5, avgdl=9 / 5):
    idf = math.log((n - df + 0.5) / (df + 0.5))
    return idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))


@pytest.fixture
def oracle():
    return Bm25Oracle.from_token_lists(DOCS)


def test_oracle_scores_match_hand_computation(oracle):
    sb = _hand(1, 2, 2)
    sa = _hand(1, 2, 4)
    assert sa < 0 < sb
    got = oracle.topk(["b"], False, 10)
    assert [d for d, _ in got] == [0, 2]  # tie: doc_id ASC
    assert got[0][1] == pytest.approx(sb, abs=1e-12)
    got = oracle.topk(["a", "b"], False, 10)
    assert [d for d, _ in got] == [0, 2, 1, 3]
    assert [s for _, s in got] == pytest.approx([sa + sb, sa + sb, sa, sa], abs=1e-12)
    got = oracle.topk(["a"], False, 2)  # negative scores still rank
    assert got == [(0, pytest.approx(sa)), (1, pytest.approx(sa))]


def test_oracle_and_absent_and_duplicate_terms(oracle):
    assert [d for d, _ in oracle.topk(["a", "b"], True, 10)] == [0, 2]
    assert oracle.topk(["a", "zz1q"], True, 10) == []
    assert [d for d, _ in oracle.topk(["a", "zz1q"], False, 10)] == [0, 1, 2, 3]
    assert oracle.topk(["b", "b"], False, 10) == oracle.topk(["b"], False, 10)


def test_oracle_deletes_keep_stale_statistics(oracle):
    got = oracle.topk(["b"], False, 10, deleted=np.array([0]))
    assert got == [(2, pytest.approx(_hand(1, 2, 2)))]  # df(b) still 2, N still 5


def test_check_accepts_ties_in_any_order(oracle):
    sb = _hand(1, 2, 2)
    assert oracle.check(["b"], False, 10, [(1, 0, sb), (2, 2, sb)]) is None
    assert oracle.check(["b"], False, 10, [(1, 2, sb), (2, 0, sb)]) is None
    # k=1 over a tie: either tied doc is a correct top-1
    assert oracle.check(["b"], False, 1, [(1, 2, sb)]) is None


def test_check_rejects_wrong_answers(oracle):
    sa, sb = _hand(1, 2, 4), _hand(1, 2, 2)
    full = [(1, 0, sa + sb), (2, 2, sa + sb), (3, 1, sa), (4, 3, sa)]
    assert oracle.check(["a", "b"], False, 10, full) is None
    assert oracle.check(["a", "b"], False, 10, full[:3]) is not None  # row missing
    assert oracle.check(["a", "b"], False, 3, full[:2] + [(3, 4, sa)]) is not None
    bad = [(1, 0, sa + sb + 1e-3)] + full[1:]
    assert oracle.check(["a", "b"], False, 10, bad) is not None  # score off
    swapped = [(1, 1, sa), (2, 0, sa + sb), (3, 2, sa + sb), (4, 3, sa)]
    assert oracle.check(["a", "b"], False, 10, swapped) is not None  # order
    assert oracle.check(["b"], False, 10, [(1, 0, sb), (2, 2, sb)], np.array([2])) is not None


# -- metric names and units ----------------------------------------------------


def test_end_to_end_metrics_match_benchmark_json():
    b = SimpleNamespace(
        build_docs_per_s=10.0, index_bytes=120, index_text_bytes=100,
        lat_ms=[1.0, 2.0, 3.0], batch_qps=[5.0], refresh_s=[2.0],
        failed=0, attempted=4,
    )
    got = workloads.end_to_end(b, 1.5, 2**30)
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {n: u for n, (_, u) in got.items()} == spec
    assert all(v > 0 for v, _ in got.values())
    printed = {
        ln.split()[0]: ln.split()[3] for ln in workloads.metric_lines(b, got)
    }
    assert printed == spec


def test_per_layer_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert workloads.PER_LAYER_UNITS == spec
    probe = {n: [1.0, 3.0] for n in spec}
    b = SimpleNamespace(
        probe=probe, timed_overhead_s=0.1, timed_s=10.0,
        lat_ms=[], batch_qps=[], refresh_s=[],
        tr=SimpleNamespace(
            failed_tasks=0,
            by_name=lambda name: [{"jobs": 30}],
        ),
    )
    got = workloads.per_layer(b)
    assert {n: u for n, (_, u) in got.items()} == spec
    printed = {
        ln.split()[0]: ln.split()[3] for ln in workloads.metric_lines(b, got)
    }
    assert printed == spec


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.RUNNERS)
