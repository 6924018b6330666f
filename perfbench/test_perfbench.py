"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import measure, tracing
from perfbench import workload as wl


def _vocab(n_terms: int = 500) -> pd.DataFrame:
    rng = np.random.default_rng(0)
    # shuffled rows: the pool must not depend on the row order Spark returns
    tids = rng.permutation(n_terms)
    return pd.DataFrame({"term_id": tids,
                         "df": 1 + (10_000 // (1 + tids)).astype(np.int64)})


# -- same seed, same workload ----------------------------------------------

def test_same_seed_gives_same_workload():
    v = _vocab()
    assert wl.query_pool(v, 7) == wl.query_pool(v.sample(frac=1.0), 7)
    assert wl.query_pool(v, 7) != wl.query_pool(v, 8)
    for workload in ("serve", "search"):
        for call in range(3):
            a = wl.call_batch(workload, 7, call)
            assert np.array_equal(a, wl.call_batch(workload, 7, call))
        assert not np.array_equal(wl.call_batch(workload, 7, 0),
                                  wl.call_batch(workload, 7, 1))


def test_serve_call_sends_whole_pool_and_search_a_batch():
    assert sorted(wl.call_batch("serve", 3, 0)) == list(range(wl.POOL_SIZE))
    b = wl.call_batch("search", 3, 0)
    assert len(b) == wl.SEARCH_BATCH == len(set(b.tolist()))


def test_corpus_is_a_function_of_the_seed():
    from dint_spark.corpus import _gen_docs

    ids = np.arange(5)
    assert _gen_docs(ids, 11).equals(_gen_docs(ids, 11))
    assert not _gen_docs(ids, 11)["text"].equals(_gen_docs(ids, 12)["text"])


# -- the percentile rule -----------------------------------------------------

@pytest.mark.parametrize("n,q", [(1, 0.5), (19, 0.5), (20, 0.5), (40, 0.75),
                                 (100, 0.9), (1000, 0.99)])
def test_tail_quantile_keeps_ten_samples_beyond(n, q):
    assert measure.tail_quantile(n) == pytest.approx(q)


def test_tail_quantile_never_has_fewer_than_ten_beyond():
    for n in range(20, 2000):
        assert n * (1 - measure.tail_quantile(n)) >= measure.TAIL_BEYOND - 1e-9


def test_quantile_matches_numpy_and_summary_uses_the_rule():
    xs = list(np.random.default_rng(1).random(57))
    for q in (0.0, 0.3, 0.5, 0.9, 1.0):
        assert measure.quantile(xs, q) == pytest.approx(np.percentile(xs, q * 100))
    s = measure.timing_summary([x / 1e3 for x in xs])
    assert s["samples"] == 57
    assert s["p50_ms"] == pytest.approx(np.median(xs))
    assert s["tail_ms"] == pytest.approx(
        np.percentile(xs, measure.tail_quantile(57) * 100))


# -- the oracle check --------------------------------------------------------

def _oracle():
    rng = np.random.default_rng(2)
    out = []
    for _ in range(20):
        k = int(rng.integers(0, wl.TOPK + 1))  # some queries match < k docs
        docs = np.sort(rng.choice(1000, k, replace=False)).astype(np.int64)
        scores = np.sort(rng.random(k).astype(np.float32))[::-1]
        out.append((docs, scores.astype(np.float64)))
    return out


def _result(oracle, batch) -> pd.DataFrame:
    exp = wl.expected_rows(oracle, batch)
    # the engine returns rows in no particular order
    return pd.DataFrame(exp).sample(frac=1.0, random_state=3)


def test_oracle_check_accepts_the_exact_result():
    oracle, batch = _oracle(), np.array([4, 0, 17, 9, 4])
    assert wl.check_topk(_result(oracle, batch), oracle, batch)


@pytest.mark.parametrize("perturb", ["doc_id", "score", "drop", "extra",
                                     "query_id", "rank"])
def test_oracle_check_catches_a_perturbed_result(perturb):
    oracle, batch = _oracle(), np.array([4, 0, 17, 9, 5])
    res = _result(oracle, batch).reset_index(drop=True)
    assert len(res) > 1
    if perturb == "doc_id":
        res.loc[0, "doc_id"] += 1
    elif perturb == "score":  # one float32 ulp
        s = np.float32(res.loc[0, "score"])
        res.loc[0, "score"] = float(np.nextafter(s, np.float32(2)))
    elif perturb == "drop":
        res = res.iloc[1:]
    elif perturb == "extra":
        res = pd.concat([res, res.iloc[:1]])
    elif perturb == "query_id":
        res.loc[0, "query_id"] = len(batch) + 1
    else:
        res.loc[0, "rank"] += 100
    assert not wl.check_topk(res, oracle, batch)


def test_readback_check_compares_with_the_tally():
    tally = {"docs": 10, "postings": 100, "tokens": 150}
    assert wl.check_readback(tally, 10, 100, 150)
    assert not wl.check_readback(tally, 10, 99, 150)
    assert not wl.check_readback(tally, 10, 100, 151)
    assert not wl.check_readback(tally, 9, 100, 150)


# -- the layer-sum check -----------------------------------------------------

def test_union_of_job_intervals_counts_overlap_once():
    assert tracing.union_ms([]) == 0
    assert tracing.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert tracing.union_ms([(30, 40), (0, 10), (10, 12)]) == 22


@pytest.mark.parametrize("plan,spark,ok", [(100, 880, True), (50, 850, True),
                                           (100, 700, False),
                                           (300, 850, False)])
def test_layer_sum_check(plan, spark, ok):
    cov = tracing.layer_coverage(1000.0, plan, spark)
    assert cov == pytest.approx((plan + spark) / 1000)
    assert tracing.coverage_ok(cov) is ok


def test_rest_timestamps_are_utc_epoch_ms():
    assert tracing._epoch_ms("1970-01-01T00:00:01.250GMT") == 1250.0
