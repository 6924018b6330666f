"""The reference's own bundled query set, end to end (north rule:
"matching the reference's top-k docIDs and BM25 scores (rank-identical)
on the reference query set").

The reference repo bundles test/test_data/queries (500 queries, one per
line, whitespace-separated term ids — the set its own query benchmark
runs, src/queries.cpp:117-130) but NOT the test_collection postings
those ids index into, so the literal C++ top-k is not reproducible in
this sandbox. What IS checkable: every one of the 500 queries, with its
term ids folded deterministically onto our fixture vocabulary
(tid % vocab, documented in read_query_log), must come back from the
DINT-compressed kernels rank-identical AND float32-score-identical to
the independent exhaustive oracle — the same contract the reference's
test_ranked_queries.cpp asserts against its collection (there with 0.1%
score tolerance; ours is exact).
"""

import os

import numpy as np
import pytest

from fixtures import (
    PAST_CEILING,
    build_dicts,
    build_segments,
    gen_collection,
    make_cursors,
    oracle_topk,
)
from dint_spark.queries import KERNELS, block_max_wand_vec, read_query_log

REF_QUERIES = "/root/reference/test/test_data/queries"
VOCAB = 1500


@pytest.fixture(scope="module")
def collection():
    plists, doclens, N, _ = gen_collection(600, seed=42, vocab=VOCAB)
    docs_dict, freqs_dict = build_dicts(plists)
    segs, norm = build_segments(plists, doclens, docs_dict, freqs_dict)
    return plists, doclens, N, docs_dict, freqs_dict, segs, norm


@pytest.mark.skipif(not os.path.exists(REF_QUERIES),
                    reason="reference query set not present")
def test_reference_query_set_rank_identity(collection):
    plists, doclens, N, docs_dict, freqs_dict, segs, norm = collection
    queries = read_query_log(REF_QUERIES, vocab_mod=VOCAB)
    assert len(queries) == 500  # the reference's full bundled set
    lens = sorted(len(q) for q in queries)
    assert lens[0] >= 1 and lens[-1] <= 16  # sanity: bounded query lengths

    for q in queries:
        q = [t for t in q if t in plists]  # folded ids absent from the
        if not q:                          # fixture vocab carry no postings
            continue
        oracle = oracle_topk(q, plists, doclens, N, k=10)
        cs = make_cursors(q, segs, docs_dict, freqs_dict, norm, N)
        got = block_max_wand_vec(cs, norm, N, 10, np.float32)
        assert got == oracle, q
        cs = make_cursors(q, segs, docs_dict, freqs_dict, norm, N)
        got_p = PAST_CEILING(cs, norm, N, 10, np.float32)
        assert got_p == oracle, q
        cs = make_cursors(q, segs, docs_dict, freqs_dict, norm, N)
        got_w = KERNELS["block_max_wand"](cs, norm, N, 10, np.float32)
        assert got_w == oracle, q
        cs = make_cursors(q, segs, docs_dict, freqs_dict, norm, N)
        got_ms = KERNELS["maxscore"](cs, norm, N, 10, np.float32)
        assert [d for d, _ in got_ms] == [d for d, _ in oracle], q
