"""Hypothesis property tests for the DINT codec + cursor laws.

The reference's test strategy is seeded-random sweeps
(test/test_generic_sequence.hpp:7-26 random_sequence; 20-trial loops in
test_block_posting_list.cpp:12-111). These tests replace the fixed seeds
with hypothesis strategies so shrinking finds MINIMAL counterexamples, and
they add the adversarial cases the fixed sweeps can't reach by
construction: dictionaries learned from a DIFFERENT stream than the one
being encoded (every block must fall back to exception escapes), duplicate
freqs runs straddling block boundaries, and single-element / maximal-gap
lists. Pure numpy — no SparkSession — so the whole module runs in seconds.
"""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dint_spark.dint.codec import (
    bic_decode,
    bic_encode,
    decode_list,
    decode_list_bulk,
    encode_list,
)
from dint_spark.dint.dictionary import DintDictionary, MultiDictionary
from oracle import TopK

SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# --------------------------------------------------------------------------
# strategies
# --------------------------------------------------------------------------

@st.composite
def posting_list(draw, max_n=1400):
    """(docs, freqs): strictly increasing docs over a universe whose density
    hypothesis controls — from ultra-dense (gap-0 runs -> run codewords)
    to ultra-sparse (4-byte exception gaps)."""
    n = draw(st.integers(min_value=1, max_value=max_n))
    gap_style = draw(st.sampled_from(["dense", "small", "mixed", "huge"]))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    if gap_style == "dense":
        gaps = rng.integers(0, 2, size=n)
    elif gap_style == "small":
        gaps = rng.integers(0, 40, size=n)
    elif gap_style == "mixed":
        gaps = rng.integers(0, 40, size=n)
        idx = rng.integers(0, n, size=max(1, n // 16))
        gaps[idx] = rng.integers(60000, 80000, size=len(idx))
    else:
        gaps = rng.integers(2**16, 2**22, size=n)
    docs = np.cumsum(gaps.astype(np.int64) + 1) - 1
    fstyle = draw(st.sampled_from(["ones", "small", "wide"]))
    if fstyle == "ones":
        freqs = np.ones(n, dtype=np.int64)
    elif fstyle == "small":
        freqs = rng.integers(1, 5, size=n).astype(np.int64)
    else:
        freqs = rng.integers(1, 2**17, size=n).astype(np.int64)
    return docs, freqs


def _pats(stream: np.ndarray, limit=512) -> list[bytes]:
    pats, seen = [], set()
    for s in (16, 8, 4, 2, 1):
        for i in range(0, len(stream) // s * s, s):
            p = stream[i: i + s].astype("<u4").tobytes()
            if p not in seen:
                seen.add(p)
                pats.append(p)
            if len(pats) >= limit:
                return pats
    return pats


def _dicts_for(draw_kind: str, gaps: np.ndarray, freqs: np.ndarray):
    """matched = dict learned from this list (codeword-rich path);
    foreign = dict learned from an unrelated stream (exception-heavy path);
    empty = no patterns at all (pure escape stream)."""
    if draw_kind == "matched":
        dd = DintDictionary.build(_pats(gaps.astype(np.uint32)))
        fd = DintDictionary.build(_pats((freqs - 1).astype(np.uint32)))
    elif draw_kind == "foreign":
        other = np.arange(997, dtype=np.uint32) * 3 + 1
        dd = DintDictionary.build(_pats(other))
        fd = dd
    else:
        dd = DintDictionary.build([])
        fd = dd
    return dd, fd


# --------------------------------------------------------------------------
# codec round-trip
# --------------------------------------------------------------------------

@settings(**SETTINGS)
@given(pl=posting_list(),
       dict_kind=st.sampled_from(["matched", "foreign", "empty"]),
       optimal=st.booleans())
def test_hyp_encode_decode_roundtrip(pl, dict_kind, optimal):
    docs, freqs = pl
    gaps = np.diff(docs, prepend=-1) - 1
    dd, fd = _dicts_for(dict_kind, gaps, freqs)
    payload, bmax, endp, foff = encode_list(docs, freqs, dd, fd,
                                            optimal=optimal)
    got_d, got_f = decode_list(payload, len(docs), bmax, endp, dd, fd)
    assert np.array_equal(got_d, docs)
    assert np.array_equal(got_f, freqs)
    # block-max metadata invariants the query kernels rely on
    assert bmax[-1] == docs[-1]
    assert np.array_equal(bmax, np.maximum.accumulate(bmax))
    assert (np.diff(endp) > 0).all()
    # cross-block bulk decode agrees byte-for-byte
    bd, bf = decode_list_bulk(payload, len(docs), bmax, endp, foff, dd, fd)
    assert np.array_equal(bd, docs) and np.array_equal(bf, freqs)


@settings(**SETTINGS)
@given(pl=posting_list(max_n=900), optimal=st.booleans())
def test_hyp_multi_dictionary_roundtrip(pl, optimal):
    """multi_packed variant: per-block dictionary choice by selector class
    must round-trip for any list, including blocks whose class has no
    learned patterns at all."""
    docs, freqs = pl
    gaps = np.diff(docs, prepend=-1) - 1
    inner = DintDictionary.build(_pats(gaps.astype(np.uint32), limit=256))
    md = MultiDictionary([inner, DintDictionary.build([])])
    fd = DintDictionary.build(_pats((freqs - 1).astype(np.uint32), limit=256))
    payload, bmax, endp, foff = encode_list(docs, freqs, md, fd,
                                            optimal=optimal)
    got_d, got_f = decode_list(payload, len(docs), bmax, endp, md, fd)
    assert np.array_equal(got_d, docs)
    assert np.array_equal(got_f, freqs)


@settings(**SETTINGS)
@given(pl=posting_list(max_n=600))
def test_hyp_optimal_parse_never_larger(pl):
    """The DP parse is optimal over the same codeword alphabet, so its
    payload can never exceed greedy's (ref: optimal vs greedy block parse,
    dint_configuration.hpp parsing variants)."""
    docs, freqs = pl
    gaps = np.diff(docs, prepend=-1) - 1
    dd = DintDictionary.build(_pats(gaps.astype(np.uint32)))
    fd = DintDictionary.build(_pats((freqs - 1).astype(np.uint32)))
    p_opt, *_ = encode_list(docs, freqs, dd, fd, optimal=True)
    p_greedy, *_ = encode_list(docs, freqs, dd, fd, optimal=False)
    assert len(p_opt) <= len(p_greedy)


@settings(**SETTINGS)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       n=st.integers(min_value=1, max_value=300),
       bounded=st.booleans())
def test_hyp_bic_roundtrip(seed, n, bounded):
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**20, size=n).astype(np.uint32)
    ub = int(vals.sum()) if bounded else -1
    data = bic_encode(vals, ub)
    out, _ = bic_decode(data, 0, n, ub)
    assert np.array_equal(out, vals)


# --------------------------------------------------------------------------
# top-k queue law
# --------------------------------------------------------------------------

@settings(**SETTINGS)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       k=st.integers(min_value=1, max_value=20),
       n=st.integers(min_value=0, max_value=400),
       dup_scores=st.booleans())
def test_hyp_topk_matches_sort_oracle(seed, k, n, dup_scores):
    """TopK under DAAT order (increasing docid) == top-k by
    (score desc, doc_id asc), including heavy score ties."""
    rng = np.random.default_rng(seed)
    if dup_scores:
        scores = rng.integers(0, 5, size=n).astype(np.float32)
    else:
        scores = rng.random(size=n).astype(np.float32)
    tk = TopK(k)
    for doc_id in range(n):
        tk.insert(np.float32(scores[doc_id]), doc_id)
    got = tk.finalize()
    exp = sorted(((float(s), d) for d, s in enumerate(scores)),
                 key=lambda t: (-t[0], t[1]))[:k]
    assert got == [(d, s) for s, d in exp]
