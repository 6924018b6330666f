"""Retrieval kernels vs the independent exhaustive float32 oracle
(FIXTURES.md F3/F4; reference contract: test/test_ranked_queries.cpp —
we require exact float32 equality for every ``algo`` name, where the
reference allows 0.1%) and vs the scalar DAAT walk of tests/oracle.py."""

import numpy as np
import pytest

from dint_spark import queries as Q
from dint_spark.dint.codec import BLOCK_SIZE, decode_posting_blocks
from fixtures import (
    PAST_CEILING,
    build_dicts,
    build_segments,
    gen_collection,
    gen_queries,
    make_cursors,
    oracle_topk,
)
from dint_spark.queries import (
    block_max_wand_vec,
    boolean_and,
    boolean_or,
    ranked_and,
    ranked_or_vec,
)
from oracle import ranked_or

# every algo name, plus block_max_wand_vec past the dense ceiling
KERNELS = {**Q.KERNELS, "bmw_pruned": PAST_CEILING}
_IDS = {"block_max_wand": "bmw", "block_max_wand_vec": "bmw_vec"}


@pytest.fixture(scope="module")
def collection():
    plists, doclens, N, docs_tokens = gen_collection(600, seed=42, vocab=1500)
    queries = gen_queries(docs_tokens, 80)
    docs_dict, freqs_dict = build_dicts(plists)
    segs, norm = build_segments(plists, doclens, docs_dict, freqs_dict)
    return plists, doclens, N, queries, docs_dict, freqs_dict, segs, norm


def _and_docs(plists, q) -> set:
    """Docs holding every term of ``q`` (the empty set when one term has
    no postings)."""
    sets = [set(plists[int(t)][0].tolist()) if int(t) in plists else set()
            for t in set(q)]
    return set.intersection(*sets) if sets else set()


def _and_rows(ranked, plists, q, k) -> list:
    """ranked_and's expected top-``k``: a full OR ranking restricted to
    the docs holding every query term (their OR and AND scores agree)."""
    inter = _and_docs(plists, q)
    return [(d, s) for d, s in ranked if d in inter][:k]


@pytest.mark.parametrize("algo", [*Q.KERNELS, "bmw_pruned"],
                         ids=lambda a: _IDS.get(a, a))
def test_exact_float32_rank_identity(collection, algo):
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    kern = KERNELS[algo]
    for q in queries:
        if algo == "ranked_and":
            want = _and_rows(oracle_topk(q, plists, doclens, N, k=N),
                             plists, q, 10)
        else:
            want = oracle_topk(q, plists, doclens, N, k=10)
        cs = make_cursors(q, segs, dd, fd, norm, N)
        assert kern(cs, norm, N, 10, np.float32) == want


def _variant(collection, variant):
    """(seg_map, [norm], DT, live, df_overrides, idf_docs) of one input
    variant: the fixture lists as _seg_map parts, under float64,
    tombstones combined with a DocMask (as _live_bc combines them), two
    avg_len norms plus an equal copy of the first (one worker's weight
    entries must not alias), lists re-encoded as several parts, or
    global df/N overrides."""
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    chunk = 100 if variant == "chunked" else None
    seg_map = {}
    for t, (docs, freqs) in plists.items():
        cuts = (range(0, len(docs), chunk) if chunk else [0])
        for i, a in enumerate(cuts):
            b = a + chunk if chunk else len(docs)
            s = (build_segments({t: (docs[a:b], freqs[a:b])}, doclens, dd,
                                fd)[0][t] if chunk else segs[t])
            seg_map.setdefault(t, []).append((
                i, s["n"], np.asarray(s["block_maxs"], dtype=np.int64),
                s["block_max_scores"],
                np.asarray(s["endpoints"], dtype=np.int64),
                np.asarray(s["freq_offsets"], dtype=np.int64),
                bytes(s["payload"])))
    DT, live, dfo, idf = np.float32, None, None, None
    norms = [norm]
    if variant == "float64":
        DT, norms = np.float64, [norm.astype(np.float64)]
    elif variant == "tombstones_docmask":
        rng = np.random.default_rng(11)
        tomb = Q.Tombstones(rng.choice(N, N // 10, replace=False), N)
        mask = rng.random(N) < 0.7
        mask[tomb.ids] = False
        live = Q.DocMask.from_mask(mask)
    elif variant == "two_norms":
        avg = np.sum(doclens, dtype=np.float64) / len(doclens)
        grown = doclens.astype(np.float32) / np.float32(1.25 * avg)
        norms = [norm, grown, norm.copy()]
    elif variant == "df_overrides":
        dfo = {t: 3 * len(d) for t, (d, _) in plists.items()}
        idf = 3 * N
    return seg_map, norms, DT, live, dfo, idf


# dense ceiling: the default (block_max_wand_vec scores densely under a
# block-max floor) and 0 (it and ranked_or_vec take the compacted path).
# The input variants run through the one cursor builder, and every algo
# name must equal the scalar walk (ranked_and: its AND-restricted
# ranking) on them.
@pytest.mark.parametrize("ceiling,variant", [
    pytest.param(c, v, id=str(c) if v is None else f"{c}-{v}")
    for v in (None, "float64", "tombstones_docmask", "two_norms",
              "chunked", "df_overrides")
    for c in (None, 0)])
def test_bmw_vec_paths_agree(collection, monkeypatch, ceiling, variant):
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    if ceiling is not None:
        monkeypatch.setattr(Q, "_DENSE_SCORE_MAX_DOCS", ceiling)
    if variant is None:
        for k in (1, 10, 10**4):
            for q in queries:
                cs = lambda: make_cursors(q, segs, dd, fd, norm, N)  # noqa
                top = block_max_wand_vec(cs(), norm, N, k)
                assert top == ranked_or(cs(), norm, N, k)
                assert top == ranked_or_vec(cs(), norm, N, k)
        return
    seg_map, norms, DT, live, dfo, idf = _variant(collection, variant)
    for k in (1, 10):
        for q in queries[:40]:
            tids, qfs = Q._fold_queries([q])[0]
            for nl in norms:
                def cs():
                    return Q._cursors(seg_map, tids, qfs, N, dd, fd, DT,
                                      df_overrides=dfo, idf_docs=idf)
                full = ranked_or(cs(), nl, N, N, DT, live=live)
                for algo, kern in Q.KERNELS.items():
                    want = (_and_rows(full, plists, q, k)
                            if algo == "ranked_and" else full[:k])
                    assert kern(cs(), nl, N, k, DT, live=live) == want, algo


def test_dense_floor_ties():
    """A floor equal to a score many docs tie at keeps all of them, so the
    doc-asc tie order at the k-th score is the unfloored one, wherever
    the floor docs sit; floor docs that cannot certify (fewer than k, or
    a zero k-th score) fall back to the full selection."""
    docs = np.arange(0, 200, 2, dtype=np.int64)
    norm = np.ones(200, dtype=np.float32)
    lists = [(np.float32(qw), d, Q._tf_weights(f, norm[d], np.float32))
             for qw, d, f in [
                 (1.0, docs, np.ones(len(docs), dtype=np.int64)),
                 (2.0, np.array([7, 150], dtype=np.int64),
                  np.array([3, 1], dtype=np.int64))]]
    want = Q._dense_topk(lists, 200, 10, np.float32)
    assert [d for d, _ in want] == [7, 150] + list(range(0, 16, 2))
    for floor_docs in (docs[:10], docs[-10:], docs[40:60], np.arange(200),
                       docs[:9], np.array([1, 3, 5, 9, 11, 13, 15, 17, 19,
                                           21])):
        assert Q._dense_topk(lists, 200, 10, np.float32,
                             floor_sets=(floor_docs,)) == want
    # several sets certify their highest floor; an uncertifying set
    # beside them changes nothing
    assert Q._dense_topk(lists, 200, 10, np.float32,
                         floor_sets=(docs[-10:], docs[:9], docs[40:60],
                                     None)) == want


def test_maxscore_rank_identity(collection):
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    for q in queries:
        oracle = oracle_topk(q, plists, doclens, N, k=10)
        cs = make_cursors(q, segs, dd, fd, norm, N)
        got = Q.KERNELS["maxscore"](cs, norm, N, 10)
        assert [d for d, _ in got] == [d for d, _ in oracle]
        assert np.allclose([s for _, s in got], [s for _, s in oracle],
                           rtol=1e-4)


def test_ranked_and_exact(collection):
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    for q in queries[:40]:
        terms = sorted(set(int(t) for t in q if int(t) in plists))
        if not terms:
            continue
        inter = set.intersection(*[set(plists[t][0].tolist()) for t in terms])
        oracle = [(d, s) for d, s in oracle_topk(q, plists, doclens, N, k=10**9)
                  if d in inter][:10]
        cs = make_cursors(q, segs, dd, fd, norm, N)
        assert ranked_and(cs, norm, N, 10) == oracle


def test_boolean_set_semantics(collection):
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    for q in queries[:40]:
        terms = sorted(set(int(t) for t in q if int(t) in plists))
        if not terms:
            continue
        sets = [set(plists[t][0].tolist()) for t in terms]
        cs = make_cursors(q, segs, dd, fd, norm, N)
        assert boolean_and(cs, N).tolist() == sorted(set.intersection(*sets))
        cs = make_cursors(q, segs, dd, fd, norm, N)
        assert boolean_or(cs, N).tolist() == sorted(set.union(*sets))


def _block(c, b: int):
    """(docs, freqs) of block ``b`` of cursor ``c`` alone, decoded through
    its block_table: the engine's skip primitive (boolean_and_not)."""
    return decode_posting_blocks(*c.block_table([b]), c.docs_dict,
                                 c.freqs_dict)


def test_enumerator_laws(collection):
    """next/next_geq-equivalents vs the plain arrays (port of
    test_generic_sequence.hpp:28-163 semantics): the blocks decoded one
    by one visit exactly the list, and for every lower bound the one
    block searchsorted(block_maxs, lb) names holds the true successor."""
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    rng = np.random.default_rng(11)
    terms = rng.choice(list(plists), size=30, replace=False)
    for t in terms:
        docs, freqs = plists[int(t)]
        c = make_cursors([int(t)], segs, dd, fd, norm, N)[0]
        # full scan: the blocks in turn visit exactly the list
        got = [_block(c, b) for b in range(len(c.block_maxs))]
        assert np.concatenate([d for d, _ in got]).tolist() == docs.tolist()
        assert np.concatenate([f for _, f in got]).tolist() == freqs.tolist()

        # next_geq sweeps: every lower bound lands on the true successor
        for lb in sorted(rng.integers(0, N + 1, size=50).tolist()):
            b = int(np.searchsorted(c.block_maxs, lb, side="left"))
            j = np.searchsorted(docs, lb, side="left")
            if j == len(docs):
                assert b == len(c.block_maxs)
            else:
                bd, bf = _block(c, b)
                i = int(np.searchsorted(bd, lb, side="left"))
                assert bd[i] == docs[j]
                assert bf[i] == freqs[j]


def test_cursor_move(collection):
    """Q3 move(pos) random access (ref dict_posting_list.hpp:149-158):
    block pos // BLOCK_SIZE, decoded alone, holds posting ``pos``."""
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    rng = np.random.default_rng(13)
    for t in rng.choice(list(plists), size=10, replace=False):
        docs, freqs = plists[int(t)]
        c = make_cursors([int(t)], segs, dd, fd, norm, N)[0]
        for pos in rng.integers(0, len(docs) + 2, size=20).tolist():
            b = pos // BLOCK_SIZE
            if pos >= len(docs):
                # past the end: no block holds position pos
                assert (b >= len(c.block_maxs)
                        or pos - b * BLOCK_SIZE >= len(_block(c, b)[0]))
            else:
                bd, bf = _block(c, b)
                assert bd[pos - b * BLOCK_SIZE] == docs[pos]
                assert bf[pos - b * BLOCK_SIZE] == freqs[pos]


def test_decode_cache_no_freq_aliasing(collection):
    """Regression (ADVICE r2): two lists with identical docids but different
    freqs must not share a worker-LRU entry — the old prefix-based key
    aliased them and served stale frequencies."""
    plists, doclens, N, queries, dd, fd, segs, norm = collection
    t = int(next(iter(plists)))
    docs, freqs = plists[t]
    c1 = make_cursors([t], segs, dd, fd, norm, N)[0]
    d1, f1 = c1.decode_all()
    assert np.array_equal(d1, docs) and np.array_equal(f1, freqs)
    # same docids, different freqs -> different payload bytes after the docs
    # stream; the old key (term_id, n, last docid, payload[:24]) collided
    # whenever the docs stream filled the 24-byte prefix
    freqs2 = freqs.copy()
    freqs2[-1] += 1
    seg2 = build_segments({t: (docs, freqs2)}, doclens, dd, fd)[0]
    c2 = make_cursors([t], seg2, dd, fd, norm, N)[0]
    d2, f2 = c2.decode_all()
    assert np.array_equal(d2, docs)
    assert np.array_equal(f2, freqs2), "stale freqs served from the LRU"
