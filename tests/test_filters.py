"""Filtered retrieval (queries.DocMask / build_doc_filter).

Contract under test:
  - DocMask is a packed-bitmap eligible-doc set with the same kernel
    interface as Tombstones; every ranked/boolean kernel returns exactly
    the filtered oracle's top-k (full-corpus BM25 statistics, candidates
    restricted — the Lucene filter pattern);
  - build_doc_filter assembles the same bitmap distributively from an
    allowlist DataFrame (selectivity-independent collect of bits);
  - doc_filter composes with tombstones (eligible = live AND allowed) on
    the shuffle path, the served path, boolean and positional paths.
"""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from fixtures import (PAST_CEILING, build_dicts, build_segments,
                      gen_collection, gen_queries, make_cursors, oracle_topk)

from dint_spark.queries import (DocMask, KERNELS, Tombstones, boolean_and,
                                boolean_or, build_doc_filter)

# every algo name, plus block_max_wand_vec's path on shards past the
# dense ceiling
KERNELS = {**KERNELS, "bmw_pruned": PAST_CEILING}


# ---------------------------------------------------------------------------
# kernel layer (no Spark)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def small():
    plists, doclens, num_docs, docs_tokens = gen_collection(
        num_docs=400, seed=11)
    docs_dict, freqs_dict = build_dicts(plists)
    segs, norm = build_segments(plists, doclens, docs_dict, freqs_dict)
    queries = gen_queries(docs_tokens, num_queries=40, seed=4)
    return plists, doclens, num_docs, docs_dict, freqs_dict, segs, norm, queries


def _oracle_filtered(query, plists, doclens, num_docs, mask, k=10):
    full = oracle_topk(query, plists, doclens, num_docs, k=num_docs)
    keep = [(d, s) for d, s in full if mask[d]]
    return keep[:k]


def test_docmask_roundtrip_and_pickle():
    rng = np.random.default_rng(0)
    for n in (1, 7, 8, 63, 400, 1000):
        m = rng.random(n) < 0.3
        dm = DocMask.from_mask(m)
        assert dm.num_docs == n
        assert np.array_equal(dm.mask, m)
        dm2 = pickle.loads(pickle.dumps(dm))
        assert np.array_equal(dm2.mask, m)  # mask rebuilt from packed bits
        assert dm.excl_ids() is None
        assert dm2.packed.nbytes == (n + 7) // 8


@pytest.mark.parametrize("algo", ["ranked_or", "ranked_or_vec", "wand",
                                  "block_max_wand", "block_max_wand_vec",
                                  "bmw_pruned", "maxscore"])
def test_kernels_respect_docmask(small, algo):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    rng = np.random.default_rng(6)
    mask = rng.random(num_docs) < 0.6  # 40% excluded: mask path, not ids
    dm = DocMask.from_mask(mask)
    kern = KERNELS[algo]
    for q in queries:
        cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
        got = kern(cursors, norm, num_docs, 10, np.float32, live=dm)
        assert all(mask[d] for d, _ in got)
        want = _oracle_filtered(q, plists, doclens, num_docs, mask)
        assert [(d, s) for d, s in got] == want, (algo, q)


def test_kernels_highly_selective_filter(small):
    """1%-selective allowlist: dense-accumulator kernels must zero via the
    bitmap (excl_ids None), never materialize the excluded-id list."""
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    mask = np.zeros(num_docs, dtype=bool)
    mask[:: 100] = True
    dm = DocMask.from_mask(mask)
    for algo in ("ranked_or_vec", "block_max_wand_vec", "bmw_pruned",
                 "maxscore"):
        for q in queries[:10]:
            cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
            got = KERNELS[algo](cursors, norm, num_docs, 10, np.float32,
                                live=dm)
            want = _oracle_filtered(q, plists, doclens, num_docs, mask)
            assert [(d, s) for d, s in got] == want, (algo, q)


def test_empty_filter_returns_nothing(small):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    dm = DocMask.from_mask(np.zeros(num_docs, dtype=bool))
    for algo in ("ranked_or_vec", "block_max_wand_vec", "bmw_pruned"):
        cursors = make_cursors(queries[0], segs, dd, fd, norm, num_docs)
        assert KERNELS[algo](cursors, norm, num_docs, 10, np.float32,
                             live=dm) == []


def test_boolean_kernels_respect_docmask(small):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    mask = np.arange(num_docs) % 2 == 0
    dm = DocMask.from_mask(mask)
    q = queries[1][:2]
    cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
    got_and = boolean_and(cursors, num_docs, live=dm).tolist()
    cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
    got_or = boolean_or(cursors, num_docs, live=dm).tolist()
    docs_sets = [set(plists[t][0].tolist()) for t in set(q)]
    want_and = sorted(set.intersection(*docs_sets) & set(np.where(mask)[0]))
    want_or = sorted(set.union(*docs_sets) & set(np.where(mask)[0]))
    assert got_and == want_and
    assert got_or == want_or


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------

N_DOCS = 300
LEN_T = 60  # doclens-based metadata predicate: len >= LEN_T


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    from dint_spark.corpus import generate_pages
    from dint_spark.index import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("idx") / "filt")
    pages = generate_pages(spark, N_DOCS, seed=33)
    idx = build_index(spark, pages, out,
                      IndexConfig(num_buckets=2, input_tag="filter-test",
                                  positions=True))
    return idx


def _len_filter(spark, idx):
    import pyspark.sql.functions as F

    dl = spark.read.parquet(f"{idx.dir}/doclens.parquet")
    return build_doc_filter(spark, dl.filter(F.col("len") >= LEN_T),
                            idx.num_docs)


def test_build_doc_filter_matches_local(spark, fidx):
    dm = _len_filter(spark, fidx)
    want = fidx.lens >= LEN_T
    assert np.array_equal(dm.mask, want)
    assert 0 < dm.mask.sum() < fidx.num_docs  # predicate is non-trivial
    # out-of-range allowlist ids fail loudly
    dl = spark.range(fidx.num_docs + 1).withColumnRenamed("id", "doc_id")
    with pytest.raises(Exception):
        build_doc_filter(spark, dl, fidx.num_docs)


def test_run_queries_filtered_matches_served(spark, fidx):
    from dint_spark.queries import BroadcastQueryServer, run_queries

    dm = _len_filter(spark, fidx)
    qs = [[0, 1], [2, 5, 9], [0], [3, 6, 8, 12], [30]]
    shuffle = run_queries(spark, fidx, qs, algo="block_max_wand_vec",
                          k=10, doc_filter=dm).toPandas()
    assert len(shuffle) and all(dm.mask[d] for d in shuffle.doc_id)
    srv = BroadcastQueryServer(spark, fidx)
    served = srv.serve(qs, algo="block_max_wand_vec", k=10,
                       doc_filter=dm).toPandas()
    a = shuffle.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = served.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)
    # unfiltered serve on the same server still sees everything
    unf = srv.serve(qs, algo="block_max_wand_vec", k=100).toPandas()
    assert not dm.mask[unf.doc_id.to_numpy()].all()
    # the combined broadcast is cached per filter object
    assert len(srv._filter_bcs) == 1
    srv.serve(qs, k=10, doc_filter=dm)
    assert len(srv._filter_bcs) == 1


def test_filter_composes_with_tombstones(spark, fidx, tmp_path):
    import shutil

    from dint_spark.index import delete_docs, load_index
    from dint_spark.queries import run_queries

    out = str(tmp_path / "filtdel")
    shutil.copytree(fidx.dir, out)
    idx = load_index(spark, out)
    dead = list(range(0, idx.num_docs, 5))
    delete_docs(spark, idx, dead)
    dm = _len_filter(spark, idx)
    res = run_queries(spark, idx, [[0, 1], [2], [0, 3, 7]],
                      algo="block_max_wand_vec", k=10,
                      doc_filter=dm).toPandas()
    assert len(res)
    assert all(dm.mask[d] and d % 5 != 0 for d in res.doc_id)
    # scores agree with the unfiltered run where the doc passes both sets:
    # filters must not perturb statistics, only candidate eligibility
    unf = run_queries(spark, idx, [[0, 1], [2], [0, 3, 7]],
                      algo="block_max_wand_vec", k=100).toPandas()
    merged = res.merge(unf, on=["query_id", "doc_id"], suffixes=("", "_u"))
    assert len(merged) == len(res)
    assert np.array_equal(merged.score.to_numpy(),
                          merged.score_u.to_numpy())


def test_boolean_and_positional_filtered(spark, fidx):
    from dint_spark.queries import (BroadcastQueryServer,
                                    run_boolean_queries,
                                    run_phrase_queries,
                                    run_proximity_queries)

    dm = _len_filter(spark, fidx)
    for mode in ("and", "or"):
        res = run_boolean_queries(spark, fidx, [[0, 1], [2, 3]], mode=mode,
                                  doc_filter=dm).toPandas()
        assert len(res) and all(dm.mask[d] for d in res.doc_id)
    ph = run_phrase_queries(spark, fidx, [[0, 1], [1, 0], [2]],
                            doc_filter=dm).toPandas()
    assert all(dm.mask[d] for d in ph.doc_id)
    px = run_proximity_queries(spark, fidx, [[0, 1], [2, 0]], window=8,
                               doc_filter=dm).toPandas()
    assert all(dm.mask[d] for d in px.doc_id)
    # served positional paths apply the same filter
    srv = BroadcastQueryServer(spark, fidx, with_positions=True)
    ph2 = srv.serve_phrases([[0, 1], [1, 0], [2]], doc_filter=dm).toPandas()
    a = ph.sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    b = ph2.sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    assert a.equals(b)
