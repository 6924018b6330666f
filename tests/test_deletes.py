"""Document deletion (tombstones) + compaction.

Contract under test (index.delete_docs / compact.compact_index):
  - every retrieval path excludes tombstoned docs from results;
  - BM25 statistics (N, df, avg_len) stay at pre-delete values until
    compaction (liveDocs semantics) — pinned by scoring the survivors
    against the full-corpus oracle and only then dropping deleted docs;
  - compact_index == a fresh build over the surviving corpus: identical
    decoded postings/positions, doclens, vocab and query results.
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from fixtures import (PAST_CEILING, build_dicts, build_segments,
                      gen_collection, gen_queries, make_cursors, oracle_topk)

from dint_spark.queries import KERNELS, Tombstones, boolean_and, boolean_or

# every algo name, plus block_max_wand_vec's path on shards past the
# dense ceiling
KERNELS = {**KERNELS, "bmw_pruned": PAST_CEILING}


# ---------------------------------------------------------------------------
# kernel layer (no Spark): every kernel vs the live-filtered oracle
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def small():
    plists, doclens, num_docs, docs_tokens = gen_collection(
        num_docs=400, seed=9)
    docs_dict, freqs_dict = build_dicts(plists)
    segs, norm = build_segments(plists, doclens, docs_dict, freqs_dict)
    queries = gen_queries(docs_tokens, num_queries=40, seed=3)
    return plists, doclens, num_docs, docs_dict, freqs_dict, segs, norm, queries


def _oracle_live(query, plists, doclens, num_docs, live_mask, k=10):
    """Full-corpus-stats scoring, deleted docs dropped before top-k."""
    full = oracle_topk(query, plists, doclens, num_docs, k=num_docs)
    live = [(d, s) for d, s in full if live_mask[d]]
    return live[:k]


@pytest.mark.parametrize("algo", ["ranked_or", "ranked_or_vec", "wand",
                                  "block_max_wand", "block_max_wand_vec",
                                  "bmw_pruned", "maxscore"])
def test_kernels_exclude_deleted_stale_stats(small, algo):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    rng = np.random.default_rng(5)
    deleted = np.unique(rng.choice(num_docs, size=num_docs // 5,
                                   replace=False))
    tomb = Tombstones(deleted, num_docs)
    kern = KERNELS[algo]
    for q in queries:
        cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
        got = kern(cursors, norm, num_docs, 10, np.float32, live=tomb)
        assert all(tomb.mask[d] for d, _ in got)
        want = _oracle_live(q, plists, doclens, num_docs, tomb.mask)
        assert [(d, s) for d, s in got] == want, (algo, q)


def test_kernels_all_docs_deleted(small):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    tomb = Tombstones(np.arange(num_docs), num_docs)
    for algo in ("ranked_or_vec", "block_max_wand_vec", "bmw_pruned",
                 "maxscore"):
        cursors = make_cursors(queries[0], segs, dd, fd, norm, num_docs)
        assert KERNELS[algo](cursors, norm, num_docs, 10, np.float32,
                             live=tomb) == []


def test_boolean_kernels_exclude_deleted(small):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    deleted = np.arange(0, num_docs, 3)
    tomb = Tombstones(deleted, num_docs)
    q = queries[1][:2]
    cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
    got_and = boolean_and(cursors, num_docs, live=tomb).tolist()
    cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
    got_or = boolean_or(cursors, num_docs, live=tomb).tolist()
    assert all(d % 3 != 0 for d in got_and)
    assert all(d % 3 != 0 for d in got_or)
    # OR without tombstones minus deleted == OR with tombstones
    cursors = make_cursors(q, segs, dd, fd, norm, num_docs)
    full_or = boolean_or(cursors, num_docs).tolist()
    assert [d for d in full_or if d % 3 != 0] == got_or


def test_tombstones_mask_roundtrip():
    import pickle

    t = Tombstones([5, 1, 9], 12)
    assert t.mask.sum() == 9 and not t.mask[1]
    t2 = pickle.loads(pickle.dumps(t))
    assert t2._mask is None  # mask never ships; rebuilt lazily
    assert np.array_equal(t2.mask, t.mask)


# ---------------------------------------------------------------------------
# Spark layer: delete_docs + every distributed path + compaction
# ---------------------------------------------------------------------------

N_DOCS = 300
DEAD_MOD = 7  # doc_id % 7 == 3 -> tombstoned


@pytest.fixture(scope="module")
def del_index(spark, tmp_path_factory):
    from dint_spark.corpus import generate_pages
    from dint_spark.index import IndexConfig, build_index, delete_docs

    out = str(tmp_path_factory.mktemp("idx") / "del")
    pages = generate_pages(spark, N_DOCS, seed=21)
    idx = build_index(spark, pages, out,
                      IndexConfig(num_buckets=2, input_tag="del-test"))
    dead = [d for d in range(idx.num_docs) if d % DEAD_MOD == 3]
    assert delete_docs(spark, idx, dead) == len(dead)
    return idx, pages, dead


def test_delete_docs_idempotent_and_validated(spark, del_index):
    from dint_spark.index import delete_docs, load_index

    idx, _, dead = del_index
    assert delete_docs(spark, idx, dead) == 0  # re-run records nothing
    assert delete_docs(spark, idx, dead[:3] + [dead[0]]) == 0
    with pytest.raises(ValueError):
        delete_docs(spark, idx, [idx.num_docs])
    # a fresh load sees the persisted tombstones (manifest + parquet)
    idx2 = load_index(spark, idx.dir)
    assert np.array_equal(idx2.deleted_docs(), np.asarray(dead))
    assert idx2.live_doc_count == idx.num_docs - len(dead)


def test_run_queries_and_serve_exclude_deleted(spark, del_index):
    from dint_spark.queries import BroadcastQueryServer, run_queries

    idx, _, _ = del_index
    qs = [[0, 1], [2, 5, 9], [0], [3, 6, 8, 12], [30]]
    shuffle = run_queries(spark, idx, qs, algo="block_max_wand_vec",
                          k=10).toPandas()
    assert len(shuffle) and all(d % DEAD_MOD != 3 for d in shuffle.doc_id)
    served = (BroadcastQueryServer(spark, idx)
              .serve(qs, algo="block_max_wand_vec", k=10).toPandas())
    a = shuffle.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = served.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)  # served path applies the same tombstones


def test_boolean_paths_exclude_deleted(spark, del_index):
    from dint_spark.queries import run_boolean_queries

    idx, _, _ = del_index
    for mode in ("and", "or"):
        res = run_boolean_queries(spark, idx, [[0, 1], [2, 3]],
                                  mode=mode).toPandas()
        assert len(res) and all(d % DEAD_MOD != 3 for d in res.doc_id)


def test_compact_equals_fresh_build(spark, del_index, tmp_path):
    from dint_spark.compact import compact_index
    from dint_spark.index import IndexConfig, build_index
    from dint_spark.queries import decoded_postings, run_queries
    from dint_spark.tokenizer import assign_doc_ids

    idx, pages, dead = del_index
    cidx = compact_index(spark, idx, str(tmp_path / "compacted"))
    assert cidx.num_docs == idx.num_docs - len(dead)
    assert not cidx.has_deletes

    live_pages = (assign_doc_ids(pages.select("url", "text"))
                  .where(f"doc_id % {DEAD_MOD} != 3").select("url", "text"))
    fidx = build_index(spark, live_pages, str(tmp_path / "fresh"),
                       IndexConfig(num_buckets=2, input_tag="fresh-test"))
    a = decoded_postings(cidx).toPandas().sort_values(
        ["term_id", "doc_id"]).reset_index(drop=True)
    b = decoded_postings(fidx).toPandas().sort_values(
        ["term_id", "doc_id"]).reset_index(drop=True)
    assert a.equals(b)
    assert cidx.metrics() == fidx.metrics()
    qs = [[0, 1], [2, 5, 9], [7, 15]]
    r1 = run_queries(spark, cidx, qs, algo="block_max_wand_vec",
                     k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    r2 = run_queries(spark, fidx, qs, algo="block_max_wand_vec",
                     k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert r1.equals(r2)


def test_positional_deletes_and_compact(spark, tmp_path):
    from dint_spark.compact import compact_index
    from dint_spark.corpus import generate_pages
    from dint_spark.index import IndexConfig, build_index, delete_docs
    from dint_spark.queries import (decoded_positions, run_phrase_queries,
                                    run_proximity_queries)
    from dint_spark.tokenizer import assign_doc_ids

    pages = generate_pages(spark, 150, seed=33)
    idx = build_index(spark, pages, str(tmp_path / "pos"),
                      IndexConfig(num_buckets=2, input_tag="pos-del",
                                  positions=True))
    full = run_phrase_queries(spark, idx, [[0, 1], [1, 0], [2]]).toPandas()
    dead = sorted({int(d) for d in full.doc_id})[::2]  # kill half the hits
    delete_docs(spark, idx, dead)
    after = run_phrase_queries(spark, idx, [[0, 1], [1, 0], [2]]).toPandas()
    assert not set(after.doc_id) & set(dead)
    survivors = full[~full.doc_id.isin(dead)].reset_index(drop=True)
    assert after.sort_values(["query_id", "doc_id"]).reset_index(
        drop=True).equals(
        survivors.sort_values(["query_id", "doc_id"]).reset_index(drop=True))
    prox = run_proximity_queries(spark, idx, [[0, 1]], window=6).toPandas()
    assert not set(prox.doc_id) & set(dead)

    # positional compaction reconstructs the exact token sequences
    cidx = compact_index(spark, idx, str(tmp_path / "pos-compact"))
    live_pages = (assign_doc_ids(pages.select("url", "text"))
                  .where(f"doc_id NOT IN ({','.join(map(str, dead))})")
                  .select("url", "text"))
    fidx = build_index(spark, live_pages, str(tmp_path / "pos-fresh"),
                       IndexConfig(num_buckets=2, input_tag="pos-fresh",
                                   positions=True))
    a = decoded_positions(cidx).toPandas().sort_values(
        ["term_id", "doc_id", "pos"]).reset_index(drop=True)
    b = decoded_positions(fidx).toPandas().sort_values(
        ["term_id", "doc_id", "pos"]).reset_index(drop=True)
    assert a.equals(b)
