"""Boolean AND-NOT, faceted counting, and embedding rerank.

Contracts under test:
  - boolean_and_not kernel == brute-force (AND over pos) \\ (OR over neg),
    including a term on both sides (x AND NOT x = empty) and live masks;
  - run_boolean_queries(mode="and_not") == the engine's own AND minus its
    own OR matches (metamorphic over two independently oracle-gated ops);
  - build_doc_facets assembles the exact per-doc ordinal array
    distributively (NULL facet -> reserved missing slot, never emitted)
    and run_facet_queries counts == pandas brute force, composing with a
    DocMask;
  - rerank_by_embedding == numpy brute force under the exact integer
    quantization contract (floor at 2^20, i64 dot, cos floor at 1e-6),
    tie rule (cos desc, bm25 desc, doc_id asc).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fixtures import (build_dicts, build_segments, gen_collection,
                      gen_queries, make_cursors)

from dint_spark.queries import (DocMask, Tombstones, boolean_and,
                                boolean_and_not, boolean_or,
                                run_boolean_queries, run_queries)

N_DOCS = 300


# ---------------------------------------------------------------------------
# kernel layer (no Spark)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def small():
    plists, doclens, num_docs, docs_tokens = gen_collection(
        num_docs=400, seed=23)
    docs_dict, freqs_dict = build_dicts(plists)
    segs, norm = build_segments(plists, doclens, docs_dict, freqs_dict)
    queries = gen_queries(docs_tokens, num_queries=30, seed=9)
    return plists, doclens, num_docs, docs_dict, freqs_dict, segs, norm, queries


def _brute_and_not(plists, pos, neg, num_docs, mask=None):
    sets = [set(plists[t][0]) for t in pos if t in plists]
    if len(sets) != len(set(pos)):
        return []  # a pos term with no postings matches nothing
    m = set.intersection(*sets) if sets else set()
    for t in set(neg):
        if t in plists:
            m -= set(plists[t][0])
    if mask is not None:
        m = {d for d in m if mask[d]}
    return sorted(m)


def test_kernel_and_not_matches_brute(small):
    plists, doclens, num_docs, dd, fd, segs, norm, queries = small
    rng = np.random.default_rng(5)
    live = Tombstones(
        np.flatnonzero(rng.random(num_docs) < 0.1), num_docs)
    for q in queries:
        q = list(dict.fromkeys(q))
        pos, neg = q[: max(1, len(q) // 2)], q[max(1, len(q) // 2):]
        for mask in (None, live):
            cs = make_cursors(pos, segs, dd, fd, norm, num_docs)
            ns = make_cursors(neg, segs, dd, fd, norm, num_docs)
            got = boolean_and_not(cs, ns, num_docs, live=mask).tolist()
            want = _brute_and_not(
                plists, pos, neg, num_docs,
                mask=None if mask is None else mask.mask)
            assert got == want, (pos, neg)


def test_kernel_and_not_contradiction_and_empty_neg(small):
    plists, doclens, num_docs, dd, fd, segs, norm, _ = small
    t = next(iter(plists))
    cs = make_cursors([t], segs, dd, fd, norm, num_docs)
    ns = make_cursors([t], segs, dd, fd, norm, num_docs)
    assert boolean_and_not(cs, ns, num_docs).tolist() == []
    cs = make_cursors([t], segs, dd, fd, norm, num_docs)
    assert (boolean_and_not(cs, [], num_docs).tolist()
            == sorted(plists[t][0]))


def test_kernel_and_not_skips_negative_blocks(monkeypatch):
    """A negative list decodes only the blocks over the positive
    matches — here 1 of its 10 — and never enters the LRU: a huge NOT
    list is never fully decoded."""
    from dint_spark import queries as Q

    num_docs = 5000
    plists = {1: (np.array([100, 101, 102, 103]), np.ones(4, dtype=np.int64)),
              2: (np.arange(0, num_docs, 2), np.ones(2500, dtype=np.int64))}
    dd, fd = build_dicts(plists)
    segs, norm = build_segments(plists, np.full(num_docs, 10), dd, fd)
    cs = make_cursors([1], segs, dd, fd, norm, num_docs)
    ns = make_cursors([2], segs, dd, fd, norm, num_docs)
    assert len(ns[0].block_maxs) == 10
    asked = []
    real = Q.decode_posting_blocks

    def counting(buf, table, docs_dict, freqs_dict):
        asked.append(table.shape[1])
        return real(buf, table, docs_dict, freqs_dict)

    monkeypatch.setattr(Q, "decode_posting_blocks", counting)
    assert boolean_and_not(cs, ns, num_docs).tolist() == [101, 103]
    # the positive list's one block, then one block of the negative list
    assert asked == [1, 1]
    assert Q._cache_key(ns[0]) not in Q._LIST_CACHE


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs_pdf():
    """Deterministic small documents table: doc_id, text, lang (with NULLs)."""
    rng = np.random.default_rng(77)
    words = [f"w{i}" for i in range(40)]
    langs = ["en", "de", "fr", None]
    rows = []
    for d in range(N_DOCS):
        n = int(rng.integers(5, 60))
        toks = rng.choice(words, size=n,
                          p=np.arange(40, 0, -1) / np.arange(40, 0, -1).sum())
        rows.append((d, " ".join(toks), langs[int(rng.integers(0, 4))]))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


@pytest.fixture(scope="module")
def sidx(spark, tmp_path_factory, docs_pdf):
    from dint_spark.corpus import pages_from_documents
    from dint_spark.index import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("idx") / "facets")
    docs = spark.createDataFrame(docs_pdf)
    # pages.lang is non-null in the schema; facet tests use the REAL
    # nullable column from `docs_pdf` directly
    pages = pages_from_documents(docs.fillna({"lang": "xx"}))
    idx = build_index(spark, pages, out,
                      IndexConfig(num_buckets=2, input_tag="facets-test"))
    return idx


def _tok_matrix(docs_pdf, vocab):
    """doc -> set(term_id) from the engine's vocab ranking."""
    out = []
    for text in docs_pdf["text"]:
        toks = {t for t in text.lower().split() if t}
        out.append({vocab[t] for t in toks if t in vocab})
    return out


def _vocab_map(spark, idx):
    v = spark.read.parquet(f"{idx.dir}/vocab.parquet").collect()
    return {r["term"]: r["term_id"] for r in v}


def test_spark_and_not_metamorphic(spark, sidx):
    specs = [([0], [1]), ([1, 2], [3]), ([4], [4]), ([0, 3], [10, 11])]
    got = {
        (r["query_id"], r["doc_id"])
        for r in run_boolean_queries(spark, sidx, specs,
                                     mode="and_not").collect()
    }
    want = set()
    for qid, (pos, neg) in enumerate(specs):
        a = {r["doc_id"] for r in run_boolean_queries(
            spark, sidx, [pos], mode="and").collect()}
        o = {r["doc_id"] for r in run_boolean_queries(
            spark, sidx, [neg], mode="or").collect()}
        want |= {(qid, d) for d in a - o}
    assert got == want


def test_build_doc_facets_and_counts(spark, sidx, docs_pdf):
    from dint_spark.facets import build_doc_facets, run_facet_queries

    docs = spark.createDataFrame(docs_pdf)
    fac = build_doc_facets(spark, docs, sidx.num_docs, "lang")
    # ordinal array matches a local recompute; NULL -> missing slot
    vals = sorted({v for v in docs_pdf["lang"] if v is not None})
    assert fac.values == vals
    want = np.array([
        vals.index(v) if v is not None else len(vals)
        for v in docs_pdf["lang"]], dtype=np.uint32)
    assert np.array_equal(fac.ords, want)

    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    specs = [[0], [1, 2], [0, 3, 5]]
    got = {
        (r["query_id"], r["facet"]): r["n_docs"]
        for r in run_facet_queries(spark, sidx, specs, fac,
                                   mode="and").collect()
    }
    expect: dict = {}
    for qid, terms in enumerate(specs):
        for d, tset in enumerate(tm):
            if set(terms) <= tset and docs_pdf["lang"][d] is not None:
                k = (qid, docs_pdf["lang"][d])
                expect[k] = expect.get(k, 0) + 1
    assert got == expect


def test_facet_dim_dir_lives_with_the_session(spark, sidx, docs_pdf):
    """build_doc_facets with no dim_path writes its dimension under the
    session's SparkFiles root, which Spark deletes when the context
    stops: no dint_facet_dim_* directory is left in the temp dir."""
    import glob
    import os
    import tempfile

    from pyspark import SparkFiles

    from dint_spark.facets import build_doc_facets

    patterns = {os.path.join(d, "dint_facet_dim_*")
                for d in ("/tmp", tempfile.gettempdir())}

    def leftover():
        return {p for pat in patterns for p in glob.glob(pat)}

    before = leftover()
    fac = build_doc_facets(spark, spark.createDataFrame(docs_pdf),
                           sidx.num_docs, "lang")
    assert fac.values == sorted({v for v in docs_pdf["lang"]
                                 if v is not None})
    assert leftover() == before
    root = os.path.realpath(SparkFiles.getRootDirectory())
    assert os.path.commonpath([os.path.realpath(fac.dim_path), root]) == root


def test_facets_compose_with_docmask(spark, sidx, docs_pdf):
    from dint_spark.facets import build_doc_facets, run_facet_queries

    docs = spark.createDataFrame(docs_pdf)
    fac = build_doc_facets(spark, docs, sidx.num_docs, "lang")
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    got = {
        (r["query_id"], r["facet"]): r["n_docs"]
        for r in run_facet_queries(spark, sidx, [[0]], fac, mode="and",
                                   doc_filter=dm).collect()
    }
    expect: dict = {}
    for d, tset in enumerate(tm):
        if 0 in tset and mask[d] and docs_pdf["lang"][d] is not None:
            k = (0, docs_pdf["lang"][d])
            expect[k] = expect.get(k, 0) + 1
    assert got == expect


def test_rerank_matches_numpy_brute(spark, sidx, docs_pdf):
    from dint_spark.search import rerank_by_embedding

    rng = np.random.default_rng(13)
    dim = 16
    vecs = rng.standard_normal((N_DOCS, dim)).astype(np.float32)
    n_q = 6
    emb = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(N_DOCS),
        "embedding": [v.tolist() for v in vecs],
    }))
    qv = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(n_q),
        "embedding": [vecs[i].tolist() for i in range(n_q)],
    }))
    specs = [[0], [1, 2], [3], [0, 4], [5, 6], [2]][:n_q]
    n_cand, k = 20, 5
    got = rerank_by_embedding(
        spark, sidx, specs, emb, qv, n_candidates=n_cand, k=k,
        dtype="float64").collect()

    # brute force under the exact quantization contract
    scale = 1 << 20
    eq = np.floor(vecs.astype(np.float64) * scale).astype(np.int64)
    n2 = (eq * eq).sum(axis=1)
    raw = run_queries(spark, sidx, specs, algo="block_max_wand",
                      k=2 * n_cand, dtype="float64").collect()
    by_q: dict = {}
    for r in raw:
        by_q.setdefault(r["query_id"], []).append(
            (int(np.floor(r["score"] * 1e9)), r["doc_id"]))
    want = []
    for qid in range(n_q):
        cands = sorted(by_q.get(qid, []),
                       key=lambda x: (-x[0], x[1]))[:n_cand]
        rer = []
        for sq, d in cands:
            dot = int((eq[d] * eq[qid]).sum())
            cos = dot / np.sqrt(float(n2[d]) * float(n2[qid]))
            rer.append((int(np.floor(cos * 1e6)), sq, d))
        rer.sort(key=lambda x: (-x[0], -x[1], x[2]))
        for rank, (cq, sq, d) in enumerate(rer[:k], 1):
            want.append((qid, rank, d, cq, sq))
    got_t = sorted((r["query_id"], r["rank"], r["doc_id"], r["cos_q"],
                    r["score_q"]) for r in got)
    assert got_t == sorted(want)


def test_hybrid_rrf_matches_numpy_brute(spark, sidx, docs_pdf):
    """hybrid_rrf == brute-force RRF over (quantized BM25 top-k_each,
    quantized exact-cosine top-k_each): missing-side contribution 0,
    rrf floor-quantized at 1e12, ties by doc_id asc."""
    from dint_spark.search import hybrid_rrf

    rng = np.random.default_rng(29)
    dim = 16
    vecs = rng.standard_normal((N_DOCS, dim)).astype(np.float32)
    n_q = 5
    emb = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(N_DOCS),
        "embedding": [v.tolist() for v in vecs],
    }))
    qv = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(n_q),
        "embedding": [vecs[i].tolist() for i in range(n_q)],
    }))
    specs = [[0], [1, 2], [3], [0, 4], [5, 7]]
    k_each, k, rrf_k = 15, 6, 60
    got = hybrid_rrf(spark, sidx, specs, emb, qv, k=k, k_each=k_each,
                     rrf_k=rrf_k, dtype="float64").collect()

    # lexical arm under the exact quantization contract
    raw = run_queries(spark, sidx, specs, algo="block_max_wand",
                      k=2 * k_each, dtype="float64").collect()
    by_q: dict = {}
    for r in raw:
        by_q.setdefault(r["query_id"], []).append(
            (int(np.floor(r["score"] * 1e9)), r["doc_id"]))
    lrank: dict = {}
    for qid in range(n_q):
        cands = sorted(by_q.get(qid, []), key=lambda x: (-x[0], x[1]))
        for rank, (_, d) in enumerate(cands[:k_each], 1):
            lrank[(qid, d)] = rank

    # vector arm: exact integer-quantized cosine over ALL docs
    scale = 1 << 20
    eq = np.floor(vecs.astype(np.float64) * scale).astype(np.int64)
    n2 = (eq * eq).sum(axis=1)
    vrank: dict = {}
    for qid in range(n_q):
        dots = eq @ eq[qid]
        cos = dots / np.sqrt(n2.astype(np.float64) * float(n2[qid]))
        cq = np.floor(cos * 1e6).astype(np.int64)
        order = sorted(range(N_DOCS), key=lambda d: (-cq[d], d))
        for rank, d in enumerate(order[:k_each], 1):
            vrank[(qid, d)] = rank

    want = []
    for qid in range(n_q):
        docs = {d for (q, d) in (set(lrank) | set(vrank)) if q == qid}
        fused = []
        for d in docs:
            s = 0.0
            if (qid, d) in lrank:
                s += 1.0 / (rrf_k + lrank[(qid, d)])
            if (qid, d) in vrank:
                s += 1.0 / (rrf_k + vrank[(qid, d)])
            fused.append((int(np.floor(s * 1e12)), d))
        fused.sort(key=lambda x: (-x[0], x[1]))
        for rank, (rq, d) in enumerate(fused[:k], 1):
            want.append((qid, rank, d, rq))
    got_t = sorted((r["query_id"], r["rank"], r["doc_id"], r["rrf_q"])
                   for r in got)
    assert got_t == sorted(want)


def test_hybrid_rrf_pluggable_vector_ranks(spark, sidx, docs_pdf):
    """The ``vector_ranks`` hook (ANN output at crawl scale) is honored:
    feeding a precomputed ranking changes fusion exactly as RRF says."""
    from dint_spark.search import hybrid_rrf

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((N_DOCS, 8)).astype(np.float32)
    emb = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(N_DOCS),
        "embedding": [v.tolist() for v in vecs],
    }))
    qv = spark.createDataFrame(pd.DataFrame({
        "query_id": [0], "embedding": [vecs[0].tolist()]}))
    # a hand-made vector ranking that boosts docs 7 and 3
    vr = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 0], "doc_id": [7, 3],
                      "vrank": [1, 2]}))
    got = hybrid_rrf(spark, sidx, [[0]], emb, qv, k=4, k_each=10,
                     dtype="float64", vector_ranks=vr).collect()
    by_doc = {r["doc_id"]: r for r in got}
    # doc 7 gets 1/(60+1) from the vector arm; any lexical-only doc at
    # lrank r gets 1/(60+r) <= 1/61 -> doc 7 must appear in the fused top-4
    assert 7 in by_doc


def test_build_doc_values_and_sorted_queries(spark, sidx, docs_pdf):
    """build_doc_values == local recompute (NULL -> missing sentinel);
    run_sorted_queries == brute force over the token matrix: boolean
    match, sort (val desc|asc, doc_id asc), top-k, missing-value docs
    excluded, DocMask composed — including the argpartition preselect
    path (match set >> k)."""
    import pyspark.sql.functions as F

    from dint_spark.facets import (_DV_MISSING, build_doc_values,
                                   run_sorted_queries)

    docs = spark.createDataFrame(docs_pdf).withColumn(
        "nchars",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))  # some missing
        .otherwise(F.length("text")))
    vals = build_doc_values(spark, docs, sidx.num_docs, "nchars")
    want_vals = np.array([
        _DV_MISSING if d % 11 == 3 else len(docs_pdf["text"][d])
        for d in range(N_DOCS)], dtype=np.int64)
    assert np.array_equal(vals, want_vals)

    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::3] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4]]
    k = 6
    for desc in (True, False):
        for filt in (None, dm):
            got = {
                (r["query_id"], r["rank"]): (r["doc_id"], r["val"])
                for r in run_sorted_queries(
                    spark, sidx, specs, vals, k=k, descending=desc,
                    doc_filter=filt).collect()
            }
            want = {}
            for qid, terms in enumerate(specs):
                rows = [(int(want_vals[d]), d) for d, ts in enumerate(tm)
                        if set(terms) <= ts
                        and want_vals[d] != _DV_MISSING
                        and (filt is None or mask[d])]
                rows.sort(key=lambda x: (-x[0] if desc else x[0], x[1]))
                for rank, (v, d) in enumerate(rows[:k], 1):
                    want[(qid, rank)] = (d, v)
            assert got == want, (desc, filt is None)


def test_run_range_facet_queries(spark, sidx, docs_pdf):
    """Range facets == brute force: boolean match, bucket by
    [edges[i], edges[i+1]), drop missing / out-of-range values, count;
    empty buckets omitted; DocMask composed; bad edges rejected."""
    import pyspark.sql.functions as F

    from dint_spark.facets import (_DV_MISSING, build_doc_values,
                                   run_range_facet_queries)

    docs = spark.createDataFrame(docs_pdf).withColumn(
        "nchars",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))
        .otherwise(F.length("text")))
    vals = build_doc_values(spark, docs, sidx.num_docs, "nchars")
    lo, hi = int(vals[vals != _DV_MISSING].min()), int(vals.max())
    # interior edges so below/above drops are exercised
    edges = [lo + 2, lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3, hi - 1]
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4]]
    for filt in (None, dm):
        got = {
            (r["query_id"], r["bucket"]): (r["lo"], r["hi"], r["n_docs"])
            for r in run_range_facet_queries(
                spark, sidx, specs, vals, edges,
                doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(specs):
            matched = [d for d, ts in enumerate(tm)
                       if set(terms) <= ts
                       and (filt is None or mask[d])]
            for b in range(len(edges) - 1):
                n = sum(1 for d in matched
                        if vals[d] != _DV_MISSING
                        and edges[b] <= vals[d] < edges[b + 1])
                if n:
                    want[(qid, b)] = (edges[b], edges[b + 1], n)
        assert got == want, filt is None

    with pytest.raises(ValueError, match="increasing"):
        run_range_facet_queries(spark, sidx, specs, vals, [5, 5, 9])


def _brute_bm25_scores(docs_pdf, vocab, terms):
    """Float64 BM25 (engine constants: b=0.5, idf floor 1e-6, (1+k1)) per
    matched doc, accumulated in term_id-asc order like the kernels."""
    import math
    from collections import Counter

    inv = {tid: t for t, tid in vocab.items()}
    toks = [[w for w in text.lower().split() if w]
            for text in docs_pdf["text"]]
    n = len(toks)
    lens = np.array([len(t) for t in toks], dtype=np.float64)
    avg = lens.sum() / n
    tfs = [Counter(t) for t in toks]
    df = Counter()
    for c in tfs:
        df.update(set(c))
    q = Counter(terms)
    scores = {}
    for d, c in enumerate(tfs):
        s, hit = 0.0, False
        for tid, qf in sorted(q.items()):
            w = inv[tid]
            tf = c.get(w, 0)
            if not tf:
                continue
            hit = True
            idf = math.log((n - df[w] + 0.5) / (df[w] + 0.5))
            qw = float(qf) * max(1e-6, idf) * (1.0 + 1.2)
            s += qw * (tf / (tf + 1.2 * (0.5 + 0.5 * (lens[d] / avg))))
        if hit:
            scores[d] = s
    return scores


COLLAPSE_SPECS = [[0], [1, 2], [0, 3, 5], [4], [2, 2, 7]]


def test_run_collapsed_queries(spark, sidx, docs_pdf):
    """Field collapsing == brute force: best doc per lang group by
    (score_q desc, doc asc), groups ranked by their representative,
    NULL-lang docs collapse into ONE null group, DocMask composed."""
    import math

    from dint_spark.facets import build_doc_facets, run_collapsed_queries

    docs = spark.createDataFrame(docs_pdf)
    fac = build_doc_facets(spark, docs, sidx.num_docs, "lang")
    vocab = _vocab_map(spark, sidx)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    k = 3
    for filt in (None, dm):
        got = {
            (r["query_id"], r["rank"]): (r["facet"], r["doc_id"],
                                         r["score_q"])
            for r in run_collapsed_queries(
                spark, sidx, COLLAPSE_SPECS, fac, k=k,
                doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(COLLAPSE_SPECS):
            scores = _brute_bm25_scores(docs_pdf, vocab, terms)
            best = {}  # lang -> (sq, doc)
            for d, s in scores.items():
                if filt is not None and not mask[d]:
                    continue
                g = docs_pdf["lang"][d]
                key = (-math.floor(s * 1e9), d)
                if g not in best or key < best[g]:
                    best[g] = key
            reps = sorted(best.items(), key=lambda kv: kv[1])[:k]
            for rank, (g, (nsq, d)) in enumerate(reps, 1):
                want[(qid, rank)] = (g, d, -nsq)
        assert got == want, filt is None


def test_run_grouped_topk(spark, sidx, docs_pdf):
    """Collapse + inner hits == brute force: groups ranked by best
    member, each group carries its top per_group docs in score order,
    NULL-lang docs share one group, DocMask composed, per_group=1
    degenerates to the collapse representative set."""
    import math

    from dint_spark.facets import build_doc_facets, run_grouped_topk

    docs = spark.createDataFrame(docs_pdf)
    fac = build_doc_facets(spark, docs, sidx.num_docs, "lang")
    vocab = _vocab_map(spark, sidx)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    kg, pg = 3, 2
    for filt in (None, dm):
        for per_group in (pg, 1):
            got = {
                (r["query_id"], r["rank"], r["group_rank"]):
                    (r["facet"], r["doc_id"], r["score_q"])
                for r in run_grouped_topk(
                    spark, sidx, COLLAPSE_SPECS, fac, k_groups=kg,
                    per_group=per_group, doc_filter=filt).collect()
            }
            want = {}
            for qid, terms in enumerate(COLLAPSE_SPECS):
                scores = _brute_bm25_scores(docs_pdf, vocab, terms)
                groups = {}
                for d, s in scores.items():
                    if filt is not None and not mask[d]:
                        continue
                    groups.setdefault(docs_pdf["lang"][d], []).append(
                        (-math.floor(s * 1e9), d))
                for rows in groups.values():
                    rows.sort()
                ranked = sorted(groups.items(),
                                key=lambda kv: kv[1][0])[:kg]
                for grank, (lang, rows) in enumerate(ranked, 1):
                    for gr, (nsq, d) in enumerate(rows[:per_group], 1):
                        want[(qid, grank, gr)] = (lang, d, -nsq)
            assert got == want, (filt is None, per_group)


def test_run_queries_after_tiles_the_ranking(spark, sidx, docs_pdf):
    """search_after pages tile the global quantized ranking exactly:
    page 1 (no cursor) == brute ranks 1..k, page 2 resumed from page 1's
    last (score_q, doc_id) == ranks k+1..2k, and a cursor past the end
    returns nothing. Head-term specs push the match set far past 4k so
    the argpartition preselect path runs."""
    import math

    from dint_spark.paging import run_queries_after

    vocab = _vocab_map(spark, sidx)
    specs = [[0], [1, 2], [0, 3, 5], [39]]
    k = 5
    brute = []
    for terms in specs:
        scores = _brute_bm25_scores(docs_pdf, vocab, terms)
        brute.append(sorted(
            ((math.floor(s * 1e9), d) for d, s in scores.items()),
            key=lambda t: (-t[0], t[1])))

    def rows(res):
        return {(r["query_id"], r["rank"]): (r["doc_id"], r["score_q"])
                for r in res.collect()}

    p1 = rows(run_queries_after(spark, sidx, specs, None, k=k))
    want1 = {(q, i + 1): (d, sq)
             for q, full in enumerate(brute)
             for i, (sq, d) in enumerate(full[:k])}
    assert p1 == want1

    cur = [(p1[(q, k)][1], p1[(q, k)][0]) if (q, k) in p1 else None
           for q in range(len(specs))]
    p2 = rows(run_queries_after(spark, sidx, specs, cur, k=k))
    want2 = {(q, i + 1): (d, sq)
             for q, full in enumerate(brute)
             for i, (sq, d) in enumerate(full[k:2 * k])}
    assert p2 == want2

    # a cursor below every score: empty page
    tail = [(-(10 ** 15), 0)] * len(specs)
    assert rows(run_queries_after(spark, sidx, specs, tail, k=k)) == {}


def test_run_queries_after_score_tie_cursor(spark, sidx):
    """At an exact score_q tie the cursor advances by doc_id: seeding the
    cursor at (sq, d) returns the later tied docs, never d again."""
    from dint_spark.paging import run_queries_after

    # single-term query: every doc with the same tf/len pair ties exactly
    full = run_queries_after(spark, sidx, [[0]], None, k=300).collect()
    by_rank = sorted(full, key=lambda r: r["rank"])
    tie = None
    for a, b in zip(by_rank, by_rank[1:]):
        if a["score_q"] == b["score_q"]:
            tie = (a, b)
            break
    assert tie is not None, "fixture has no quantized tie; widen k"
    a, b = tie
    nxt = run_queries_after(
        spark, sidx, [[0]], [(a["score_q"], a["doc_id"])], k=1).collect()
    assert len(nxt) == 1 and nxt[0]["doc_id"] == b["doc_id"]


def test_run_stats_queries(spark, sidx, docs_pdf):
    """Match-set stats == brute force: n_docs counts every match,
    n_valued/vsum/vmin/vmax only valued docs; missing-only match sets
    give NULL min/max; DocMask composes; no-match queries emit no row."""
    import pyspark.sql.functions as F

    from dint_spark.facets import (_DV_MISSING, build_doc_values,
                                   run_stats_queries)

    docs = spark.createDataFrame(docs_pdf).withColumn(
        "nchars",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))
        .otherwise(F.length("text")))
    vals = build_doc_values(spark, docs, sidx.num_docs, "nchars")
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4], [0, 1, 2, 3, 4, 5, 6]]
    for filt in (None, dm):
        got = {
            r["query_id"]: (r["n_docs"], r["n_valued"], r["vsum"],
                            r["vmin"], r["vmax"])
            for r in run_stats_queries(
                spark, sidx, specs, vals, doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(specs):
            matched = [d for d, ts in enumerate(tm)
                       if set(terms) <= ts
                       and (filt is None or mask[d])]
            if not matched:
                continue
            vv = [int(vals[d]) for d in matched
                  if vals[d] != _DV_MISSING]
            want[qid] = (len(matched), len(vv), sum(vv),
                         min(vv) if vv else None,
                         max(vv) if vv else None)
        assert got == want, filt is None


def test_run_percentile_queries(spark, sidx, docs_pdf):
    """Exact nearest-rank percentiles == brute force (sorted valued
    match set, 1-based rank ceil(p/100*n)); missing values excluded;
    DocMask composes; bad p rejected."""
    import math

    import pyspark.sql.functions as F

    from dint_spark.facets import (_DV_MISSING, build_doc_values,
                                   run_percentile_queries)

    docs = spark.createDataFrame(docs_pdf).withColumn(
        "nchars",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))
        .otherwise(F.length("text")))
    vals = build_doc_values(spark, docs, sidx.num_docs, "nchars")
    vocab = _vocab_map(spark, sidx)
    tm = _tok_matrix(docs_pdf, vocab)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4]]
    ps = (25, 50, 75, 95, 100)
    for filt in (None, dm):
        got = {
            r["query_id"]: (r["n_valued"],) + tuple(
                r[f"p{p}"] for p in ps)
            for r in run_percentile_queries(
                spark, sidx, specs, vals, ps=ps,
                doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(specs):
            vv = sorted(int(vals[d]) for d, ts in enumerate(tm)
                        if set(terms) <= ts
                        and vals[d] != _DV_MISSING
                        and (filt is None or mask[d]))
            if vv:
                want[qid] = (len(vv),) + tuple(
                    vv[math.ceil(p * len(vv) / 100) - 1] for p in ps)
        assert got == want, filt is None

    with pytest.raises(ValueError, match="1..100"):
        run_percentile_queries(spark, sidx, specs, vals, ps=(0,))


def test_run_boosted_queries(spark, sidx, docs_pdf):
    """Function score == brute force: bm25 * ln(1 + factor*val) for
    valued docs, neutral 1.0 multiplier for missing, quantized ties by
    doc_id, DocMask composed."""
    import math

    from dint_spark.facets import (_DV_MISSING, build_doc_values,
                                   run_boosted_queries)
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(docs_pdf).withColumn(
        "nchars",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None))
        .otherwise(F.length("text")))
    vals = build_doc_values(spark, docs, sidx.num_docs, "nchars")
    vocab = _vocab_map(spark, sidx)
    mask = np.zeros(sidx.num_docs, dtype=bool)
    mask[::2] = True
    dm = DocMask.from_mask(mask)
    specs = [[0], [1, 2], [0, 3, 5], [4]]
    k, factor = 6, 0.5
    for filt in (None, dm):
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], r["score_q"])
            for r in run_boosted_queries(
                spark, sidx, specs, vals, factor=factor, k=k,
                doc_filter=filt).collect()
        }
        want = {}
        for qid, terms in enumerate(specs):
            scores = _brute_bm25_scores(docs_pdf, vocab, terms)
            rows = []
            for d, s in scores.items():
                if filt is not None and not mask[d]:
                    continue
                m = (1.0 if vals[d] == _DV_MISSING
                     else math.log1p(factor * float(vals[d])))
                rows.append((-math.floor(s * m * 1e9), d))
            rows.sort()
            for i, (nsq, d) in enumerate(rows[:k], 1):
                want[(qid, i)] = (d, -nsq)
        assert got == want, filt is None


def test_doc_values_rejects_overflow_ids(spark, sidx, docs_pdf):
    from dint_spark.facets import build_doc_values

    import pyspark.sql.functions as F
    bad = spark.createDataFrame(docs_pdf).withColumn(
        "doc_id", F.col("doc_id") + sidx.num_docs)
    with pytest.raises(ValueError, match="num_docs"):
        build_doc_values(spark, bad, sidx.num_docs, "doc_id")
