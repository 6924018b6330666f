"""Every query op on the handle's pinned segments vs the shuffle fallback.

The one execute step (queries._execute) pins the index's segments
executor-side once per handle (positional ops: a second pin that carries
the position streams) and runs every call of every op against them; an
index over PIN_BUDGET_BYTES takes the join -> repartition ->
applyInPandas fallback. Both must return the same rows bit for bit,
statistics, filters and tombstones being per-call inputs of the pinned
path."""

from __future__ import annotations

import shutil
import threading
import time
import uuid

import numpy as np
import pytest
from pyspark.sql import types as T

from dint_spark import queries as Q
from dint_spark.bool_query import (BoolSpec, run_bool_queries,
                                   run_boosting_queries,
                                   run_terms_set_queries)
from dint_spark.corpus import generate_pages
from dint_spark.explain import run_queries_explain
from dint_spark.facets import (_DV_MISSING, build_doc_facets,
                               run_boosted_queries, run_cardinality_queries,
                               run_collapsed_queries, run_facet_queries,
                               run_grouped_topk, run_percentile_queries,
                               run_range_facet_queries, run_sorted_queries,
                               run_stats_queries)
from dint_spark.index import IndexConfig, build_index, delete_docs, load_index
from dint_spark.nested import run_nested_queries
from dint_spark.paging import run_queries_after
from dint_spark.queries import (DocMask, run_boolean_queries,
                                run_highlight_queries, run_kwic_queries,
                                run_phrase_queries, run_phrase_queries_ranked,
                                run_proximity_queries, run_queries,
                                run_queries_lm, run_span_near_queries)
from dint_spark.tokenizer import assign_doc_ids, tokenize
from oracle import ranked_or

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pin") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    # small seg_chunk: head terms split into several segment rows, so
    # ranked_and joins a term's parts on both paths
    idx = build_index(spark, generate_pages(spark, N_DOCS, seed=23), d,
                      IndexConfig(num_buckets=2, input_tag="pin",
                                  seg_chunk=64, skew_chunk=32))
    vocab = idx.vocab().toPandas().sort_values("term_id")
    tids = vocab["term_id"].tolist()
    rng = np.random.default_rng(31)
    queries = [[int(t) for t in rng.choice(tids[:300],
                                           size=int(rng.integers(1, 6)))]
               for _ in range(30)]
    queries += [[tids[0], tids[0], tids[3]], [], [10**9, tids[1]]]
    return d, idx, queries, dict(zip(vocab["term_id"], vocab["df"]))


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("query_id", "rank", "doc_id", "score").collect())


def _fallback_handle(spark, d, monkeypatch):
    """A fresh handle whose pin pre-check failed (budget 0)."""
    monkeypatch.setattr(Q, "PIN_BUDGET_BYTES", 0)
    fb = load_index(spark, d)
    assert Q._index_pin(spark, fb) is None
    return fb


def _cases(idx, queries, df):
    terms = sorted({t for q in queries for t in q if t in df})
    rng = np.random.default_rng(5)
    weighted = [[(t, float(w)) for t, w in
                 zip(q, rng.uniform(0.1, 2.0, size=len(q)))]
                for q in queries]
    mask = np.random.default_rng(7).random(idx.num_docs) < 0.6
    return {
        "block_max_wand": dict(algo="block_max_wand"),
        "block_max_wand_vec": dict(algo="block_max_wand_vec"),
        "wand": dict(algo="wand"),
        "maxscore": dict(algo="maxscore"),
        "ranked_and": dict(algo="ranked_and"),
        "weighted": dict(algo="block_max_wand_vec", weighted=True,
                         queries=weighted),
        "global_stats": dict(
            algo="block_max_wand",
            df_overrides={t: 3 * int(df[t]) for t in terms},
            idf_docs=3 * idx.num_docs,
            avg_len_override=1.25 * idx.avg_len_f64),
        "global_stats_f64": dict(
            algo="maxscore", dtype="float64",
            df_overrides={t: 2 * int(df[t]) for t in terms},
            idf_docs=2 * idx.num_docs,
            avg_len_override=0.8 * idx.avg_len_f64),
        "doc_filter": dict(algo="block_max_wand_vec",
                           doc_filter=DocMask.from_mask(mask)),
        "float64": dict(algo="block_max_wand_vec", dtype="float64"),
        "tombstones_doc_filter": dict(algo="block_max_wand_vec",
                                      deleted=True,
                                      doc_filter=DocMask.from_mask(mask)),
        # two avg_len overrides in turn on one handle and worker pool:
        # each list's cached weights must be keyed by its norm array
        "avg_len_up": dict(algo="block_max_wand_vec",
                           avg_len_override=1.25 * idx.avg_len_f64),
        "avg_len_down": dict(algo="block_max_wand_vec",
                             avg_len_override=0.8 * idx.avg_len_f64),
        "df_overrides": dict(
            algo="block_max_wand_vec",
            df_overrides={t: 3 * int(df[t]) for t in terms},
            idf_docs=3 * idx.num_docs),
    }


CASES = ["block_max_wand", "block_max_wand_vec", "wand", "maxscore",
         "ranked_and", "weighted", "global_stats", "global_stats_f64",
         "doc_filter", "float64", "tombstones_doc_filter", "avg_len_up",
         "avg_len_down", "df_overrides"]


def _oracle_rows(idx, qs, kw) -> list:
    """run_queries(idx, qs, k=10, **kw)'s expected rows from the scalar
    walk (tests/oracle.py) on the driver, under the same statistics,
    tombstones and filter; ranked_and's are the walk's full ranking
    restricted to the docs holding every query term."""
    from dint_spark.dint.codec import decode_list_bulk

    dtype = kw.get("dtype", "float32")
    DT = np.float32 if dtype == "float32" else np.float64
    norms = Q._bm25_norms(idx, dtype, kw.get("avg_len_override"))
    live = np.ones(idx.num_docs, dtype=bool)
    if idx.has_deletes:
        live[idx.deleted_docs()] = False
    if kw.get("doc_filter") is not None:
        live &= kw["doc_filter"].mask
    live = DocMask.from_mask(live)
    segs = Q._seg_map(idx.segments.select(*Q._BM25_SEG_COLS).collect())
    rows = []
    for qid, (tids, qfs) in enumerate(
            Q._fold_queries(qs, kw.get("weighted", False))):
        cs = Q._cursors(segs, tids, qfs, idx.num_docs, idx.docs_dict,
                        idx.freqs_dict, DT, kw.get("df_overrides"),
                        kw.get("idf_docs"))
        top = ranked_or(cs, norms, idx.num_docs, idx.num_docs, DT, live)
        if kw["algo"] == "ranked_and":
            held = {}
            for c in cs:
                held.setdefault(c.term_id, set()).update(decode_list_bulk(
                    c.payload, c.n, c.block_maxs, c.endpoints,
                    c.freq_offsets, c.docs_dict, None)[0].tolist())
            inter = set.intersection(*held.values()) if held else set()
            top = [(d, sc) for d, sc in top if d in inter]
        rows += [(qid, r, d, sc) for r, (d, sc) in enumerate(top[:10], 1)]
    return sorted(rows)


@pytest.fixture(scope="module")
def deleted(spark, built, tmp_path_factory):
    """A copy of the pin index with every 17th doc deleted."""
    d, idx, _, _ = built
    copy = str(tmp_path_factory.mktemp("pin_deleted") / "idx")
    shutil.copytree(d, copy)
    h = load_index(spark, copy)
    gone = list(range(0, idx.num_docs, 17))
    assert delete_docs(spark, h, gone) == len(gone)
    return copy, h


@pytest.mark.parametrize("case", CASES)
def test_pinned_matches_fallback(spark, built, deleted, monkeypatch, case):
    """Pinned rows equal the fallback's and the scalar walk's
    (tests/oracle.py; ranked_and: its AND-restricted ranking) under the
    same per-call statistics, filter and tombstones. The index's head
    terms span several segment parts (seg_chunk=64)."""
    d, idx, queries, df = built
    kw = dict(_cases(idx, queries, df)[case])
    qs = kw.pop("queries", queries)
    if kw.pop("deleted", False):
        d, idx = deleted
    pinned = run_queries(spark, idx, qs, k=10, **kw)
    assert Q._index_pin(spark, idx) is not None
    a = _rows(pinned)
    assert a == _oracle_rows(idx, qs, kw)
    fb = _fallback_handle(spark, d, monkeypatch)
    fallback = run_queries(spark, fb, qs, k=10, **kw)
    b = _rows(fallback)
    assert a, "the batch must return rows"
    assert a == b


def test_workers_read_the_module_lru(spark, built):
    """After one pinned call, a second call's workers read through the
    real dint_spark.queries decode LRU. Spark pickles the step's closures
    by value with a copy of the module globals they name, so a cache
    reached from inside one would be a per-task copy and the module's
    own LRU would stay empty. A _map_bins probe, one task per core with
    the tasks overlapping so each lands on its own worker, reports every
    worker's module LRU size and hit count."""
    _, idx, queries, _ = built
    n = spark.sparkContext.defaultParallelism
    schema = T.StructType([T.StructField(c, T.LongType(), False)
                           for c in ("pid", "entries", "hits")])

    def probe(rows):
        import os as _os
        import time as _time

        from dint_spark import queries as worker_q

        _time.sleep(1.0)
        return [[[_os.getpid()]], [[len(worker_q._LIST_CACHE)]],
                [[worker_q._LIST_CACHE_HITS]]]

    def report():
        out = Q._map_bins(spark, [[i] for i in range(n)], probe,
                          schema).collect()
        return {r["pid"]: (r["entries"], r["hits"]) for r in out}

    _rows(run_queries(spark, idx, queries))
    before = report()
    _rows(run_queries(spark, idx, queries))
    after = report()
    assert max(e for e, _ in after.values()) > 0
    assert any(h > before.get(pid, (0, 0))[1]
               for pid, (_, h) in after.items())


def test_pin_is_out_of_worker_gc(spark, built):
    """A reused worker runs a full gc.collect() after every task, so the
    pin a worker loads must be frozen out of it (queries._pin_segs): a
    body run through _execute on the pin finds none of the pin's objects
    among the worker's collected ones — the seg-map dict, its per-term
    lists and part tuples, and the memoryview and managed buffer behind
    each unpickled array. The body runs on the pin itself: a probe job
    without the pin's broadcasts makes the worker drop the pin."""
    _, idx, queries, _ = built
    seg_bc = Q._index_pin(spark, idx).seg_bc
    schema = T.StructType([T.StructField(c, T.LongType(), False)
                           for c in ("query_id", "objects", "collected")])

    def body(qid, item, cursors):
        import gc

        def buffers(a):
            while isinstance(a, np.ndarray):
                a = a.base
            return [] if a is None else [a, *gc.get_referents(a)]

        segs = seg_bc.value
        objs = [segs]
        for parts in segs.values():
            objs.append(parts)
            for part in parts:
                objs.append(part)
                for a in part[2:6]:
                    objs.extend(buffers(a))
        collected = {id(o) for o in gc.get_objects()}
        return [len(objs)], [sum(id(o) in collected for o in objs)]

    items = Q._fold_queries([q for q in queries if q][:4])
    out = Q._execute(spark, idx, items, body, schema).collect()
    assert out
    for r in out:
        assert r["objects"] > 4 * len(seg_bc.value)
        assert r["collected"] == 0, r


@pytest.fixture(scope="module")
def sidecars(spark, built):
    """A facet column with missing docs, an i64 doc value with missing
    docs, and parent ordinals in blocks of 3 with orphans."""
    _, idx, _, _ = built
    n = idx.num_docs
    facet = [(i, None if i % 11 == 0 else f"f{i % 7}") for i in range(n)]
    facets = build_doc_facets(
        spark, spark.createDataFrame(facet, "doc_id long, f string"), n,
        "f")
    vals = np.random.default_rng(3).integers(0, 50, n).astype(np.int64)
    vals[::9] = _DV_MISSING
    parents = np.arange(n, dtype=np.int64) // 3
    parents[::13] = _DV_MISSING
    return facets, vals, parents


def _op_cases(built, sidecars):
    """op name -> (fn(spark, handle), query_id of the batch's last query,
    whose terms are all absent). Term batches also hold an empty query."""
    _, idx, queries, df = built
    facets, vals, parents = sidecars
    absent = [10**9, 10**9 + 1]
    qs = queries + [absent]
    t = sorted(df, key=lambda x: -df[x])
    mask = np.random.default_rng(11).random(idx.num_docs) < 0.7
    specs = [BoolSpec(must=[t[0]], should=[t[5], t[9]]),
             BoolSpec(should=[t[1], t[2], t[40]], min_should=2),
             BoolSpec(must=[t[3], 10**9], should=[t[4]]),  # absent must
             BoolSpec(must=[t[2]], should=[t[7]], must_not=[t[6]]),
             BoolSpec(should=absent)]
    pairs = [([t[0], t[4]], [t[8]]), ([t[1]], [t[1]]), ([t[2]], [10**9]),
             ([t[9], 10**9], [t[3], t[30]]), (absent, [t[0]])]
    cases = {
        "lm": lambda sp, h: run_queries_lm(sp, h, qs, k=5),
        "boolean_and": lambda sp, h: run_boolean_queries(sp, h, qs, "and"),
        "boolean_or_filter": lambda sp, h: run_boolean_queries(
            sp, h, qs, "or", doc_filter=DocMask.from_mask(mask)),
        "boolean_and_not": lambda sp, h: run_boolean_queries(
            sp, h, pairs, "and_not"),
        "bool": lambda sp, h: run_bool_queries(sp, h, specs, k=5),
        "boosting": lambda sp, h: run_boosting_queries(sp, h, pairs, k=5),
        "terms_set": lambda sp, h: run_terms_set_queries(
            sp, h, qs, np.where(vals == _DV_MISSING, 1, vals % 3), k=5),
        "facet": lambda sp, h: run_facet_queries(sp, h, qs, facets,
                                                 mode="or"),
        "collapsed": lambda sp, h: run_collapsed_queries(sp, h, qs, facets,
                                                         k=4),
        "grouped": lambda sp, h: run_grouped_topk(sp, h, qs, facets,
                                                  k_groups=3, per_group=2),
        "range_facet": lambda sp, h: run_range_facet_queries(
            sp, h, qs, vals, [0, 10, 25, 50], mode="or"),
        "stats": lambda sp, h: run_stats_queries(sp, h, qs, vals,
                                                 extended=True),
        "cardinality": lambda sp, h: run_cardinality_queries(
            sp, h, qs, vals, mode="or"),
        "percentile": lambda sp, h: run_percentile_queries(
            sp, h, qs, vals, mode="or"),
        "function_score": lambda sp, h: run_boosted_queries(
            sp, h, qs, vals, factor=0.5, k=5),
        "sorted": lambda sp, h: run_sorted_queries(sp, h, qs, vals, k=5,
                                                   mode="or"),
        "nested": lambda sp, h: run_nested_queries(sp, h, qs, parents,
                                                   score_mode="avg", k=5),
        "after": lambda sp, h: run_queries_after(
            sp, h, qs, [None, (10**18, 0), None, (0, 10**9)], k=5),
        "explain": lambda sp, h: run_queries_explain(sp, h, qs, k=3),
    }
    # specs and pairs both end in their all-absent query
    return {op: (fn, len(specs) - 1 if op in ("bool", "boolean_and_not",
                                                "boosting") else len(queries))
            for op, fn in cases.items()}


OPS = ["lm", "boolean_and", "boolean_or_filter", "boolean_and_not", "bool",
       "boosting", "terms_set", "facet", "collapsed", "grouped",
       "range_facet", "stats", "cardinality", "percentile",
       "function_score", "sorted", "nested", "after", "explain"]


def _all_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("op", OPS)
def test_op_pinned_matches_fallback(spark, built, sidecars, monkeypatch,
                                    op):
    """Every op on the one execute step returns the same rows pinned and
    through the shuffle fallback; the all-absent query returns none on
    either path."""
    d, idx, _, _ = built
    fn, absent = _op_cases(built, sidecars)[op]
    pinned = _all_rows(fn(spark, idx))
    fb = _fallback_handle(spark, d, monkeypatch)
    fallback = _all_rows(fn(spark, fb))
    assert pinned, "the batch must return rows"
    assert pinned == fallback
    assert not [r for r in pinned if r[0] == absent]
    if op == "bool":  # spec 2's must clause holds an absent term
        assert not [r for r in pinned if r[0] == 2]
    if op == "boolean_and_not":  # pair 1 is x AND NOT x
        assert not [r for r in pinned if r[0] == 1]


def test_op_deletes_read_per_call(spark, built, monkeypatch, tmp_path):
    """delete_docs between two run_bool_queries calls on one handle: the
    second call excludes the new deletes, pinned and fallback alike."""
    d, _, _, df = built
    t = sorted(df, key=lambda x: -df[x])
    specs = [BoolSpec(should=[t[0], t[1]]), BoolSpec(must=[t[2]],
                                                     should=[t[3]])]
    got = {}
    for path in ("pinned", "fallback"):
        copy = str(tmp_path / path)
        shutil.copytree(d, copy)
        if path == "fallback":
            h = _fallback_handle(spark, copy, monkeypatch)
        else:
            h = load_index(spark, copy)
        first = _all_rows(run_bool_queries(spark, h, specs, k=8))
        assert (Q._index_pin(spark, h) is None) == (path == "fallback")
        gone = sorted({doc for _, rank, doc, _ in first if rank <= 2})
        assert delete_docs(spark, h, gone) == len(gone)
        got[path] = again = _all_rows(run_bool_queries(spark, h, specs,
                                                       k=8))
        assert again and not {doc for _, _, doc, _ in again} & set(gone)
    assert got["pinned"] == got["fallback"]


def test_pinned_plan_has_no_exchange(spark, built, sidecars, pos_built,
                                     monkeypatch):
    """A pinned call is one mapInArrow over a range: no scan, no
    exchange, no grouped applyInPandas — those stay in the fallback.
    run_facet_queries then joins its facet dimension: a broadcast of that
    small table is the only exchange its pinned plan has. The positional
    run_phrase_queries plans the same way on its positions pin."""
    d, idx, queries, _ = built
    pd_, pidx, phrases = pos_built[0], pos_built[1], pos_built[2]
    facets = sidecars[0]
    specs = [BoolSpec(must=[queries[0][0]], should=queries[1])]

    def plans(h, ph):
        return [df._jdf.queryExecution().executedPlan().toString()
                for df in (run_queries(spark, h, queries),
                           run_bool_queries(spark, h, specs),
                           run_facet_queries(spark, h, queries, facets),
                           run_phrase_queries(spark, ph, phrases))]

    q, b, f, p = plans(idx, pidx)
    for plan in (q, b, f, p):
        assert "MapInArrow" in plan
        assert "FlatMapGroupsInPandas" not in plan
    assert "Exchange" not in q and "Exchange" not in b
    assert "Exchange" not in p
    assert f.count("Exchange") == f.count("BroadcastExchange")
    fb = _fallback_handle(spark, d, monkeypatch)
    for plan in plans(fb, load_index(spark, pd_)):
        assert "FlatMapGroupsInPandas" in plan and "Exchange" in plan


def test_concurrent_calls_leave_session_conf(spark, built, monkeypatch):
    """Two threads with different batch sizes, on a fresh handle whose
    pin they race to build: each result equals its single-threaded run,
    the handle pins once, and no session conf changes."""
    d, idx, queries, _ = built
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    batches = [queries[:3], queries[3:]]
    want = [_rows(run_queries(spark, idx, b, algo="block_max_wand_vec"))
            for b in batches]
    h = load_index(spark, d)
    collect = Q._collect_segments
    pins: list = []
    monkeypatch.setattr(Q, "_collect_segments",
                        lambda *a: pins.append(1) or collect(*a))
    got: dict = {}
    errors: list = []

    def client(i):
        try:
            got[i] = [_rows(run_queries(spark, h, batches[i],
                                        algo="block_max_wand_vec"))
                      for _ in range(3)]
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors
    assert len(pins) == 1
    for i in (0, 1):
        assert got[i] == [want[i]] * 3
    assert spark.conf.get(key) == before


def test_tombstones_read_per_call(spark, built, tmp_path):
    """delete_docs on a handle whose pin is built: the next run_queries
    on that same handle excludes the newly deleted docs."""
    d, _, queries, _ = built
    copy = str(tmp_path / "idx")
    shutil.copytree(d, copy)
    h = load_index(spark, copy)
    first = _rows(run_queries(spark, h, queries))
    assert Q._index_pin(spark, h) is not None
    gone = sorted({doc for _, rank, doc, _ in first if rank <= 2})
    assert delete_docs(spark, h, gone) == len(gone)
    again = _rows(run_queries(spark, h, queries))
    assert not {doc for _, _, doc, _ in again} & set(gone)
    # equal to a handle that pins after the delete
    assert again == _rows(run_queries(spark, load_index(spark, copy),
                                      queries))


@pytest.fixture(scope="module")
def pos_built(spark, tmp_path_factory):
    """A positional index whose head terms span several segment parts,
    the (doc_id, text) corpus it was built from, and phrases cut from
    its documents plus a repeated term, an absent term and an empty
    phrase."""
    d = str(tmp_path_factory.mktemp("pinpos") / "idx")
    pages = generate_pages(spark, N_DOCS, seed=29)
    idx = build_index(spark, pages, d,
                      IndexConfig(num_buckets=2, input_tag="pinpos",
                                  seg_chunk=64, skew_chunk=32,
                                  positions=True))
    docs = assign_doc_ids(pages.select("url", "text"))
    inv = {r.term: r.term_id for r in idx.vocab().collect()}
    rng = np.random.default_rng(13)
    phrases = []
    for r in tokenize(docs).select("tokens").limit(12).collect():
        i = int(rng.integers(0, max(1, len(r.tokens) - 3)))
        phrases.append([inv[t] for t in r.tokens[i:i + int(
            rng.integers(2, 4))]])
    phrases += [[0, 0], [3, 10**9], [], [1]]
    return d, idx, phrases, docs.select("doc_id", "text")


def _pos_cases(pos_built):
    """op name -> (fn(spark, handle), query_ids that must return no row)."""
    _, idx, phrases, docs = pos_built
    mask = DocMask.from_mask(
        np.random.default_rng(17).random(idx.num_docs) < 0.7)
    pairs = [p[:2] for p in phrases if len(p) >= 2] + [[2, 2], [10**9, 0]]
    none = [len(phrases) - 3, len(phrases) - 2]  # the absent, the empty
    return {
        "phrase": (lambda sp, h: run_phrase_queries(sp, h, phrases), none),
        "phrase_filter": (lambda sp, h: run_phrase_queries(
            sp, h, phrases, doc_filter=mask), none),
        "phrase_ranked": (lambda sp, h: run_phrase_queries_ranked(
            sp, h, phrases, k=5, doc_filter=mask), none),
        "proximity": (lambda sp, h: run_proximity_queries(
            sp, h, pairs, window=4), [len(pairs) - 1]),
        "span_near": (lambda sp, h: run_span_near_queries(
            sp, h, phrases, slop=2), none),
        "span_near_unordered": (lambda sp, h: run_span_near_queries(
            sp, h, phrases, slop=1, in_order=False, doc_filter=mask),
            none),
        "kwic": (lambda sp, h: run_kwic_queries(
            sp, h, docs, [0, 10**9, 5, 40]), [1]),
        "highlight": (lambda sp, h: run_highlight_queries(
            sp, h, docs, phrases, k=3), [len(phrases) - 2]),
    }


POS_OPS = ["phrase", "phrase_filter", "phrase_ranked", "proximity",
           "span_near", "span_near_unordered", "kwic", "highlight"]


@pytest.mark.parametrize("op", POS_OPS)
def test_positional_op_pinned_matches_fallback(spark, pos_built,
                                               monkeypatch, op):
    """Every positional op returns the same rows on the handle's
    positions pin and through the shuffle fallback; a phrase with an
    absent term and an empty phrase return none on either path."""
    d, idx = pos_built[0], pos_built[1]
    fn, none = _pos_cases(pos_built)[op]
    pinned = _all_rows(fn(spark, idx))
    assert Q._index_pin(spark, idx, positions=True) is not None
    fb = _fallback_handle(spark, d, monkeypatch)
    fallback = _all_rows(fn(spark, fb))
    assert Q._index_pin(spark, fb, positions=True) is None
    assert pinned, "the batch must return rows"
    assert pinned == fallback
    assert not [r for r in pinned if r[0] in none]


def test_positional_deletes_read_per_call(spark, pos_built, monkeypatch,
                                          tmp_path):
    """delete_docs between two run_phrase_queries calls on one handle:
    the second call excludes the new deletes, pinned and fallback
    alike."""
    d, _, phrases, _ = pos_built
    got = {}
    for path in ("pinned", "fallback"):
        copy = str(tmp_path / path)
        shutil.copytree(d, copy)
        if path == "fallback":
            h = _fallback_handle(spark, copy, monkeypatch)
        else:
            h = load_index(spark, copy)
        first = _all_rows(run_phrase_queries(spark, h, phrases))
        assert ((Q._index_pin(spark, h, positions=True) is None)
                == (path == "fallback"))
        gone = sorted({doc for _, doc, _ in first})[::3]
        assert gone and delete_docs(spark, h, gone) == len(gone)
        got[path] = again = _all_rows(run_phrase_queries(spark, h,
                                                         phrases))
        assert again and not {doc for _, doc, _ in again} & set(gone)
    assert got["pinned"] == got["fallback"]


def test_highlight_retrieves_once(spark, pos_built):
    """run_highlight_queries collects its retrieval once and carries each
    candidate's rank and score_q in the query's item: besides the
    documents frame's own, the result's plan holds the occurrence pass's
    mapInArrow only."""
    _, idx, phrases, docs = pos_built
    df = run_highlight_queries(spark, idx, docs, phrases[:2], k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the documents frame brings its own (doc-id assignment)
    own = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 + own.count("MapInArrow")
    assert plan.count("MapInPandas") == own.count("MapInPandas")
    rows = df.collect()
    assert rows and all(1 <= r["rank"] <= 3 for r in rows)


def test_one_segment_pin_per_positional_handle(spark, pos_built,
                                               monkeypatch):
    """BM25 -> phrase -> BM25 on one handle: the positions pin replaces
    the BM25 pin (unpersisted, not destroyed) and serves the second BM25
    call, so one segment broadcast is live; every call's rows equal a
    fresh handle's."""
    d, _, phrases, _ = pos_built
    queries = [p for p in phrases if p]
    h = load_index(spark, d)
    first = _rows(run_queries(spark, h, queries))
    bm25_pin = Q._index_pin(spark, h)
    unpersisted = []
    unpersist = bm25_pin.seg_bc.unpersist
    monkeypatch.setattr(bm25_pin.seg_bc, "unpersist",
                        lambda *a, **kw: (unpersisted.append(a),
                                          unpersist(*a, **kw)))
    phrase = _all_rows(run_phrase_queries(spark, h, phrases))
    again = _rows(run_queries(spark, h, queries))
    pos_pin = Q._index_pin(spark, h, positions=True)
    assert pos_pin is not None and pos_pin is not bm25_pin
    assert Q._index_pin(spark, h) is pos_pin
    assert len(unpersisted) == 1
    assert [v for v in h._bc_cache.values()
            if isinstance(v, Q._Pin)] == [pos_pin]
    assert first and first == again
    assert first == _rows(run_queries(spark, load_index(spark, d), queries))
    assert phrase == _all_rows(run_phrase_queries(
        spark, load_index(spark, d), phrases))


def _job_shape(spark, run):
    """run()'s result and the (jobs, tasks) of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"shape-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc._jsc.clearJobGroup()
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:  # the status store fills from an asynchronous listener
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if (jobs and all(j is not None and j.status == "SUCCEEDED"
                         for j in jobs)) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    tasks = sum(st.getStageInfo(s).numTasks for j in jobs
                for s in j.stageIds)
    return out, len(jobs), tasks


def test_task_count_sized_by_work(spark, built, monkeypatch):
    """A light 16-query call runs as one job of one task. A batch whose
    LPT cost exceeds 4 x TASK_MIN_COST runs one task per core, up to 4,
    and serve's partitions=2 still caps it at 2. All three return the
    same rows."""
    _, idx, queries, _ = built
    qs = queries[:16]
    srv = Q.BroadcastQueryServer(spark, idx)
    _rows(run_queries(spark, idx, qs))  # pins built outside the count
    light, jobs, tasks = _job_shape(
        spark, lambda: _rows(run_queries(spark, idx, qs)))
    assert (jobs, tasks) == (1, 1)
    pin = Q._index_pin(spark, idx)
    cost = sum(sum(pin.term_cost.get(t, 0) for t in set(q)) + 64
               for q in qs)
    assert cost < Q.TASK_MIN_COST
    monkeypatch.setattr(Q, "TASK_MIN_COST", cost // 5)
    heavy, jobs, tasks = _job_shape(
        spark, lambda: _rows(run_queries(spark, idx, qs)))
    assert (jobs, tasks) == (1, min(4, spark.sparkContext.defaultParallelism))
    capped, jobs, tasks = _job_shape(
        spark, lambda: _rows(srv.serve(qs, partitions=2)))
    assert (jobs, tasks) == (1, 2)
    assert light and light == heavy == capped
