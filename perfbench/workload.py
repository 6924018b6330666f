"""Seeded workload inputs, the exact-result oracle and the output checks.

Everything a run sends is a function of ``--seed``: the query pool
(document-frequency weighted, 1-5 terms, drawn over the vocabulary in
term-id order) and the sequence of per-call batches drawn from it. The
corpus is a fixture: the engine's deterministic Zipfian page generator at
``CORPUS_SEED``, indexed once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bench import make_query_workload
from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index
from dint_spark.queries import block_max_wand_vec, build_cursors, ranked_or_vec

NUM_DOCS = 10_000       # ~0.9M postings: the decoded hot set fits every
                        # worker's decode LRU (the cache-fits case)
NUM_BUCKETS = 4
CORPUS_SEED = 0         # the corpus is a fixture; --seed draws the queries
TOPK = 10
POOL_SIZE = 1_000       # one serve call sends the whole pool, reordered
REPLAY = 200            # queries replayed on the driver in the traced run
SEARCH_BATCH = 16       # one shuffle-path call sends this many queries

# the segment columns the BM25 cursors read
SEG_COLS = ["term_id", "seg_id", "n", "block_maxs", "block_max_scores",
            "endpoints", "freq_offsets", "payload", "max_weight"]


def query_pool(vocab_pdf: pd.DataFrame, seed: int,
               size: int = POOL_SIZE) -> list[list[int]]:
    """The run's query pool; depends only on the vocabulary and the seed."""
    vocab = vocab_pdf.sort_values("term_id").reset_index(drop=True)
    return make_query_workload(vocab, size, seed)


def call_batch(workload: str, seed: int, call: int,
               pool_size: int = POOL_SIZE) -> np.ndarray:
    """Pool indices sent by the ``call``-th call of a run."""
    rng = np.random.default_rng([seed, call])
    if workload == "serve":
        return rng.permutation(pool_size)
    return rng.choice(pool_size, SEARCH_BATCH, replace=False)


def segment_rows(index, term_ids) -> dict[int, pd.DataFrame]:
    """The segment rows of ``term_ids``, collected to the driver."""
    pdf = (index.segments
           .where(F.col("term_id").isin(sorted({int(t) for t in term_ids})))
           .select(*SEG_COLS).toPandas())
    return {int(t): g for t, g in pdf.groupby("term_id")}


def query_cursors(index, segs: dict, terms) -> list:
    """Cursors of one query through the public ``build_cursors``."""
    qf = Counter(int(t) for t in terms)
    rows = pd.concat([segs[t].assign(qf=c) for t, c in sorted(qf.items())
                      if t in segs], ignore_index=True)
    return build_cursors(rows, index.docs_dict, index.freqs_dict,
                         index.num_docs)


def query_topk(index, segs: dict, terms, kernel, k: int = TOPK):
    """Top-k of one query on the driver."""
    return kernel(query_cursors(index, segs, terms), index.norm_lens,
                  index.num_docs, k)


class ExactOracle:
    """Exhaustive (no pruning) top-k of pool queries, computed on first use
    and kept: ``oracle[p]`` is (docs, scores) of pool query ``p``."""

    def __init__(self, index, segs: dict, pool):
        self.index, self.segs, self.pool = index, segs, pool
        self._top: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.seconds = 0.0

    def answered(self) -> list[int]:
        """Pool indices answered so far, in the order they were first sent."""
        return list(self._top)

    def __getitem__(self, p: int) -> tuple[np.ndarray, np.ndarray]:
        hit = self._top.get(p)
        if hit is None:
            t0 = time.perf_counter()
            top = query_topk(self.index, self.segs, self.pool[p],
                             ranked_or_vec)
            hit = self._top[p] = (
                np.array([d for d, _ in top], dtype=np.int64),
                np.array([s for _, s in top], dtype=np.float64))
            self.seconds += time.perf_counter() - t0
        return hit


def replay(index, segs: dict, pool, indices) -> dict:
    """Single-core replay on the driver of the pool queries ``indices``:
    cursor construction, the BMW kernel and the exhaustive kernel are timed
    apart, per query. Run it after the oracle has decoded these queries'
    lists, so the decode cache is as warm as the workers' caches."""
    cur = bmw = exh = 0.0
    postings = 0
    for p in indices:
        terms = pool[p]
        postings += sum(int(segs[t]["n"].sum()) for t in set(terms))
        t0 = time.perf_counter()
        cursors = query_cursors(index, segs, terms)
        t1 = time.perf_counter()
        block_max_wand_vec(cursors, index.norm_lens, index.num_docs, TOPK)
        t2 = time.perf_counter()
        cursors = query_cursors(index, segs, terms)
        t3 = time.perf_counter()
        ranked_or_vec(cursors, index.norm_lens, index.num_docs, TOPK)
        t4 = time.perf_counter()
        cur += t1 - t0
        bmw += t2 - t1
        exh += t4 - t3
    n = len(indices)
    return {"queries.cursor_ms_per_query": cur * 1e3 / n,
            "queries.kernel_ms_per_query": bmw * 1e3 / n,
            "queries.exhaustive_ms_per_query": exh * 1e3 / n,
            "queries.bmw_speedup": exh / bmw,
            "queries.postings_per_query": postings / n}


def expected_rows(oracle, batch) -> dict[str, np.ndarray]:
    """The (query_id, rank, doc_id, score) rows a correct call returns,
    where query_id is the position of the query within the batch."""
    qid, rank, docs, scores = [], [], [], []
    for q, p in enumerate(batch):
        d, s = oracle[int(p)]
        qid.append(np.full(len(d), q, dtype=np.int64))
        rank.append(np.arange(1, len(d) + 1, dtype=np.int64))
        docs.append(d)
        scores.append(s)
    return {"query_id": np.concatenate(qid), "rank": np.concatenate(rank),
            "doc_id": np.concatenate(docs), "score": np.concatenate(scores)}


def check_topk(result: pd.DataFrame, oracle, batch) -> bool:
    """True when ``result`` holds exactly the oracle's ranked (doc, score)
    rows for every query of ``batch`` -- same ids, ranks and bit-equal
    scores, nothing missing and nothing extra."""
    exp = expected_rows(oracle, batch)
    if len(result) != len(exp["doc_id"]):
        return False
    got = result.sort_values(["query_id", "rank"])
    return all(np.array_equal(got[c].to_numpy(), exp[c]) for c in exp)


def corpus_tally(pages) -> dict:
    """Independent count of the generated corpus with plain Spark SQL:
    documents, distinct (term, doc) pairs and tokens. The generated text
    is lowercase alphanumeric words joined by single spaces."""
    toks = F.split(F.col("text"), " ")
    r = pages.agg(F.count(F.lit(1)).alias("docs"),
                  F.sum(F.size(F.array_distinct(toks))).alias("postings"),
                  F.sum(F.size(toks)).alias("tokens")).collect()[0]
    return {k: int(r[k]) for k in ("docs", "postings", "tokens")}


def check_readback(tally: dict, num_docs: int, postings: int,
                   freq_sum: int) -> bool:
    """Read-back postings and summed freqs equal the corpus tally."""
    return (num_docs == tally["docs"] and postings == tally["postings"]
            and freq_sum == tally["tokens"])


def build_corpus_index(spark, out_dir: str) -> dict:
    """Build the benchmark index at ``out_dir``; returns the corpus tally."""
    pages = generate_pages(spark, NUM_DOCS, seed=CORPUS_SEED)
    build_index(spark, pages, out_dir,
                IndexConfig(num_buckets=NUM_BUCKETS, input_tag="perfbench"))
    return corpus_tally(pages)


def fixture_key(root: str) -> str:
    """Digest of everything the fixture index depends on: the engine's
    sources and this module (which fixes the corpus and index settings)."""
    h = hashlib.sha256()
    files = [os.path.abspath(__file__)]
    for d, _, names in os.walk(os.path.join(root, "dint_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def fixture_index(spark, cache_dir: str, work: str
                  ) -> tuple[str, dict, float | None]:
    """The benchmark index, built once per checkout and engine version
    (like a compiled benchmark's build) and reused by later runs.
    Returns (index dir, corpus tally, build seconds or None if reused)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(cache_dir, f"fixture-{fixture_key(root)}")
    tally_path = os.path.join(path, "tally.json")
    built_s = None
    if not os.path.exists(tally_path):
        tmp = os.path.join(work, "fixture")
        t0 = time.perf_counter()
        tally = build_corpus_index(spark, tmp)
        built_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "tally.json"), "w") as f:
            json.dump(tally, f)
        try:  # publish atomically; a concurrent run may have won the race
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(tally_path) as f:
        return path, json.load(f), built_s
