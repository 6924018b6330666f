"""Docid sharding (round-2): a two-shard index over a split corpus must
return top-k (doc_id AND score) identical to the single-shard build —
per-shard kernels run with global (N, df, avg_len), so per-doc float32
scores are bit-equal and the shard merge reproduces the kernels' (score
desc, doc_id asc) tie-breaks."""

import logging
import os
import shutil

import pytest

from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index
from dint_spark.queries import decoded_postings, run_queries
from dint_spark.sharding import ShardedIndex, build_sharded_index, run_queries_sharded

N_DOCS = 360


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sharded")
    pages = generate_pages(spark, N_DOCS, seed=11)
    d1 = str(base / "single")
    d2 = str(base / "sharded")
    shutil.rmtree(d1, ignore_errors=True)
    shutil.rmtree(d2, ignore_errors=True)
    idx = build_index(spark, pages, d1,
                      IndexConfig(num_buckets=2, input_tag="single"))
    sidx = build_sharded_index(
        spark, pages, d2, num_shards=2,
        config=IndexConfig(num_buckets=2, input_tag="shard"))
    tid = idx.vocab().toPandas().sort_values("term_id")["term_id"].tolist()
    queries = [[tid[0]], [tid[0], tid[5]], [tid[1], tid[2], tid[3]],
               [tid[2], tid[2], tid[7]], [tid[0], tid[40], tid[200]]]
    return idx, sidx, queries


def _pdf(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_shard_layout(pair):
    _, sidx, _ = pair
    assert len(sidx.shards) == 2
    assert sidx.bases[0] == 0 and sidx.bases[-1] == N_DOCS
    # shard-local ids are dense from 0 (u32-safe per shard)
    for s in sidx.shards:
        assert s.num_docs < N_DOCS


def test_sharded_postings_cover_corpus(pair):
    idx, sidx, _ = pair
    single = _pdf(decoded_postings(idx), ["term_id", "doc_id"])
    import pandas as pd

    parts = []
    for s, shard in enumerate(sidx.shards):
        p = decoded_postings(shard).toPandas()
        p["doc_id"] += sidx.bases[s]
        parts.append(p)
    merged = (
        pd.concat(parts, ignore_index=True)
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    assert single.equals(merged)


@pytest.mark.parametrize("algo", ["ranked_or", "block_max_wand_vec",
                                  "maxscore"])
@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_sharded_topk_identical(pair, algo, dtype):
    idx, sidx, queries = pair
    spark = idx.spark
    k = ["query_id", "rank"]
    r1 = _pdf(run_queries(spark, idx, queries, algo=algo, k=10, dtype=dtype), k)
    r2 = _pdf(run_queries_sharded(spark, sidx, queries, algo=algo, k=10,
                                  dtype=dtype), k)
    assert r1.equals(r2)


def test_sharded_resume(pair, spark):
    _, sidx, _ = pair
    # reload from disk: manifest round-trips and shard handles rebuild
    re = ShardedIndex(spark, sidx.dir)
    assert re.num_docs == sidx.num_docs
    assert re.bases == sidx.bases


def test_sharded_resume_logs_rebuilt_shard(pair, spark, tmp_path, caplog):
    """A shard whose manifest.json does not parse is rebuilt, and the
    resume loop logs which shard and why."""
    _, sidx, queries = pair
    d = str(tmp_path / "copy")
    shutil.copytree(sidx.dir, d)
    with open(os.path.join(d, "shard=1", "manifest.json"), "w") as f:
        f.write("{not json")
    with caplog.at_level(logging.WARNING, logger="dint_spark.sharding"):
        rebuilt = build_sharded_index(
            spark, generate_pages(spark, N_DOCS, seed=11), d, num_shards=2,
            config=IndexConfig(num_buckets=2, input_tag="shard"))
    msgs = [r.getMessage() for r in caplog.records
            if r.name == "dint_spark.sharding"]
    assert len(msgs) == 1
    assert "shard 1" in msgs[0] and "JSONDecodeError" in msgs[0]
    k = ["query_id", "rank"]
    assert _pdf(run_queries_sharded(spark, rebuilt, queries), k).equals(
        _pdf(run_queries_sharded(spark, sidx, queries), k))


def test_sharded_filters_match_unsharded(spark, pair):
    """A GLOBAL allowlist routes to per-shard DocMasks (bitmaps stay
    document-partitioned, one packing job) and the filtered fan-out equals
    the unsharded filtered run. Runs BEFORE the deletes test (which
    mutates the fixture indexes)."""
    from dint_spark.queries import build_doc_filter
    from dint_spark.sharding import build_doc_filters_sharded

    idx, sidx, queries = pair
    allowed = spark.range(N_DOCS).where("id % 3 != 0") \
        .withColumnRenamed("id", "doc_id")
    dm = build_doc_filter(spark, allowed, idx.num_docs)
    dms = build_doc_filters_sharded(spark, sidx, allowed)
    assert len(dms) == len(sidx.shards)
    # per-shard bitmaps slice the global mask exactly
    import numpy as np
    glob = np.concatenate([m.mask for m in dms])
    assert np.array_equal(glob, dm.mask)
    a = _pdf(run_queries(spark, idx, queries, algo="block_max_wand_vec",
                         k=10, doc_filter=dm), ["query_id", "rank"])
    b = _pdf(run_queries_sharded(spark, sidx, queries,
                                 algo="block_max_wand_vec", k=10,
                                 doc_filters=dms), ["query_id", "rank"])
    assert len(a) and not (a.doc_id % 3 == 0).any()
    assert a.equals(b)
    with pytest.raises(ValueError, match="one DocMask per shard"):
        run_queries_sharded(spark, sidx, queries, doc_filters=[dm])


def test_sharded_deletes_match_unsharded(spark, pair):
    """Keep LAST in the module: tombstones mutate the fixture indexes.
    Global ids route to their owning shard; the fan-out then applies each
    shard's live mask, and results stay bit-identical to the unsharded
    tombstoned index (same stale global stats, same tie-breaks)."""
    from dint_spark.index import delete_docs
    from dint_spark.sharding import delete_docs_sharded

    idx, sidx, queries = pair
    dead = list(range(0, N_DOCS, 5))
    assert delete_docs(spark, idx, dead) == len(dead)
    assert delete_docs_sharded(spark, sidx, dead) == len(dead)
    assert delete_docs_sharded(spark, sidx, dead) == 0  # idempotent
    a = _pdf(run_queries(spark, idx, queries, algo="block_max_wand", k=10),
             ["query_id", "rank"])
    b = _pdf(run_queries_sharded(spark, sidx, queries,
                                 algo="block_max_wand", k=10),
             ["query_id", "rank"])
    assert len(a) and not (a.doc_id % 5 == 0).any()
    assert a.equals(b)


def test_decode_cache_keys_by_dictionary_content():
    """Regression (found by the 4M/4-shard gate): two shards' payloads for
    one term can be byte-identical dictionary CODES — e.g. both encode a
    single-posting list as the same one-codeword byte — that decode to
    different postings under each shard's learned dictionary. The worker
    decode LRU must key by dictionary content, not payload bytes alone,
    or one shard's pinned server cross-serves another shard's postings."""
    import numpy as np

    from dint_spark.dint.codec import encode_list
    from dint_spark.queries import Cursor, _cache_key, _cached_full_decode
    from fixtures import build_dicts

    d1, f1 = build_dicts({0: (np.array([1803]), np.array([1]))})
    d2, f2 = build_dicts({0: (np.array([801]), np.array([1]))})
    p1, bm1, ep1, fo1 = encode_list(np.array([1803]), np.array([1]), d1, f1)
    p2, bm2, ep2, fo2 = encode_list(np.array([801]), np.array([1]), d2, f2)
    assert p1 == p2, "fixture must reproduce the byte-identical payloads"

    c1 = Cursor(1, bm1, ep1, fo1, p1, d1, f1, term_id=42)
    c2 = Cursor(1, bm2, ep2, fo2, p2, d2, f2, term_id=42)
    assert _cache_key(c1) != _cache_key(c2)
    docs1, _ = _cached_full_decode(c1)   # populate the LRU
    docs2, _ = _cached_full_decode(c2)   # must NOT alias c1's entry
    assert docs1.tolist() == [1803]
    assert docs2.tolist() == [801]
