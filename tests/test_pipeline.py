"""End-to-end Spark pipeline tests: build -> decode-verify -> query ->
resume (FIXTURES.md F1/F5)."""

import json
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index, load_index
from dint_spark.queries import decoded_postings, run_queries
from dint_spark.tokenizer import tokenize

IDX_DIR = "/tmp/dint_spark_test_idx"
N_DOCS = 500


@pytest.fixture(scope="module")
def index(spark):
    shutil.rmtree(IDX_DIR, ignore_errors=True)
    pages = generate_pages(spark, N_DOCS, seed=42)
    idx = build_index(spark, pages, IDX_DIR,
                      IndexConfig(num_buckets=4, input_tag="test500"))
    return idx


def test_tokenizer_jvm_equals_nfc(spark):
    pages = generate_pages(spark, 50, seed=42)
    a = tokenize(pages, nfc=False).select("url", "tokens")
    b = tokenize(pages, nfc=True).select("url", F.col("tokens").alias("tokens_nfc"))
    diff = a.join(b, "url").where(F.col("tokens") != F.col("tokens_nfc")).count()
    assert diff == 0


def test_corpus_deterministic(spark):
    h1 = (generate_pages(spark, 100, seed=42, partitions=4)
          .agg(F.expr("bit_xor(xxhash64(url, text, lang))").alias("h")).collect()[0]["h"])
    h2 = (generate_pages(spark, 100, seed=42, partitions=7)
          .agg(F.expr("bit_xor(xxhash64(url, text, lang))").alias("h")).collect()[0]["h"])
    assert h1 == h2  # partitioning-independent content


def test_bpi_in_reference_band(index):
    m = index.metrics()
    assert 2.0 < m["docs_bpi"] < 8.0, m
    assert 0.5 < m["freqs_bpi"] < 4.0, m


def test_decode_verify_matches_postings(spark, index):
    """check_index: full decode == the uncompressed postings checkpoint."""
    dec = decoded_postings(index)
    post = spark.read.parquet(f"{IDX_DIR}/postings.parquet")
    flat = post.select(
        "term_id", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("p")
    ).select("term_id", F.col("p.doc_ids").alias("doc_id"),
             F.col("p.freqs").cast("long").alias("freq"))
    assert dec.count() == flat.count()
    assert dec.exceptAll(flat).count() == 0
    assert flat.exceptAll(dec).count() == 0


def test_distributed_queries_match_driver_kernels(spark, index):
    """run_queries (applyInPandas) == direct driver-side kernel calls."""
    from dint_spark.queries import Cursor, _qtw
    from oracle import ranked_or

    vocab = index.vocab().orderBy("term_id").limit(200).collect()
    tids = [r["term_id"] for r in vocab]
    queries = [[tids[0]], [tids[1], tids[5]], [tids[2], tids[10], tids[50]],
               [tids[3], tids[3], tids[30]]]
    got = (run_queries(spark, index, queries, algo="block_max_wand", k=10)
           .toPandas().sort_values(["query_id", "rank"]))

    segs = {r["term_id"]: r for r in
            index.segments.where(F.col("term_id").isin(
                [t for q in queries for t in q])).collect()}
    norm = index.norm_lens
    for qid, q in enumerate(queries):
        terms, qfs = np.unique(q, return_counts=True)
        cursors = []
        for t, qf in zip(terms, qfs):
            s = segs[int(t)]
            c = Cursor(s["n"], s["block_maxs"], s["endpoints"],
                       s["freq_offsets"], s["payload"],
                       index.docs_dict, index.freqs_dict,
                       block_max_scores=s["block_max_scores"], term_id=int(t))
            c.q_weight = _qtw(int(qf), s["n"], index.num_docs, np.float32)
            cursors.append(c)
        expect = ranked_or(cursors, norm, index.num_docs, 10)
        sub = got[got.query_id == qid]
        assert [int(d) for d in sub.doc_id] == [d for d, _ in expect]
        assert np.allclose(sub.score.to_numpy(),
                           np.array([s for _, s in expect]), rtol=0, atol=0)


def test_resume_from_partial_checkpoint(spark, index):
    """F5: kill after 50% of buckets -> resume -> identical index + results."""
    queries = [[0, 1, 2], [3], [5, 9]]
    before = (run_queries(spark, index, queries, algo="ranked_or", k=10)
              .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))

    man = json.load(open(f"{IDX_DIR}/manifest.json"))
    for b in ("1", "3"):
        del man["buckets"][b]
        shutil.rmtree(f"{IDX_DIR}/segments/bucket={b}")
    json.dump(man, open(f"{IDX_DIR}/manifest.json", "w"))

    pages = generate_pages(spark, N_DOCS, seed=42)
    idx2 = build_index(spark, pages, IDX_DIR,
                       IndexConfig(num_buckets=4, input_tag="test500"))
    after = (run_queries(spark, idx2, queries, algo="ranked_or", k=10)
             .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert before.equals(after)
    man2 = json.load(open(f"{IDX_DIR}/manifest.json"))
    assert set(man2["buckets"]) == {"0", "1", "2", "3"}
    for v in man2["buckets"].values():
        assert v["lineage"]["dict_docs"] == index.docs_dict.content_hash()


def test_sampled_stats_build_roundtrips_exactly(spark, index):
    """stats_sample_mod learns the dictionary from a 1/S list sample; the
    dictionary differs but decode must still be exact and queries identical
    to the full-stats index (correctness is dict-agnostic)."""
    out = "/tmp/dint_spark_test_idx_sm"
    shutil.rmtree(out, ignore_errors=True)
    pages = generate_pages(spark, N_DOCS, seed=42)
    idx2 = build_index(spark, pages, out,
                       IndexConfig(num_buckets=4, input_tag="test500",
                                   stats_sample_mod=4))
    dec = decoded_postings(idx2)
    post = spark.read.parquet(f"{out}/postings.parquet")
    flat = post.select(
        "term_id", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("p")
    ).select("term_id", F.col("p.doc_ids").alias("doc_id"),
             F.col("p.freqs").cast("long").alias("freq"))
    assert dec.exceptAll(flat).count() == 0
    assert flat.exceptAll(dec).count() == 0
    queries = [[0, 1, 2], [3], [5, 9]]
    a = (run_queries(spark, index, queries, algo="block_max_wand", k=10)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (run_queries(spark, idx2, queries, algo="block_max_wand", k=10)
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert a.equals(b)
    shutil.rmtree(out, ignore_errors=True)


def test_resume_from_pre_observation_manifest(spark, index):
    """Manifests written before the observe-on-write change lack
    num_docs/sum_len/num_terms/total_postings in the corpus step; resume
    must fall back to re-deriving them and produce identical results."""
    queries = [[0, 1, 2], [3], [5, 9]]
    before = (run_queries(spark, index, queries, algo="ranked_or", k=10)
              .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))

    man = json.load(open(f"{IDX_DIR}/manifest.json"))
    for k in ("num_docs", "sum_len", "num_terms", "total_postings"):
        man["steps"]["corpus"].pop(k, None)
    del man["buckets"]["2"]
    shutil.rmtree(f"{IDX_DIR}/segments/bucket=2")
    json.dump(man, open(f"{IDX_DIR}/manifest.json", "w"))

    pages = generate_pages(spark, N_DOCS, seed=42)
    idx2 = build_index(spark, pages, IDX_DIR,
                       IndexConfig(num_buckets=4, input_tag="test500"))
    after = (run_queries(spark, idx2, queries, algo="ranked_or", k=10)
             .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert before.equals(after)
    assert set(json.load(open(f"{IDX_DIR}/manifest.json"))["buckets"]) == {
        "0", "1", "2", "3"}


def test_config_mismatch_rejected(spark, index):
    pages = generate_pages(spark, N_DOCS, seed=42)
    with pytest.raises(ValueError):
        build_index(spark, pages, IDX_DIR,
                    IndexConfig(num_buckets=8, input_tag="other"))


def test_broadcast_serving_path_agrees(spark, index):
    """A term-subset BroadcastQueryServer (document-sharded serving
    pattern, no payload shuffle) must equal run_queries exactly."""
    from dint_spark.queries import BroadcastQueryServer

    vocab = index.vocab().orderBy("term_id").limit(500).collect()
    tids = [r["term_id"] for r in vocab]
    import numpy as np
    rng = np.random.default_rng(13)
    queries = [[int(t) for t in rng.choice(tids, size=int(rng.integers(1, 6)))]
               for _ in range(40)]
    queries.append([tids[0]])
    queries.append([10**9])  # unknown term -> no rows
    a = sorted(run_queries(spark, index, queries,
                           algo="block_max_wand_vec", k=10).collect())
    srv = BroadcastQueryServer(
        spark, index, terms=sorted({t for ts in queries for t in ts}))
    b = sorted(srv.serve(queries, algo="block_max_wand_vec", k=10).collect())
    srv.close()
    assert a == b


def test_broadcast_server_pins_once_serves_many(spark, index):
    """BroadcastQueryServer: whole-index pin, multiple batches, each equal
    to the shuffle path; batches after the first reuse the pinned
    broadcast (no re-collect)."""
    from dint_spark.queries import BroadcastQueryServer

    vocab = index.vocab().orderBy("term_id").limit(500).collect()
    tids = [r["term_id"] for r in vocab]
    import numpy as np
    rng = np.random.default_rng(29)
    srv = BroadcastQueryServer(spark, index)  # terms=None: whole index
    for batch in range(3):
        queries = [[int(t) for t in
                    rng.choice(tids, size=int(rng.integers(1, 6)))]
                   for _ in range(15)]
        a = sorted(run_queries(spark, index, queries,
                               algo="block_max_wand_vec", k=10).collect())
        b = sorted(srv.serve(queries, algo="block_max_wand_vec",
                             k=10).collect())
        assert a == b, f"batch {batch}"
    # edge shapes of the LPT-binned layout: empty batch; batch smaller
    # than the core count; unknown terms; empty query; duplicate ids in
    # different bins impossible (original indices are the query ids)
    assert srv.serve([]).collect() == []
    small = [[tids[0]], [], [999_999_999], [tids[1], tids[1]]]
    a = sorted(run_queries(spark, index, small,
                           algo="block_max_wand_vec", k=10).collect())
    b = sorted(srv.serve(small, algo="block_max_wand_vec", k=10).collect())
    assert a == b
    srv.close()


def test_broadcast_budget_precheck(spark, index):
    """An oversized pin must raise BEFORE collecting (driver-safe)."""
    from dint_spark.queries import BroadcastQueryServer

    with pytest.raises(ValueError):
        BroadcastQueryServer(spark, index, max_broadcast_bytes=16)


def test_query_latency_protocol(spark, index):
    """queries.cpp:25-60 parity: warmup + timed runs per query op,
    avg/q50/q90/q95 microseconds, monotone quantiles, all positive."""
    from dint_spark.queries import query_latency_stats

    vocab = index.vocab().orderBy("term_id").limit(50).collect()
    tids = [r["term_id"] for r in vocab]
    queries = [[tids[0]], [tids[1], tids[5]], [tids[2], tids[9], tids[20]]]
    st = query_latency_stats(spark, index, queries, runs=2)
    assert st["n"] == len(queries) * 2
    assert 0 < st["q50_us"] <= st["q90_us"] <= st["q95_us"]
    assert st["avg_us"] > 0


def test_record_decode_metrics_per_bucket(spark, index):
    """North rule: decode-rate metrics persisted per partition. Decoding
    every bucket must (a) reproduce the encode-time list/posting counts,
    (b) persist rate + checksum per bucket into manifest.json, and (c)
    yield identical checksums on a second run (the integrity probe)."""
    import json

    stats = index.record_decode_metrics()
    assert set(stats) == {int(k) for k in index.manifest["buckets"]}
    m = json.load(open(IDX_DIR + "/manifest.json"))
    for k, meta in m["buckets"].items():
        d = meta["decode"]
        assert d["postings"] == meta["postings"]
        assert d["lists"] == meta["lists"]
        assert d["ints_per_sec_core"] > 0
        assert d["checksum"] == stats[int(k)]["checksum"]
    again = index.record_decode_metrics()
    assert {k: v["checksum"] for k, v in again.items()} == \
           {k: v["checksum"] for k, v in stats.items()}


def test_record_decode_metrics_detects_count_mismatch(spark, index):
    """A tampered encode-time posting count must be caught (stands in for
    a truncated/corrupted partition, which would decode short)."""
    import copy

    idx2 = load_index(spark, IDX_DIR)
    idx2.manifest = copy.deepcopy(idx2.manifest)
    first = next(iter(idx2.manifest["buckets"]))
    idx2.manifest["buckets"][first]["postings"] += 1
    with pytest.raises(ValueError, match="truncated or corrupted"):
        idx2.record_decode_metrics()
