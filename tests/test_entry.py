"""Driver-contract smoke + correctness-gate replica at sf0.001 (the real
driver runs the full gate at sf0.01; tests keep runtime low with a subset of
entries covering each subsystem)."""

import os
import shutil

import pytest

from minidriver import compare_entry, duck_con

SF = "/root/testdata/sf0.001"

SUBSET = [
    "term_stats",
    "vocab_term_ids",
    "postings_build",
    "dint_roundtrip",
    "bm25_ranked_or",
    "bm25_block_max_wand",
    "bm25_ranked_and",
    "boolean_and",
    "wand_max_weights",
    # ops suite (one per module/technique)
    "text_repetition",
    "span_dedup",
    "domain_stats",
    "unigram_logprob",
    "pii_scrub",
    "quality_filter",
    "decontaminate",
    "sample_stratified",
    "vocab_stats",
    "text_quality",
    "lang_id",
    "text_fingerprint_winnow",
    "dedup_minhash_lsh",
    "dedup_cluster",
    "dedup_cluster_minhash",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_filtered_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "media_frame_sample",
    "events_sessionize_stream",
    # round-3 search surface (one per module/technique)
    "search_collapse",
    "search_page2",
    "search_bool_dsl",
    "search_query_string",
    "phrase_prefix",
    "search_sort_by_keyword",
    "search_multi_terms",
    "search_multi_match",
    "search_analyzed",
    "search_reindexed",
    "search_percentiles",
    "search_extended_stats",
    "search_boosted",
    "percolate_docs",
    # round-3 additions: evaluation, doc-level stats, sketch aggs
    "search_rank_eval",
    "suggest_phrase",
    "term_vectors",
    "events_cardinality",
    "events_date_histogram",
]


@pytest.fixture(scope="module")
def entry_mod():
    shutil.rmtree("/tmp/dint_spark_entry", ignore_errors=True)
    import __spark_entry__ as E

    return E


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"query_id", "rank", "doc_id", "score"}


def test_every_query_has_oracle_or_is_declared(entry_mod):
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 13


@pytest.mark.parametrize("name", SUBSET)
def test_gate_subset_sf0001(spark, entry_mod, name, monkeypatch):
    if not os.path.isdir(SF):
        pytest.skip("driver testdata missing")
    con = duck_con(SF)
    # data-dependent oracles (suggest_phrase's injected qlp VALUES)
    # must generate against THIS test's corpus, not the driver's sf0.01
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF)
    r = compare_entry(spark, con, name, entry_mod.queries()[name],
                      entry_mod.oracle_sql()[name], SF)
    assert r["cols_match"], (r["spark_cols"], r["duck_cols"])
    assert r["rows"][0] == r["rows"][1], r["rows"]
    assert r["values_match"]


def test_cached_entry_index_rebuilds_corrupt_dir_once(caplog, tmp_path):
    """An entry index dir whose manifest fails to load is logged once,
    cleared and rebuilt; later calls get the rebuilt index from memory."""
    import logging

    import __spark_entry__ as E
    import dint_spark

    sf = str(tmp_path / "sfprobe")
    tag = f"sfprobe-corrupt-v{dint_spark.__version__}"
    d = os.path.join("/tmp/dint_spark_entry", tag)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        f.write("{")
    builds = []

    def bad_loader(spark, path):
        raise ValueError("truncated manifest")

    def build(out, t):
        assert not os.path.exists(out)  # the corrupt dir was cleared
        builds.append((out, t))
        return "rebuilt"

    try:
        with caplog.at_level(logging.WARNING, logger="__spark_entry__"):
            for _ in range(2):
                assert E._cached_entry_index(
                    None, sf, "corrupt", build, loader=bad_loader) == "rebuilt"
        assert builds == [(d, tag)]
        assert len([r for r in caplog.records
                    if "corrupt cached index" in r.getMessage()]) == 1
    finally:
        E._INDEX_CACHE.pop((os.path.abspath(sf), "corrupt"), None)
        shutil.rmtree(d, ignore_errors=True)
