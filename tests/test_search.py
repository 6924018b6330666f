"""Free-text search front end (dint_spark.search).

Contract: query strings tokenize under the index's pinned contract,
term ids resolve through a pushed-filter vocab scan (never a full-vocab
collect), OOV terms drop per query, and retrieval equals run_queries /
run_phrase_queries_ranked over the manually resolved ids.
"""

from __future__ import annotations

import shutil

import pytest

from dint_spark.search import (lookup_term_ids, parse_queries, search_text,
                               tokenize_query)

N_DOCS = 300
IDX_DIR = "/tmp/dint_spark_test/search300"


@pytest.fixture(scope="module")
def sidx(spark):
    from dint_spark.corpus import generate_pages
    from dint_spark.index import IndexConfig, build_index

    shutil.rmtree(IDX_DIR, ignore_errors=True)
    pages = generate_pages(spark, N_DOCS, seed=77)
    return build_index(
        spark, pages, IDX_DIR,
        IndexConfig(num_buckets=2, input_tag="search300", positions=True))


def test_tokenize_query_pinned_contract():
    assert tokenize_query("Sort-Merge JOIN!") == ["sort", "merge", "join"]
    assert tokenize_query("  the THE the ") == ["the", "the", "the"]
    assert tokenize_query("") == []
    assert tokenize_query(None) == []
    assert tokenize_query("a1b2, c3") == ["a1b2", "c3"]
    # nfc mode matches the plain path on pure ASCII
    assert tokenize_query("Hash Join", nfc=True) == ["hash", "join"]


def test_lookup_and_parse(spark, sidx):
    vocab = sidx.vocab().toPandas()
    w0 = vocab.sort_values("term_id").term.iloc[0]
    w1 = vocab.sort_values("term_id").term.iloc[1]
    got = lookup_term_ids(sidx, [w0, w1, "zzzznotaword", w0])
    assert got == sidx.term_ids([w0, w1])  # ids agree with full-map path
    specs, oov = parse_queries(sidx, [f"{w0} {w1}", f"{w0} zzzznotaword",
                                      "zzzznotaword", ""])
    assert specs[0] == [got[w0], got[w1]]
    assert specs[1] == [got[w0]] and oov[1] == ["zzzznotaword"]
    assert specs[2] == [] and oov[2] == ["zzzznotaword"]
    assert specs[3] == [] and oov[3] == []


def test_search_text_equals_manual_ids(spark, sidx):
    from dint_spark.queries import run_queries

    vocab = sidx.vocab().toPandas().sort_values("term_id")
    words = vocab.term.tolist()
    queries = [f"{words[0]} {words[1]}",
               f"{words[2].upper()}, {words[5]}!",      # tokenizer case/punct
               f"{words[0]} {words[0]} {words[9]}",     # duplicate -> qf 2
               f"{words[3]} notinvocabulary",           # partial OOV
               "fully oov query zzz"]                   # no rows expected
    got = search_text(spark, sidx, queries, k=10).toPandas()
    specs, _ = parse_queries(sidx, queries)
    want = run_queries(spark, sidx, specs, algo="block_max_wand_vec",
                       k=10).toPandas()
    a = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(a) and a.equals(b)
    assert 4 not in set(a.query_id)  # fully-OOV query yields nothing


def test_search_text_phrase_mode(spark, sidx):
    from dint_spark.queries import run_phrase_queries_ranked

    vocab = sidx.vocab().toPandas().sort_values("term_id")
    words = vocab.term.tolist()
    queries = [f"{words[0]} {words[1]}",
               f"{words[1]} {words[0]}",
               f"{words[0]} notinvocabulary"]  # OOV inside a phrase
    got = search_text(spark, sidx, queries, k=10, phrase=True).toPandas()
    # any-OOV phrase returns no rows (it cannot match anywhere)
    assert 2 not in set(got.query_id)
    specs, _ = parse_queries(sidx, queries[:2])
    want = run_phrase_queries_ranked(spark, sidx, specs, k=10).toPandas()
    a = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(a) and a.equals(b)


def test_vocab_lookup_pushes_filter(spark, sidx):
    """The term IN (...) predicate must reach the vocab parquet scan —
    the property that keeps text queries viable at a 10^8-term web
    vocabulary (only matching rows return to the driver)."""
    import pyspark.sql.functions as F

    w = sidx.vocab().toPandas().term.iloc[0]
    plan = (sidx.vocab().filter(F.col("term").isin([w, "zz"]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [In(term" in plan, plan


def test_expand_prefix_matches_bruteforce(spark, sidx):
    from dint_spark.search import expand_prefix

    vocab = sidx.vocab().toPandas()
    for pre in ["w0000", "w00001", "zz"]:
        want = (vocab[vocab.term.str.startswith(pre)]
                .sort_values(["df", "term"], ascending=[False, True])
                .head(64).term_id.astype(int).tolist())
        assert expand_prefix(sidx, pre) == sorted(want)
        assert expand_prefix(sidx, pre + "*") == sorted(want)  # wildcard ok
    # the rewrite cap binds deterministically: top max_terms by (df, term)
    want2 = (vocab[vocab.term.str.startswith("w0000")]
             .sort_values(["df", "term"], ascending=[False, True])
             .head(2).term_id.astype(int).tolist())
    assert expand_prefix(sidx, "w0000", max_terms=2) == sorted(want2)
    assert expand_prefix(sidx, "") == []
    with pytest.raises(ValueError, match="single term"):
        expand_prefix(sidx, "two words")


def test_fuzzy_deletes_equal_levenshtein_scan(spark, sidx):
    """The SymSpell delete-1 probe must return EXACTLY the levenshtein<=1
    vocabulary set for every query word — including 1-char words, whose
    substitution case rides on the empty-string delete key."""
    import pyspark.sql.functions as F

    from dint_spark.search import build_fuzzy_table, fuzzy_term_ids

    vocab = sidx.vocab().toPandas()
    words = ([w[:-1] for w in vocab.term.iloc[:5]]       # deletions
             + [w + "x" for w in vocab.term.iloc[5:10]]  # insertions
             + ["x" + w[1:] for w in vocab.term.iloc[10:15]]  # substitutions
             + [vocab.term.iloc[0], "b", "zzzzq"])       # exact, 1-char, miss
    path = build_fuzzy_table(spark, sidx)
    assert path == build_fuzzy_table(spark, sidx)  # idempotent reuse
    got = fuzzy_term_ids(sidx, words)
    for w, ids in zip(words, got):
        # brute force via Spark's levenshtein (the fallback path)
        want = sorted(
            r["term_id"] for r in sidx.vocab()
            .filter(F.levenshtein(F.col("term"), F.lit(w)) <= 1)
            .select("term_id").collect())
        assert ids == want, (w, ids, want)


def test_fuzzy_fallback_scan_agrees(spark, sidx):
    """Without a delete table the vocab levenshtein scan gives the same
    expansions (correct-at-any-scale fallback)."""
    from dint_spark.search import fuzzy_term_ids

    vocab = sidx.vocab().toPandas()
    words = [vocab.term.iloc[0] + "x", "b", ""]
    with_table = fuzzy_term_ids(sidx, words)
    without = fuzzy_term_ids(sidx, words, fuzzy_path="/tmp/does_not_exist_x")
    assert with_table == without
    assert without[2] == []  # empty word expands to nothing


def test_search_prefix_and_fuzzy_equal_manual(spark, sidx):
    from dint_spark.queries import run_queries
    from dint_spark.search import (expand_prefix, fuzzy_term_ids,
                                   search_fuzzy, search_prefix)

    vocab = sidx.vocab().toPandas()
    prefixes = ["w00001*", "w0000", "zzq"]
    got = search_prefix(spark, sidx, prefixes, k=10).toPandas()
    specs = [expand_prefix(sidx, p) for p in prefixes]
    want = run_queries(spark, sidx, specs, algo="block_max_wand_vec",
                       k=10).toPandas()
    a = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(a) and a.equals(
        want.sort_values(["query_id", "rank"]).reset_index(drop=True))

    words = [vocab.term.iloc[3] + "x", "zzzzq"]
    gotf = search_fuzzy(spark, sidx, words, k=10).toPandas()
    wantf = run_queries(spark, sidx, fuzzy_term_ids(sidx, words),
                        algo="block_max_wand_vec", k=10).toPandas()
    af = gotf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(af) and af.equals(
        wantf.sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert 1 not in set(af.query_id)  # no-match word yields nothing


def test_suggest_spelling_matches_brute(spark, sidx):
    """suggest_spelling == brute force over the vocab: candidates at
    levenshtein<=1, ranked (dist asc, df desc, term asc), exact word
    rank-1 at dist 0, top-n cut, None-token words yield no rows; and
    the delete-table path == the fallback vocab scan."""
    from dint_spark.search import build_fuzzy_table, suggest_spelling

    def _lev(a, b):
        la, lb = len(a), len(b)
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[lb]

    vocab = sidx.vocab().toPandas()
    words = [vocab.term.iloc[0],            # exact -> itself at dist 0
             vocab.term.iloc[3][:-1],       # deletion typo
             vocab.term.iloc[7] + "x",      # insertion typo
             "zzzzq",                       # no match
             ""]                            # normalizes to nothing
    n = 4
    build_fuzzy_table(spark, sidx)
    with pytest.raises(ValueError, match="single term"):
        suggest_spelling(spark, sidx, ["two words"])
    got = suggest_spelling(spark, sidx, words, n=n).collect()
    got_t = sorted((r["query_id"], r["rank"], r["term"], r["term_id"],
                    r["dist"], r["df"]) for r in got)

    want = []
    for qid, w in enumerate(words):
        if not w:
            continue
        hits = sorted((_lev(w, r.term), -int(r.df), r.term, int(r.term_id))
                      for r in vocab.itertuples() if _lev(w, r.term) <= 1)
        for rank, (d, negdf, t, tid) in enumerate(hits[:n], 1):
            want.append((qid, rank, t, tid, d, -negdf))
    assert got_t == sorted(want)
    assert got_t[0][4] == 0 and got_t[0][2] == words[0]  # self at dist 0

    fallback = suggest_spelling(spark, sidx, words, n=n,
                                fuzzy_path="/tmp/does_not_exist_x").collect()
    assert sorted(map(tuple, fallback)) == sorted(map(tuple, got))


def test_expand_regex_matches_bruteforce(spark, sidx):
    """expand_regex == pandas full-match filter under the (df desc,
    term asc) cap; anchoring is implicit (ES regexp semantics); a
    no-match pattern expands empty; search_regexp == run_queries over
    the expansion."""
    import re

    from dint_spark.queries import run_queries
    from dint_spark.search import expand_regex, search_regexp

    vocab = sidx.vocab().toPandas()
    for pat, cap in [("w0000.", 64), ("w0001[0-4]", 64),
                     ("w00002|w00003", 64), ("w0000.", 3), ("zzz+", 64)]:
        rx = re.compile(f"^(?:{pat})$")
        want = (vocab[vocab.term.map(lambda t: bool(rx.match(t)))]
                .sort_values(["df", "term"], ascending=[False, True])
                .head(cap).term_id.astype(int).tolist())
        assert expand_regex(sidx, pat, max_terms=cap) == sorted(want), pat
    # substring patterns must NOT match unanchored
    assert expand_regex(sidx, "0000") == []

    pats = ["w0000.", "w00011|w00012"]
    specs = [expand_regex(sidx, p) for p in pats]
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in search_regexp(spark, sidx, pats, k=5).collect()}
    want = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
            for r in run_queries(spark, sidx, specs, k=5).collect()}
    assert got == want


def test_suggest_complete_matches_bruteforce(spark, sidx):
    """suggest_complete == pandas (df desc, term asc) head-n per prefix;
    empty/unknown prefixes suggest nothing; ranks are 1..n."""
    from dint_spark.search import suggest_complete

    vocab = sidx.vocab().toPandas()
    prefixes = ["w0000", "w0001", "zzz", ""]
    got = {}
    for r in suggest_complete(spark, sidx, prefixes, n=4).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["term"], r["df"]))
    for qid, p in enumerate(prefixes):
        if not p:
            assert qid not in got
            continue
        want = [(i + 1, r.term, int(r.df)) for i, r in enumerate(
            vocab[vocab.term.str.startswith(p)]
            .sort_values(["df", "term"], ascending=[False, True])
            .head(4).itertuples())]
        assert sorted(got.get(qid, [])) == want, p


def test_query_string_oov_and_pure_negative_yield_no_rows(spark, sidx):
    """ADVICE r3: a query whose positive words are all OOV (typo-only)
    or that contains only must_not clauses must yield ZERO rows for its
    query_id — the ES query_string contract — not a BoolSpec
    ValueError; and surviving queries keep their ORIGINAL query_ids
    after the unscoreable ones drop out."""
    from dint_spark.search import search_query_string

    vocab = sidx.vocab().toPandas().sort_values("df", ascending=False)
    w0, w1 = vocab.term.iloc[0], vocab.term.iloc[1]
    queries = ["zzzznotaword qqqqnotaword",   # all-OOV -> no rows
               f"-{w0}",                       # must_not only -> no rows
               f"{w0} {w1}",                   # scoreable, qid 2
               "",                             # empty -> no rows
               f"+{w0} -zzzznotaword"]         # scoreable, qid 4
    res = search_query_string(spark, sidx, queries, k=5).toPandas()
    assert set(res.query_id.unique()) == {2, 4}
    assert (res[res.query_id == 2].sort_values("rank")["rank"]
            .tolist() == list(range(1, len(res[res.query_id == 2]) + 1)))
    # qid 4 equals the same query without the OOV must_not
    alone = search_query_string(spark, sidx, [f"+{w0}"], k=5).toPandas()
    got4 = (res[res.query_id == 4].drop(columns="query_id")
            .reset_index(drop=True))
    want = alone.drop(columns="query_id").reset_index(drop=True)
    assert got4.equals(want)
    # the all-unscoreable batch returns an EMPTY frame with the shape
    empty = search_query_string(spark, sidx, ["zzzznotaword"], k=5)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "rank", "doc_id", "score_q"]


def test_regex_literal_prefix_extraction():
    """Pin the pushdown-prefix scanner (VERDICT r3 item 3): curated
    pattern -> prefix pairs, including every fallback class."""
    from dint_spark.search import regex_literal_prefix as rlp

    assert rlp("merge") == "merge"
    assert rlp("join.*") == "join"
    assert rlp("jo+in") == "jo"          # + keeps its char
    assert rlp("ab*c") == "a"            # * drops its char
    assert rlp("ab?c") == "a"
    assert rlp("a{2,3}b") == ""          # conservative: { drops its char
                                         # ({0,n} would make it optional)
    assert rlp("ab(c|d)e") == "ab"       # group '|' is harmless
    assert rlp("ab|cd") == ""            # top-level alternation
    assert rlp("(ab)cd") == ""           # leading group: conservative
    assert rlp("[jk]oin") == ""          # leading class
    assert rlp("s\\d+") == "s"           # class shorthand stops
    assert rlp("ab\\.c") == "ab.c"       # escaped metachar is literal
    assert rlp("ab\\|cd") == "ab|cd"     # escaped pipe is literal
    assert rlp("^abc") == ""             # anchor: conservative stop
    assert rlp("abc$") == "abc"
    assert rlp("w0.1") == "w0"
    assert rlp("") == ""


def test_regex_literal_prefix_law():
    """Safety law: every string fullmatching the pattern starts with
    the extracted prefix (randomized over pattern templates whose
    matches we can enumerate)."""
    import re

    from dint_spark.search import regex_literal_prefix as rlp

    cases = [
        ("jo+in", ["join", "jooin", "joooin"]),
        ("ab*c", ["ac", "abc", "abbc"]),
        ("merge[sd]", ["merges", "merged"]),
        ("w00(1|2)x?", ["w001", "w002", "w001x", "w002x"]),
        ("s.{2}n", ["scan", "sign", "soon"]),
        ("a\\d{2}", ["a12", "a00"]),
    ]
    for pat, matches in cases:
        pre = rlp(pat)
        for s in matches:
            assert re.fullmatch(pat, s), (pat, s)
            assert s.startswith(pre), (pat, pre, s)


def test_search_regexp_prefix_pushdown(spark, sidx):
    """The prefixed-pattern path must (a) push a StartsWith filter to
    the vocab parquet scan and (b) return exactly what the full-vocab
    fallback returns for the same pattern."""
    import re

    import pyspark.sql.functions as F

    from dint_spark.search import expand_regex, regex_literal_prefix

    pat = "w00.*1"
    assert regex_literal_prefix(pat) == "w00"
    got = expand_regex(sidx, pat, max_terms=1000)
    vocab = sidx.vocab().toPandas()
    want = sorted(int(t) for t, term in zip(vocab.term_id, vocab.term)
                  if re.fullmatch(pat, term))
    assert got == want and got  # non-trivial match set
    plan = (sidx.vocab().filter(F.col("term").startswith("w00"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "StartsWith" in plan and "PushedFilters" in plan



def test_lev_le_banded_matches_bruteforce():
    """_lev_le (banded DP) == full-DP levenshtein <= k on random pairs,
    k in {1, 2, 3}, including equal/empty/length-skewed words."""
    import itertools
    import random

    from dint_spark.search import _lev_le

    def lev(a, b):
        la, lb = len(a), len(b)
        d = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, d[0] = d[0], i
            for j in range(1, lb + 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (a[i - 1] != b[j - 1]))
        return d[lb]

    rng = random.Random(5)
    alpha = "abcde"
    words = ["", "a", "ab"] + ["".join(rng.choice(alpha)
                               for _ in range(rng.randint(1, 9)))
                               for _ in range(60)]
    for a, b in itertools.product(words, repeat=2):
        for k in (1, 2, 3):
            assert _lev_le(a, b, k) == (lev(a, b) <= k), (a, b, k)


def test_symspell_delete2_completeness():
    """The SymSpell law the delete-2 probe relies on: lev(a,b) <= 2
    implies the deletes<=2 key sets intersect (random word pairs)."""
    import random

    from dint_spark.search import _delete_keys, _lev_le

    rng = random.Random(11)
    alpha = "abcd"
    words = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
             for _ in range(300)]
    checked = 0
    for a in words[:80]:
        for b in words:
            if _lev_le(a, b, 2):
                assert set(_delete_keys(a, 2)) & set(_delete_keys(b, 2)), \
                    (a, b)
                checked += 1
    assert checked > 100  # the law was actually exercised


def test_fuzzy2_table_probe_equals_levenshtein_scan(spark, sidx, tmp_path):
    """max_edits=2: delete-2-table probe + banded verify == distributed
    levenshtein<=2 vocab scan, for expansion AND the spelling suggester
    ranking (dist asc, df desc, term asc)."""
    import pyspark.sql.functions as F

    from dint_spark.search import (build_fuzzy_table, fuzzy_term_ids,
                                   suggest_spelling)

    path = str(tmp_path / "fz2")
    build_fuzzy_table(spark, sidx, path=path, max_edits=2)
    words = ["w0000", "w0015x", "zzzz", "customer", "w123"]
    got = fuzzy_term_ids(sidx, words, max_terms=1000, fuzzy_path=path,
                         max_edits=2)
    vocab = sidx.vocab().toPandas()
    import numpy as np

    def lev(a, b):
        la, lb = len(a), len(b)
        d = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, d[0] = d[0], i
            for j in range(1, lb + 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (a[i - 1] != b[j - 1]))
        return d[lb]

    for w, ids in zip(words, got):
        want = sorted(int(t) for t, term in zip(vocab.term_id, vocab.term)
                      if lev(term, w) <= 2)
        assert ids == want, w
    # suggester ranking vs brute force, incl. dist=2 rows
    res = suggest_spelling(spark, sidx, words, n=8, fuzzy_path=path,
                           max_edits=2).toPandas()
    for qid, w in enumerate(words):
        cands = sorted(
            (lev(term, w), -int(df), term, int(tid))
            for term, df, tid in zip(vocab.term, vocab.df, vocab.term_id)
            if lev(term, w) <= 2)[:8]
        rows = res[res.query_id == qid].sort_values("rank")
        assert [(int(d), t) for d, _, t, _ in cands] == \
            list(zip(rows.dist, rows.term)), w
    assert (res.dist == 2).any()  # the new distance class is exercised


def test_regex_required_trigrams_extraction():
    """Conservative required-trigram law cases: literal runs survive,
    quantified/optional atoms break runs, x+ keeps x then breaks,
    groups/classes/dot are opaque, top-level | yields nothing, classes
    and escapes never leak metachars."""
    from dint_spark.search import regex_required_trigrams as rt

    assert rt("ration") == ["ati", "ion", "rat", "tio"]
    assert rt(".*tion") == ["ion", "tio"]
    assert rt("[0-9]+ing") == ["ing"]
    assert rt("un.*able") == ["abl", "ble"]        # "un" too short
    assert rt("abc*def") == ["def"]                # c optional -> ab|def
    assert rt("abcd*ef") == ["abc"]
    assert rt("ab+cde") == ["cde"]                 # ab kept, run broken
    assert rt("abc{2,}de") == ["abc"]              # {m>=1} like +
    assert rt("abc{0,3}de") == []                  # abc? -> ab, de short
    assert rt("(foo|bar)baz") == ["baz"]           # group opaque
    assert rt("foo|bar") == []                     # top-level alternation
    assert rt(r"a\.bcd") == ["a.b", ".bc", "bcd"] or \
        rt(r"a\.bcd") == sorted(["a.b", ".bc", "bcd"])
    assert rt(r"ab\dcd") == []                     # shorthand breaks
    assert rt("a[bc]def") == ["def"]
    assert rt("zz") == []                          # too short


def test_expand_regex_trigram_equals_plain(spark, sidx):
    """The trigram-pruned expansion is an OPTIMIZATION: identical term
    sets to expand_regex for every pattern class — prefix-free, with
    prefix, class+required-run, fallback (top-level |), and no-match —
    and the sidecar build is idempotent."""
    from dint_spark.search import (build_trigram_index, expand_regex,
                                  expand_regex_trigram,
                                  regex_required_trigrams)

    build_trigram_index(spark, sidx)
    pats = [".*0003", "w0001[0-4]", "w00002|w00003", "w0000.",
            "[vw]0{3}1.", "zzz+x"]
    for pat in pats:
        want = expand_regex(sidx, pat, max_terms=64)
        got = expand_regex_trigram(spark, sidx, pat, max_terms=64)
        assert got == want, (pat, regex_required_trigrams(pat))
    # caps apply identically through the pruned path
    assert (expand_regex_trigram(spark, sidx, ".*0003", max_terms=3)
            == expand_regex(sidx, ".*0003", max_terms=3))


def test_expand_regex_trigram_inline_flags(spark, sidx):
    """Inline-flag patterns fall back to expand_regex: the case-sensitive
    trigram literals must not prune terms that (?i) matches."""
    from dint_spark.search import (build_trigram_index, expand_regex,
                                  expand_regex_trigram)

    build_trigram_index(spark, sidx)
    assert expand_regex(sidx, "(?i)W00001.", max_terms=64)
    for pat in ("(?i)tion", "(?i)W00001.", "(?i).*0003"):
        assert (expand_regex_trigram(spark, sidx, pat, max_terms=64)
                == expand_regex(sidx, pat, max_terms=64)), pat


def test_search_regexp_trigram_equals_search_regexp(spark, sidx):
    from dint_spark.search import search_regexp, search_regexp_trigram

    pats = [".*0003", "w0000.", "w00011|w00012"]
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in search_regexp_trigram(spark, sidx, pats,
                                          k=5).collect()}
    want = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
            for r in search_regexp(spark, sidx, pats, k=5).collect()}
    assert got == want
