"""Free-text query front end: pinned query tokenization + vocabulary
lookup + ranked retrieval.

The missing last step of the user story: raw query strings in, ranked
doc ids out. Query strings tokenize driver-side under the exact contract
the index was built with (tokenizer.TOKEN_SPLIT_RE: NFC optional ->
lower -> split -> drop empties), term ids resolve through a
pushed-filter scan of vocab.parquet (only the batch's distinct terms
return — never the vocabulary, which at web scale has 10^8+ terms and
must not be collected), and retrieval runs through the standard engines
(run_queries / run_phrase_queries_ranked), so filters, tombstones and
the served path all compose.

Out-of-vocabulary terms are dropped per query (standard web-search
behavior); a phrase containing an OOV term cannot match anywhere, so
phrase mode returns no rows for that query instead of silently matching
a shorter phrase.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dint_spark.queries import (DocMask, run_phrase_queries_ranked,
                                run_queries)
from dint_spark.tokenizer import TOKEN_SPLIT_RE

_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokenize_query(text: str, nfc: bool = False) -> list[str]:
    """The index's pinned tokenizer applied to ONE query string,
    driver-side — queries are a few words; no Spark job."""
    if not text:
        return []
    if nfc:
        text = unicodedata.normalize("NFC", text)
    return [w for w in _SPLIT.split(text.lower()) if w]


def lookup_term_ids(index, terms) -> dict[str, int]:
    """term -> term_id for the given terms only, via a pushed-filter scan
    of vocab.parquet (`term IN (...)` reaches the parquet reader). The
    result is bounded by the query batch's distinct-term count, unlike
    Index.term_ids' full-vocab collect."""
    terms = sorted({t for t in terms if t})
    if not terms:
        return {}
    rows = (index.vocab()
            .filter(F.col("term").isin(terms))
            .select("term", "term_id").collect())
    return {r["term"]: int(r["term_id"]) for r in rows}


def parse_queries(index, queries: list[str], nfc: bool = False
                  ) -> tuple[list[list[int]], list[list[str]]]:
    """Query strings -> (specs, oov): specs[i] is query i's term-id list
    in token order (repeats kept — they become qf weight downstream, or
    phrase positions in phrase mode); oov[i] lists its dropped tokens."""
    toks = [tokenize_query(q, nfc=nfc) for q in queries]
    tid = lookup_term_ids(index, [t for ts in toks for t in ts])
    specs = [[tid[t] for t in ts if t in tid] for ts in toks]
    oov = [[t for t in ts if t not in tid] for ts in toks]
    return specs, oov


def _single_token(word: str, nfc: bool = False) -> str | None:
    """Normalize ONE query word under the pinned tokenizer contract.
    Multi-token inputs are a caller error (wildcard/fuzzy expansion is
    per-term, like Lucene's PrefixQuery/FuzzyQuery); empty-after-
    normalization returns None (the query matches nothing)."""
    toks = tokenize_query(word, nfc=nfc)
    if len(toks) > 1:
        raise ValueError(
            f"expected a single term, got {len(toks)} tokens in {word!r}")
    return toks[0] if toks else None


def expand_prefix(index, prefix: str, max_terms: int = 64,
                  nfc: bool = False) -> list[int]:
    """``prefix*`` wildcard expansion: the matching vocabulary term ids,
    capped to the top ``max_terms`` by (df DESC, term ASC) — Lucene's
    rewrite bound, so a short prefix over a 10^8-term web vocabulary
    expands to a bounded disjunction instead of millions of clauses.

    The StartsWith filter pushes to the vocab.parquet scan and the
    top-k cap runs distributed (TakeOrdered): nothing vocabulary-sized
    ever reaches the driver."""
    stripped = prefix.rstrip("*")
    tok = _single_token(stripped, nfc=nfc)
    if tok is None:
        return []
    rows = (index.vocab()
            .filter(F.col("term").startswith(tok))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
            .select("term_id").collect())
    return sorted(int(r["term_id"]) for r in rows)


def regex_literal_prefix(pattern: str) -> str:
    """The longest literal prefix P guaranteed by an (implicitly
    anchored) regex: every string that fullmatches ``pattern`` starts
    with P. Conservative by construction — any construct this scanner
    can't reason about stops accumulation (or, for a top-level ``|``,
    invalidates the prefix entirely, since an alternation's branches
    need not share it); the caller always re-applies the FULL pattern,
    so a shorter-than-optimal prefix only costs scan selectivity, never
    correctness. This is the pushdown half of what Lucene gets by
    intersecting the compiled automaton with the term FST: the anchored
    literal run before the first operator."""
    out: list[str] = []
    i, n = 0, len(pattern)
    stopped = False   # no longer accumulating, still scanning for '|'
    depth = 0         # group nesting: '|' inside a group is harmless
    in_class = False  # inside [...] every metachar is literal
    while i < n:
        c = pattern[i]
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            if not stopped:
                if nxt and not nxt.isalnum():
                    out.append(nxt)   # escaped metachar: literal
                else:
                    stopped = True    # class shorthand (\d \w) / backref
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class, stopped = True, True
        elif c == "|" and depth == 0:
            return ""  # top-level alternation: no common prefix
        elif c == "(":
            depth, stopped = depth + 1, True
        elif c == ")":
            depth, stopped = max(0, depth - 1), True
        elif not stopped:
            if c in "*?{":
                if out:        # quantifier makes the PREVIOUS char
                    out.pop()  # optional/repeated — drop it
                stopped = True
            elif c in "+.^$":
                # '+' keeps its char (>=1 occurrence); the rest stop
                stopped = True
            else:
                out.append(c)
        i += 1
    return "".join(out)


def expand_regex(index, pattern: str, max_terms: int = 64) -> list[int]:
    """ES ``regexp`` query expansion: the vocabulary terms whose ENTIRE
    text matches ``pattern`` (ES anchors regexps implicitly), capped to
    the top ``max_terms`` by (df DESC, term ASC) — the same Lucene
    rewrite bound as expand_prefix.

    Scale shape: the pattern's anchored literal prefix
    (regex_literal_prefix) pushes to the vocab.parquet scan as a
    StartsWith filter — the expand_prefix machinery, so a prefixed
    pattern over a 10^8-term web vocabulary reads only the matching
    row groups — and the FULL pattern post-filters the survivors
    (correct for any prefix, including a conservative short one).
    Patterns with no extractable prefix (top-level alternation, leading
    class/quantifier) keep the documented distributed full-vocabulary
    filter — vocabulary-sized work, never corpus-sized — and the cap
    always runs as a distributed TakeOrdered."""
    v = index.vocab()
    pre = regex_literal_prefix(pattern)
    if pre:
        v = v.filter(F.col("term").startswith(pre))
    rows = (v.filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
            .select("term_id").collect())
    return sorted(int(r["term_id"]) for r in rows)


TRIGRAM_SIDECAR = "trigrams.parquet"


def regex_required_trigrams(pattern: str) -> list[str]:
    """Conservative REQUIRED-trigram extraction (the public Code-Search
    technique — Cox, "Regular Expression Matching with a Trigram
    Index"): every string that fullmatches ``pattern`` is guaranteed to
    contain every returned trigram, so a trigram->terms side index can
    prune the vocabulary BEFORE the full pattern runs — the missing
    cost class for prefix-free patterns like ``.*tion``, where the
    StartsWith pushdown (regex_literal_prefix) has nothing to push.

    Atom-based scan: literal atoms extend the current mandatory run; an
    optional/unknown atom (quantified literal, class, group, dot,
    shorthand) breaks it; ``x+``/``x{m>=1,..}`` keeps x then breaks (x
    appears, but repeats separate it from what follows); a TOP-LEVEL
    ``|`` returns [] (branches share nothing guaranteed). Groups are
    skipped wholesale — conservative, never wrong: a shorter run only
    costs pruning selectivity, the caller always re-applies the full
    pattern."""
    runs: list[str] = []
    cur: list[str] = []

    def flush() -> None:
        if cur:
            runs.append("".join(cur))
            cur.clear()

    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "|":
            return []  # top-level alternation (groups are skipped below)
        lit: str | None = None
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            lit = nxt if (nxt and not nxt.isalnum()) else None
            i += 2
        elif c == "[":
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            while j < n and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            i = j + 1
        elif c == "(":
            depth, j, in_cls = 1, i + 1, False
            while j < n and depth:
                cj = pattern[j]
                if cj == "\\":
                    j += 2
                    continue
                if in_cls:
                    in_cls = cj != "]"
                elif cj == "[":
                    in_cls = True
                elif cj == "(":
                    depth += 1
                elif cj == ")":
                    depth -= 1
                j += 1
            i = j
        elif c in ".^$)":
            i += 1
        else:
            lit = c
            i += 1
        # quantifier on the atom just consumed
        optional = plus = False
        q = pattern[i] if i < n else ""
        if q == "*" or q == "?":  # NOT `in "*?"`: "" is in every string
            optional = True
            i += 1
            if pattern[i:i + 1] == "?":
                i += 1
        elif q == "+":
            plus = True
            i += 1
            if pattern[i:i + 1] == "?":
                i += 1
        elif q == "{":
            j = pattern.find("}", i)
            if j < 0:
                flush()
                i += 1
                continue
            mn = pattern[i + 1:j].split(",")[0]
            if mn.isdigit() and int(mn) >= 1:
                plus = True
            else:
                optional = True
            i = j + 1
            if pattern[i:i + 1] == "?":
                i += 1
        if lit is not None and not optional:
            cur.append(lit)
            if plus:
                flush()
        else:
            flush()
    flush()
    tris = {r[j:j + 3] for r in runs if len(r) >= 3
            for j in range(len(r) - 2)}
    return sorted(tris)


def build_trigram_index(spark: SparkSession, index) -> str:
    """Materialize the trigram->term side index as a vocab sidecar
    (<index>/trigrams.parquet, range-partitioned + sorted by tri so a
    pushed IN filter prunes row groups). One distributed pass over the
    vocabulary; rows are (tri, term_id), distinct per term. Vocabulary-
    shaped (~avg_len-2 rows per term), never corpus-shaped."""
    import os

    out = os.path.join(index.dir, TRIGRAM_SIDECAR)
    v = index.vocab().select("term_id", "term").where(F.length("term") >= 3)
    tri = v.select(
        "term_id",
        F.explode(F.expr(
            "array_distinct(transform(sequence(0, length(term) - 3), "
            "i -> substring(term, i + 1, 3)))")).alias("tri"))
    (tri.repartitionByRange(8, "tri")
        .sortWithinPartitions("tri", "term_id")
        .write.mode("overwrite").parquet(out))
    return out


def ensure_trigram_index(spark: SparkSession, index) -> str:
    import os

    out = os.path.join(index.dir, TRIGRAM_SIDECAR)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        build_trigram_index(spark, index)
    return out


def expand_regex_trigram(spark: SparkSession, index, pattern: str,
                         max_terms: int = 64) -> list[int]:
    """expand_regex through the trigram side index: candidates are the
    terms containing EVERY required trigram (pushed IN scan + one
    count-match aggregate — both vocabulary-shaped), then the full
    pattern post-filters exactly like expand_regex, so the result is
    identical by construction. Falls back to expand_regex when the
    pattern guarantees no trigram (e.g. top-level alternation), carries an
    inline-flag group such as ``(?i)`` (the extracted literals are
    case-sensitive, so the pruning could drop matching terms), or the
    sidecar is absent."""
    import os

    tris = regex_required_trigrams(pattern)
    path = os.path.join(index.dir, TRIGRAM_SIDECAR)
    if (not tris or re.search(r"\(\?[-a-zA-Z]", pattern)
            or not os.path.exists(path)):
        return expand_regex(index, pattern, max_terms=max_terms)
    t = spark.read.parquet(path).where(F.col("tri").isin(list(tris)))
    cand = (t.groupBy("term_id").agg(F.count("*").alias("nt"))
            .where(F.col("nt") == len(tris)).select("term_id"))
    v = index.vocab().join(cand, "term_id")
    pre = regex_literal_prefix(pattern)
    if pre:
        v = v.filter(F.col("term").startswith(pre))
    rows = (v.filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
            .select("term_id").collect())
    return sorted(int(r["term_id"]) for r in rows)


def search_regexp_trigram(
    spark: SparkSession,
    index,
    patterns: list[str],
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    max_terms: int = 64,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """search_regexp with trigram-pruned expansion (identical results —
    the side index only prunes the vocabulary scan)."""
    ensure_trigram_index(spark, index)
    specs = [expand_regex_trigram(spark, index, p, max_terms=max_terms)
             for p in patterns]
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter)


def search_regexp(
    spark: SparkSession,
    index,
    patterns: list[str],
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    max_terms: int = 64,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Regexp search: each query is one anchored pattern; matches rank
    by BM25 over the expanded disjunction exactly like search_prefix
    (per-term idf, qf=1). Returns (query_id, rank, doc_id, score)."""
    specs = [expand_regex(index, p, max_terms=max_terms)
             for p in patterns]
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter)


def suggest_complete(spark: SparkSession, index, prefixes: list[str],
                     n: int = 10, nfc: bool = False) -> DataFrame:
    """The ES completion suggester: for each typed prefix, the top-``n``
    vocabulary completions by (df DESC, term ASC) — popularity-ordered
    autocomplete. Each prefix runs one pushed StartsWith vocab scan with
    a distributed TakeOrdered cap (the expand_prefix scale contract:
    nothing vocabulary-sized reaches the driver); the |prefixes| x n
    result rows assemble driver-side. An empty or non-tokenizable
    prefix suggests nothing. Returns (query_id, rank, term, df)."""
    out = []
    for qid, p in enumerate(prefixes):
        tok = _single_token(p.rstrip("*"), nfc=nfc)
        if tok is None:
            continue
        rows = (index.vocab()
                .filter(F.col("term").startswith(tok))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(n)
                .select("term", "df").collect())
        out += [(qid, r_i + 1, r["term"], int(r["df"]))
                for r_i, r in enumerate(rows)]
    return spark.createDataFrame(
        out, schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("df", T.LongType(), False),
        ]))


def _delete1(word: str) -> list[str]:
    return [word[:i] + word[i + 1:] for i in range(len(word))]


def _delete_keys(word: str, max_edits: int) -> list[str]:
    """{word} ∪ deletes1(word) [∪ deletes2(word)] — the SymSpell probe
    key set. For max_edits=2 that is 1 + L + C(L,2) keys (~L^2/2)."""
    keys = {word}
    d1 = _delete1(word)
    keys.update(d1)
    if max_edits >= 2:
        for w in d1:
            keys.update(_delete1(w))
    return sorted(keys)


def _lev_le(a: str, b: str, k: int) -> bool:
    """Exact levenshtein(a, b) <= k via banded DP (band width 2k+1) —
    the driver-side verify for delete-neighborhood candidates at any
    edit bound; k=1 short-circuits to the DP-free scan."""
    if k <= 1:
        return _lev_le1(a, b)
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return False
    if a == b:
        return True
    big = k + 1
    prev = [j if j <= k else big for j in range(lb + 1)]
    for i in range(1, la + 1):
        lo = max(1, i - k)
        hi = min(lb, i + k)
        cur = [big] * (lb + 1)
        if lo == 1:
            cur[0] = i if i <= k else big
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        # the j=0 column is part of the band while i <= k (empty-b edge)
        if min(cur[lo - 1:hi + 1], default=big) > k:
            return False
        prev = cur
    return prev[lb] <= k


def _lev_le1(a: str, b: str) -> bool:
    """Exact levenshtein(a, b) <= 1 without building the DP table —
    the driver-side verify for delete-neighborhood candidates."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:  # exactly one substitution
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la = b, a, lb
    i = 0  # a is b with one char deleted?
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def build_fuzzy_table(spark: SparkSession, index, path: str | None = None,
                      num_files: int | None = None,
                      max_edits: int = 1) -> str:
    """Materialize the SymSpell/FastSS delete neighborhood of the
    vocabulary: one row per (key, term) where key ∈ {term} ∪
    deletes1(term) [∪ deletes2(term) for ``max_edits=2``] — the classic
    scale structure for bounded-edit-distance lookup. A fuzzy query then
    touches only its own probe keys via a pushed IN filter instead of
    scanning the vocabulary with a levenshtein UDF (10^8 terms ×
    levenshtein per query word is the plan this avoids).

    Size: delete-1 is O(sum of term lengths) ≈ (avg_len+1)× vocab rows.
    The delete-2 table multiplies that by ~(avg_len+2)/2 — for the
    ~7-char average web term, 1+L+C(L,2) ≈ 29 keys/term vs 8, a ~3.6×
    bigger table (the documented DirectSpellChecker-practical trade for
    2-edit matching; probes grow by the same factor). The table is
    range-partitioned and sorted by key so parquet min/max stats prune
    to the few files holding the probe keys. Single-char terms keep
    their empty-string delete key: that bucket holds every 1-char term
    (≤36 under the [0-9a-z]+ tokenizer) and is what makes the candidate
    set COMPLETE for short words. Idempotent: an existing table
    (manifest _SUCCESS) is reused."""
    import os

    if max_edits not in (1, 2):
        raise ValueError("max_edits must be 1 or 2")
    suffix = "" if max_edits == 1 else "2"
    path = path or os.path.join(index.dir, f"fuzzy_deletes{suffix}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    d1 = F.expr("transform(sequence(0, length(term) - 1), "
                "i -> concat(substring(term, 1, i), "
                "substring(term, i + 2)))")
    key_arr = F.array_union(F.array("term"), d1)
    if max_edits == 2:
        # remove positions i<j (0-based): prefix[..i) + (i..j) + (j..]
        # guarded: sequence(0, -1) would DESCEND for 1-char terms
        d2 = F.expr(
            "CASE WHEN length(term) >= 2 THEN "
            "flatten(transform(sequence(0, length(term) - 2), i -> "
            "transform(sequence(i + 1, length(term) - 1), j -> "
            "concat(substring(term, 1, i), "
            "substring(term, i + 2, j - i - 1), "
            "substring(term, j + 2))))) "
            "ELSE array() END")
        key_arr = F.array_union(key_arr, d2)
    keys = (index.vocab()
            .select(F.explode(key_arr).alias("key"),
                    "term", "term_id", "df"))
    if num_files is None:
        # File granularity IS the probe's pruning granularity: each
        # range-partitioned file is one parquet row group, and a probe's
        # key IN (...) survives only in row groups whose [min,max] key
        # range intersects a probe key — a query word's delete keys
        # cluster in ~2 tight alphabetic ranges (every delete at position
        # i >= 1 keeps the word's first letter), so SMALL files mean a
        # probe reads ~ranges×files, independent of vocabulary size.
        # Big files (the naive ~2M-keys/file layout) kill pruning: a
        # measured 10M-term probe READ 67M rows and lost to the plain
        # levenshtein scan. ~64k keys/file makes the same probe touch
        # <1% of the table. Capped at 32768 files per directory.
        num_files = min(32768, max(1, int(keys.count()) // 64_000 + 1))
    (keys.repartitionByRange(num_files, "key").sortWithinPartitions("key")
         .write.mode("overwrite").parquet(path))
    return path


def fuzzy_term_ids(index, words: list[str], max_terms: int = 64,
                   fuzzy_path: str | None = None,
                   nfc: bool = False,
                   max_edits: int = 1) -> list[list[int]]:
    """Edit-distance-≤``max_edits`` expansion for a BATCH of query words
    in ONE Spark job: probe the delete table (build_fuzzy_table, built
    with the same max_edits) with the union of every word's delete keys,
    verify candidates with the exact banded levenshtein predicate
    driver-side (candidate sets are per-key-bucket bounded), and cap
    each word's expansion to the top ``max_terms`` by (df DESC, term
    ASC). Falls back to a distributed levenshtein scan of the
    vocabulary when no delete table exists — correct at any scale, just
    a full vocab pass per batch."""
    toks = [_single_token(w, nfc=nfc) for w in words]
    live = sorted({t for t in toks if t is not None})
    if not live:
        return [[] for _ in toks]
    rows = _fuzzy_candidate_rows(index, live, fuzzy_path,
                                 max_edits=max_edits)
    return _rank_and_cap(rows, toks, max_terms, max_edits=max_edits)


def _fuzzy_candidate_rows(index, live: list[str],
                          fuzzy_path: str | None = None,
                          max_edits: int = 1) -> list:
    """The candidate fetch shared by fuzzy_term_ids / suggest_spelling:
    collected (term, term_id, df) rows SUPERSET of every live word's
    distance-≤max_edits neighborhood — delete-table probe when built
    (per-key-bucket bounded), distributed levenshtein vocab scan
    otherwise. The SymSpell completeness law: lev(a, b) <= d implies
    deletes<=d(a) ∩ deletes<=d(b) is non-empty, so probing the union of
    the word's delete keys against a deletes<=d table misses nothing."""
    import os
    from functools import reduce
    from operator import or_

    suffix = "" if max_edits == 1 else "2"
    path = fuzzy_path or os.path.join(index.dir,
                                      f"fuzzy_deletes{suffix}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        probe = sorted({k for w in live
                        for k in _delete_keys(w, max_edits)})
        # Above spark.sql.parquet.pushdown.inFilterThreshold (default 10)
        # Spark collapses an IN pushdown into ONE [min,max] range — for
        # scattered probe keys that spans the whole keyspace and defeats
        # row-group pruning entirely (measured: a 10M-term probe read the
        # full 67M-row table). Raise it past the batch's key count so the
        # discrete predicates reach parquet and prune to the ~2 tight key
        # ranges per word; restore the session value after planning.
        spark = index.spark
        conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
        old = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, str(len(probe) + 1))
        try:
            cand = (spark.read.parquet(path)
                    .filter(F.col("key").isin(probe))
                    .select("term", "term_id", "df")
                    .dropDuplicates(["term_id"]))
            rows = cand.collect()
        finally:
            if old is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, old)
        return rows
    pred = reduce(or_, [
        F.levenshtein(F.col("term"), F.lit(w)) <= max_edits for w in live])
    return index.vocab().filter(pred).select("term", "term_id", "df") \
        .collect()


def suggest_spelling(
    spark: SparkSession,
    index,
    words: list[str],
    n: int = 5,
    fuzzy_path: str | None = None,
    nfc: bool = False,
    max_edits: int = 1,
) -> DataFrame:
    """"Did you mean": per input word (query_id = position), the top-``n``
    vocabulary terms at levenshtein distance ≤ ``max_edits`` (1 or 2 —
    2 is DirectSpellChecker's practical contract; needs the delete-2
    table for the bounded-probe plan), ranked by (distance asc, df
    desc, term asc) — so a word that IS a vocabulary term suggests
    itself first, and corrections order by corpus popularity (the
    Lucene DirectSpellChecker contract). Returns (query_id, rank, term,
    term_id, dist, df); a word that normalizes to nothing yields no
    rows, and a multi-token input raises (per-term suggestion, the
    fuzzy/prefix contract).

    Scale shape: one probe of the delete table per batch (the
    search_fuzzy plan — pushed IN filter, per-key-bucket-bounded
    candidates, exact driver-side banded-DP verify), falling back to a
    distributed levenshtein vocab scan when no table is built."""
    toks = [_single_token(w, nfc=nfc) for w in words]
    live = sorted({t for t in toks if t is not None})
    out_rows: list[tuple] = []
    if live:
        rows = _fuzzy_candidate_rows(index, live, fuzzy_path,
                                     max_edits=max_edits)
        for qid, tok in enumerate(toks):
            if tok is None:
                continue
            cands = []
            for r in rows:
                d = _cand_dist(r["term"], tok, max_edits)
                if d is not None:
                    cands.append((d, -int(r["df"]), r["term"],
                                  int(r["term_id"])))
            for rank, (dist, negdf, term, tid) in enumerate(
                    sorted(cands)[:n], 1):
                out_rows.append((qid, rank, term, tid, dist, -negdf))
    from pyspark.sql import types as T
    return spark.createDataFrame(
        out_rows,
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("term_id", T.LongType(), False),
            T.StructField("dist", T.IntegerType(), False),
            T.StructField("df", T.LongType(), False),
        ]),
    )


def match_phrase_prefix(spark: SparkSession, index, specs,
                        max_terms: int = 64) -> DataFrame:
    """The ES ``match_phrase_prefix`` query (the autocomplete phrase):
    each spec is (fixed term_ids..., last_prefix_string); the last
    position matches ANY vocabulary term with that prefix. Expansion
    goes through expand_prefix (pushed StartsWith vocab scan, capped
    top-``max_terms`` by df — the Lucene rewrite bound), every variant
    phrase runs through ONE positional phrase batch, and occurrences
    sum per (query, doc): a token occupies exactly one position, so
    each phrase start is counted under exactly one expansion and the
    sum is the exact count of starts whose fixed offsets match and
    whose last token carries the prefix. Returns (query_id, doc_id,
    ptf) — integer-exact."""
    from pyspark.sql import functions as F

    from dint_spark.queries import run_phrase_queries

    variants: list[list[int]] = []
    vmap: list[int] = []
    for qid, spec in enumerate(specs):
        *fixed, prefix = spec
        for tid in expand_prefix(index, prefix, max_terms=max_terms):
            variants.append([int(t) for t in fixed] + [int(tid)])
            vmap.append(qid)
    if not variants:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, ptf long")
    vdf = spark.createDataFrame(
        list(enumerate(vmap)), "variant_id long, query_id long")
    res = run_phrase_queries(spark, index, variants)
    return (res.withColumnRenamed("query_id", "variant_id")
            .join(F.broadcast(vdf), "variant_id")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("phrase_tf").cast("long").alias("ptf")))


def parse_query_string(q: str, nfc: bool = False) -> dict:
    """The ES ``query_string`` mini-language, the subset that maps onto
    the bool kernel: ``+word`` -> must, ``-word`` -> must_not, bare
    ``word`` -> should (default_operator OR), ``word^N`` -> integer
    boost by qf multiplicity (the BM25 kernel weights a term by its
    query frequency, so boost N == the term appearing N times — exact,
    no float weight channel needed). Returns word-level clauses
    ``{"must": [...], "should": [...], "must_not": [...]}`` with boost
    repetition; words normalize through the pinned tokenizer and
    OOV handling happens at term-id resolution (search_query_string).
    Phrases/fields/ranges are the named out-of-scope seams (the repo
    routes those through phrase_ranked / multi_match / range facets)."""
    out = {"must": [], "should": [], "must_not": []}
    for tok in q.split():
        boost = 1
        if "^" in tok:
            parts = tok.split("^")
            tok = parts[0]
            for b in reversed(parts[1:]):
                if b.isdigit() and int(b) >= 1:
                    boost = int(b)
                    break
        clause = "should"
        if tok.startswith("+"):
            clause, tok = "must", tok[1:]
        elif tok.startswith("-"):
            clause, tok = "must_not", tok[1:]
        # a token with internal punctuation ('title:join', 'a"b')
        # analyzes into its constituent terms, each under the token's
        # clause and boost — the ES query_string analyze-the-text
        # behavior (found by the hypothesis fuzz: _single_token raises
        # on multi-token input by contract)
        for w in tokenize_query(tok, nfc=nfc):
            out[clause] += [w] * (boost if clause != "must_not" else 1)
    return out


def search_query_string(spark: SparkSession, index, queries: list[str],
                        k: int = 10, nfc: bool = False) -> DataFrame:
    """query_string retrieval: parse each string, resolve words to term
    ids through the index vocabulary (OOV words DROP from their clause —
    the search_text contract; an OOV must_not is a no-op in both
    engines), and run the compound bool kernel. A query whose resolved
    must+should is empty (all positive words OOV, or only must_not
    clauses) yields ZERO hit rows for its query_id — the ES
    query_string behavior — rather than a BoolSpec ValueError.
    Returns the run_bool_queries shape (query_id, rank, doc_id,
    score_q)."""
    from dint_spark.bool_query import BoolSpec, run_bool_queries

    parsed = [parse_query_string(q, nfc=nfc) for q in queries]
    words = sorted({w for p in parsed for c in p.values() for w in c})
    tid = lookup_term_ids(index, words)
    kept: list[tuple[int, BoolSpec]] = []
    for qid, p in enumerate(parsed):
        must = [tid[w] for w in p["must"] if w in tid]
        should = [tid[w] for w in p["should"] if w in tid]
        if not must and not should:
            continue  # unscoreable query: no rows, not a crash
        kept.append((qid, BoolSpec(
            must=must, should=should,
            must_not=[tid[w] for w in p["must_not"] if w in tid])))
    if not kept:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score_q long")
    res = run_bool_queries(spark, index, [s for _, s in kept], k=k,
                           dtype="float64")
    if len(kept) == len(parsed):
        return res
    remap = spark.createDataFrame(
        [(i, qid) for i, (qid, _) in enumerate(kept)],
        "local_id long, query_id long")
    return (res.withColumnRenamed("query_id", "local_id")
            .join(F.broadcast(remap), "local_id")
            .select("query_id", "rank", "doc_id", "score_q"))


PINNED_BASE = 1 << 62  # pinned-slot score channel, above any quantized BM25


def search_pinned(spark: SparkSession, index, specs: list,
                  k: int = 10, algo: str = "block_max_wand_vec",
                  quant: float = 1e9) -> DataFrame:
    """The ES ``pinned`` query: per query, the promoted doc ids come
    FIRST in their given order (whether or not they match the organic
    query — the ES contract), then the organic BM25 results excluding
    the pinned ids fill the remaining slots. ``specs``: (term_ids,
    pinned_doc_ids) pairs. Pinned rows carry score_q = 2^62 - position
    (a synthetic channel above any quantized BM25 score, mirroring
    Lucene's pinned float ladder); organic rows the usual
    floor(score*quant). Returns (query_id, rank, doc_id, score_q).

    Scale shape: organic retrieval is the standard kernel fetching
    k + |pins| deep; the pin overlay is |queries| x k driver-side rank
    arithmetic — the result-page cost class."""
    from dint_spark.queries import run_queries

    max_pins = max((len(p) for _, p in specs), default=0)
    raw = run_queries(spark, index, [list(t) for t, _ in specs],
                      algo=algo, k=k + max_pins, dtype="float64")
    organic: dict[int, list] = {}
    for r in raw.collect():
        organic.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]),
             int(np.floor(float(r["score"]) * quant))))
    rows = []
    for qid, (_, pins) in enumerate(specs):
        pins = [int(d) for d in pins]
        out = [(d, PINNED_BASE - i) for i, d in enumerate(pins)]
        seen = set(pins)
        for d, sq in sorted(organic.get(qid, []),
                            key=lambda t: (-t[1], t[0])):
            if d in seen:
                continue
            out.append((d, sq))
            if len(out) >= k:
                break
        rows += [(qid, rank, d, sq)
                 for rank, (d, sq) in enumerate(out[:k], 1)]
    return spark.createDataFrame(
        rows,
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score_q", T.LongType(), False),
        ]))


PHRASE_LM_SCALE = 1 << 24   # unigram logprob quantum (ln * scale, floored)
PHRASE_EDIT_PENALTY_Q = -5 * PHRASE_LM_SCALE  # per-edit additive penalty


def suggest_phrase(
    spark: SparkSession,
    index,
    phrases: list[str],
    n: int = 3,
    max_cands: int = 3,
    fuzzy_path: str | None = None,
    nfc: bool = False,
) -> DataFrame:
    """The ES *phrase suggester* ("did you mean" over whole queries):
    per input phrase, candidate corrections are the cross product of
    each word's distance-<=1 vocabulary neighborhood (capped at
    ``max_cands`` per word by dist asc, df desc, term asc — the
    DirectSpellChecker order), scored by a df-based unigram language
    model plus a per-edit penalty, top-``n`` per phrase by (score desc,
    phrase asc).

    Scoring is quantized-integer end-to-end: per word,
    floor(ln(df / total_df) * 2^24) + dist * PENALTY, summed over the
    phrase — so the SQL oracle reproduces rows exactly (the
    unigram_logprob quantize-before-sum pattern). A word with NO
    neighborhood (OOV beyond distance 1) makes its phrase yield no
    rows — ES's suggester likewise returns nothing when a term has no
    correction.

    Scale shape: candidates come from ONE delete-1-table probe for the
    whole batch (pushed IN filter, per-key-bucket bounded — the
    suggest_spelling plan); the cross-product enumeration is driver-side
    over <= |phrases| * max_cands^words tiny tuples, the same documented
    driver-verify contract as suggest_spelling. The LM is index
    metadata (vocab df + one cached total), not a corpus scan."""
    import math

    qtoks = [[t for t in (_single_token(w, nfc=nfc) for w in p.split())
              if t is not None] for p in phrases]
    live = sorted({t for ts in qtoks for t in ts})
    total_df = int(index.vocab().agg(
        F.sum("df").alias("s")).collect()[0]["s"])
    out_rows: list[tuple] = []
    if live:
        rows = _fuzzy_candidate_rows(index, live, fuzzy_path)
        for qid, toks in enumerate(qtoks):
            if not toks:
                continue
            per_word: list[list[tuple[int, str]]] = []
            for tok in toks:
                hits = sorted(
                    (0 if r["term"] == tok else 1, -int(r["df"]),
                     r["term"])
                    for r in rows if _lev_le1(r["term"], tok))
                cands = []
                for dist, negdf, term in hits[:max_cands]:
                    qlp = math.floor(
                        math.log(-negdf / total_df) * PHRASE_LM_SCALE)
                    cands.append((qlp + dist * PHRASE_EDIT_PENALTY_Q,
                                  term))
                per_word.append(cands)
            if any(not c for c in per_word):
                continue
            combos = [(0, [])]
            for cands in per_word:
                combos = [(s + cs, words + [ct])
                          for s, words in combos for cs, ct in cands]
            ranked = sorted(((-s, " ".join(words)) for s, words in combos))
            for rank, (negs, phrase) in enumerate(ranked[:n], 1):
                out_rows.append((qid, rank, phrase, -negs))
    from pyspark.sql import types as T
    return spark.createDataFrame(
        out_rows,
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("phrase", T.StringType(), False),
            T.StructField("score_q", T.LongType(), False),
        ]))


def _cand_dist(term: str, tok: str, max_edits: int) -> int | None:
    """Exact distance of a delete-table candidate, or None past the
    bound: 0/1 via the DP-free check, 2 only when max_edits allows."""
    if term == tok:
        return 0
    if _lev_le1(term, tok):
        return 1
    if max_edits >= 2 and _lev_le(term, tok, 2):
        return 2
    return None


def _rank_and_cap(rows, toks: list, max_terms: int,
                  max_edits: int = 1) -> list[list[int]]:
    """Per-word verify (exact levenshtein <= max_edits) + deterministic
    (df DESC, term ASC) cap over the collected candidate rows."""
    out = []
    for tok in toks:
        if tok is None:
            out.append([])
            continue
        hits = sorted(((-int(r["df"]), r["term"], int(r["term_id"]))
                       for r in rows
                       if _cand_dist(r["term"], tok, max_edits) is not None))
        out.append(sorted(t for _, _, t in hits[:max_terms]))
    return out


def search_prefix(
    spark: SparkSession,
    index,
    prefixes: list[str],
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    max_terms: int = 64,
    nfc: bool = False,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Wildcard search: each query is a single ``prefix*`` term; matches
    rank by BM25 over the expanded disjunction (each expanded term scores
    with its own idf, qf=1 — multi-term-synonym semantics rather than
    Lucene's constant-score rewrite, so ranking stays comparable to
    run_queries). Returns (query_id, rank, doc_id, score)."""
    specs = [expand_prefix(index, p, max_terms=max_terms, nfc=nfc)
             for p in prefixes]
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter)


def search_fuzzy(
    spark: SparkSession,
    index,
    words: list[str],
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    max_terms: int = 64,
    fuzzy_path: str | None = None,
    nfc: bool = False,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Fuzzy search: each query is a single word matched against the
    vocabulary at levenshtein distance ≤ 1 (delete-neighborhood probe when
    build_fuzzy_table ran, distributed levenshtein scan otherwise), then
    ranked like search_prefix. Returns (query_id, rank, doc_id, score)."""
    specs = fuzzy_term_ids(index, words, max_terms=max_terms,
                           fuzzy_path=fuzzy_path, nfc=nfc)
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter)


def search_text(
    spark: SparkSession,
    index,
    queries: list[str],
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    phrase: bool = False,
    nfc: bool = False,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Ranked retrieval for raw query strings; query_id = position in
    ``queries``. ``phrase=True`` requires the exact consecutive phrase
    (positional index) and ranks matches by BM25 of the phrase's terms;
    a query whose every term is OOV (or, in phrase mode, with ANY OOV
    term) yields no rows. Returns (query_id, rank, doc_id, score)."""
    specs, oov = parse_queries(index, queries, nfc=nfc)
    if phrase:
        specs = [([] if o else s) for s, o in zip(specs, oov)]
        return run_phrase_queries_ranked(spark, index, specs, k=k,
                                         dtype=dtype, doc_filter=doc_filter)
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter)


def search_synonyms(
    spark: SparkSession,
    index,
    queries: list[str],
    synonyms: dict[str, list[str]],
    syn_weight: float = 0.5,
    algo: str = "block_max_wand",
    k: int = 10,
    dtype: str = "float64",
    nfc: bool = False,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Query-time synonym expansion (Lucene's SynonymQuery/SynonymGraph
    applied at query time — no reference counterpart): every occurrence
    of a query token contributes weight 1.0 to its own term and
    ``syn_weight`` to each synonym; per-term weights sum and the expanded
    query ranks as a weighted BM25 disjunction (run_queries
    weighted=True), so synonym hits score on the same scale as plain
    queries, discounted by ``syn_weight``.

    ``synonyms`` is a driver-side term -> [synonym terms] map (a
    thesaurus is dimension-sized; both sides normalize through the pinned
    single-token contract). OOV terms drop after expansion — a query
    whose every expanded term is OOV returns no rows. Keep ``syn_weight``
    a binary fraction (0.5, 0.25, ...) when SQL-oracle exactness matters:
    weight sums are then exact in any accumulation order.
    """
    syn_norm: dict[str, list[str]] = {}
    for w, alts in synonyms.items():
        t = _single_token(w, nfc=nfc)
        if t is None:
            continue
        outs = [_single_token(s, nfc=nfc) for s in alts]
        syn_norm[t] = [s for s in outs if s]

    toks = [tokenize_query(q, nfc=nfc) for q in queries]
    weights: list[dict[str, float]] = []
    for ts in toks:
        w: dict[str, float] = {}
        for t in ts:
            w[t] = w.get(t, 0.0) + 1.0
            for s in syn_norm.get(t, ()):
                w[s] = w.get(s, 0.0) + float(syn_weight)
        weights.append(w)

    tid = lookup_term_ids(index, [t for w in weights for t in w])
    specs = [sorted((tid[t], wt) for t, wt in w.items() if t in tid)
             for w in weights]
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter, weighted=True)


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback: expand -> weighted re-query
# ---------------------------------------------------------------------------

def rm3_relevance_model(
    spark: SparkSession,
    index,
    queries: list,
    docs_df: DataFrame,
    fb_docs: int = 10,
    fb_terms: int = 10,
    algo: str = "block_max_wand",
    dtype: str = "float64",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The distributed half of RM3: per query, the top-``fb_terms``
    relevance-model terms as a LAZY DataFrame (query_id, term, pq) with
    pq = floor(p(w|R) * 1e12). The candidate ids BROADCAST against
    ``docs_df``; tokenize/explode/aggregate run JVM-side; the output is
    |Q| x fb_terms rows (the only thing rm3_expand ever collects)."""
    from pyspark.sql import Window

    # over-fetch 2x raw, cut to fb_docs on the QUANTIZED score: the
    # feedback set boundary is decided by the reproducible ranking (the
    # rerank_by_embedding contract)
    raw = run_queries(spark, index, queries, algo=algo, k=2 * fb_docs,
                      dtype=dtype, doc_filter=doc_filter)
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    cands = (
        raw.withColumn("score_q",
                       F.floor(F.col("score").cast("double") * 1e9)
                       .cast("long"))
        .withColumn("crank", F.row_number().over(wq))
        .where(F.col("crank") <= fb_docs)
        .select("query_id", "doc_id")
    )

    toks = (
        docs_df.join(F.broadcast(cands), "doc_id")
        .select(
            "query_id", "doc_id",
            F.explode(F.array_remove(
                F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE), "")
            ).alias("term"))
    )
    tf = toks.groupBy("query_id", "doc_id", "term").agg(
        F.count("*").alias("tf"))
    dl = toks.groupBy("query_id", "doc_id").agg(F.count("*").alias("len"))
    nfb = cands.groupBy("query_id").agg(F.count("*").alias("n_fb"))
    rm = (
        tf.join(dl, ["query_id", "doc_id"])
        .withColumn("contrib", F.col("tf") / F.col("len"))
        .groupBy("query_id", "term")
        .agg(F.sum("contrib").alias("s"))
        .join(F.broadcast(nfb), "query_id")
        .withColumn("pq", F.floor(F.col("s") / F.col("n_fb") * 1e12)
                    .cast("long"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("pq"), F.asc("term"))
    return (
        rm.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= fb_terms)
        .select("query_id", "term", "pq")
    )


def rm3_expand(
    spark: SparkSession,
    index,
    queries: list,
    docs_df: DataFrame,
    fb_docs: int = 10,
    fb_terms: int = 10,
    orig_weight: float = 0.5,
    algo: str = "block_max_wand",
    dtype: str = "float64",
    doc_filter: DocMask | None = None,
) -> list:
    """RM3 pseudo-relevance-feedback expansion (Lavrenko & Croft relevance
    models; Lucene/Anserini's RM3 reranker — no reference counterpart,
    the reference has no feedback loop): per query, retrieve the BM25
    top-``fb_docs``, estimate the relevance model over their vocabulary
    with a uniform document prior,

        p(w|R) = (1/n_fb) * sum_{d in FB} tf(w,d) / |d|,

    take the top-``fb_terms`` expansion terms by (p desc, term asc) on a
    1e-12-quantized p (the quantization makes the selection and the final
    weights replayable in SQL), and return WEIGHTED query specs

        w(t) = a * qf_t/|q|  +  (1-a) * p(t|R) * [t selected],

    the interpolation of the original query distribution with the
    relevance model (a = ``orig_weight``). Feed the result to
    run_queries(..., weighted=True) — rm3_search does both steps.

    Scale shape: phase 1 is the standard pruned-scan batch; the feedback
    join BROADCASTS the candidate ids (|Q| x fb_docs rows) against
    ``docs_df`` (doc_id, text), tokenization/explode/aggregation stay
    JVM-side, and only |Q| x fb_terms expansion rows ever reach the
    driver. Nothing corpus-sized shuffles.
    """
    a = float(orig_weight)
    topn = rm3_relevance_model(spark, index, queries, docs_df,
                               fb_docs=fb_docs, fb_terms=fb_terms,
                               algo=algo, dtype=dtype,
                               doc_filter=doc_filter)
    # expansion terms -> ids through the pushed-filter vocab scan
    exp_rows = topn.collect()
    tid = lookup_term_ids(index, [r["term"] for r in exp_rows])
    exp: dict[int, list] = {}
    for r in exp_rows:
        t = tid.get(r["term"])
        if t is not None:
            exp.setdefault(int(r["query_id"]), []).append(
                (t, int(r["pq"])))

    specs: list[list[tuple[int, float]]] = []
    for qid, terms in enumerate(queries):
        from collections import Counter

        qf = Counter(int(t) for t in terms)
        ql = sum(qf.values())
        sel = dict(exp.get(qid, []))
        w = {t: a * (n / ql) for t, n in qf.items()}
        for t, pq in sel.items():
            w[t] = w.get(t, 0.0) + (1.0 - a) * (pq / 1e12)
        specs.append(sorted(w.items()))
    return specs


def rm3_search(
    spark: SparkSession,
    index,
    queries: list,
    docs_df: DataFrame,
    fb_docs: int = 10,
    fb_terms: int = 10,
    orig_weight: float = 0.5,
    k: int = 10,
    algo: str = "block_max_wand",
    dtype: str = "float64",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Full RM3 loop: retrieve -> relevance-model expansion -> weighted
    BM25 re-query (rm3_expand + run_queries(weighted=True))."""
    specs = rm3_expand(spark, index, queries, docs_df, fb_docs=fb_docs,
                       fb_terms=fb_terms, orig_weight=orig_weight,
                       algo=algo, dtype=dtype, doc_filter=doc_filter)
    return run_queries(spark, index, specs, algo=algo, k=k, dtype=dtype,
                       doc_filter=doc_filter, weighted=True)


# ---------------------------------------------------------------------------
# hybrid retrieval: lexical BM25 + vector cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------

def hybrid_rrf(
    spark: SparkSession,
    index,
    queries,
    embeddings: DataFrame,
    query_vecs: DataFrame,
    k: int = 10,
    k_each: int = 50,
    rrf_k: int = 60,
    algo: str = "block_max_wand",
    dtype: str = "float64",
    scale: int = 1 << 20,
    doc_filter: DocMask | None = None,
    vector_ranks: DataFrame | None = None,
) -> DataFrame:
    """Hybrid search: the lexical BM25 top-``k_each`` and the vector-cosine
    top-``k_each`` fuse by Reciprocal Rank Fusion (Cormack et al.; the
    default hybrid combiner of production search stacks),

        rrf(d) = 1/(rrf_k + lex_rank(d)) + 1/(rrf_k + vec_rank(d)),

    missing-side contributions are 0, ties break by doc_id. Both input
    rankings use the engine's quantized contracts (BM25 score at 1e-9,
    cosine at 1e-6 over ``scale``-quantized integer vectors), so the
    fused ranking is deterministic and replayable in SQL.

    ``vector_ranks``: optionally a precomputed (query_id, doc_id, vrank)
    DataFrame — plug in ann_lsh/ann_ivf output at crawl scale; the
    default is the exact broadcast-queries x corpus cosine baseline
    (ops.similarity's exactness configuration). Fusion itself is
    rank-arithmetic over 2 x |Q| x k_each rows — driver-trivial at any
    corpus size.
    """
    from pyspark.sql import Window

    raw = run_queries(spark, index, queries, algo=algo, k=2 * k_each,
                      dtype=dtype, doc_filter=doc_filter)
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    lex = (
        raw.withColumn("score_q",
                       F.floor(F.col("score").cast("double") * 1e9)
                       .cast("long"))
        .withColumn("lrank", F.row_number().over(wl))
        .where(F.col("lrank") <= k_each)
        .select("query_id", "doc_id", "lrank")
    )

    if vector_ranks is None:
        def _q(df: DataFrame, idc: str) -> DataFrame:
            eq = F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * scale).cast("long"))
            return df.select(
                F.col(idc), eq.alias("eq"),
                F.aggregate(eq, F.lit(0).cast("long"),
                            lambda a, x: a + x * x).alias("n2"))

        emb_q = _q(embeddings, "doc_id")
        qv_q = _q(query_vecs, "query_id").select(
            "query_id", F.col("eq").alias("q_eq"),
            F.col("n2").alias("q_n2"))
        dot = F.aggregate(
            F.zip_with("q_eq", "eq", lambda x, y: x * y),
            F.lit(0).cast("long"), lambda a, x: a + x)
        cos = F.col("dot") / F.sqrt(
            F.col("q_n2").cast("double") * F.col("n2").cast("double"))
        wv = Window.partitionBy("query_id").orderBy(
            F.desc("cos_q"), F.asc("doc_id"))
        vector_ranks = (
            F.broadcast(qv_q).crossJoin(emb_q)
            .withColumn("dot", dot)
            .withColumn("cos_q", F.floor(cos * 1e6).cast("long"))
            .withColumn("vrank", F.row_number().over(wv))
            .where(F.col("vrank") <= k_each)
            .select("query_id", "doc_id", "vrank")
        )

    fused = lex.join(vector_ranks, ["query_id", "doc_id"], "full_outer")
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("lrank")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("vrank")),
                     F.lit(0.0))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_q"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf_q", F.floor(rrf * 1e12).cast("long"))
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "rrf_q")
    )


# ---------------------------------------------------------------------------
# two-phase retrieval: BM25 candidates -> embedding-cosine rerank
# ---------------------------------------------------------------------------

def rerank_by_embedding(
    spark: SparkSession,
    index,
    queries,
    embeddings: DataFrame,
    query_vecs: DataFrame,
    n_candidates: int = 50,
    k: int = 10,
    algo: str = "block_max_wand",
    dtype: str = "float32",
    scale: int = 1 << 20,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Two-phase retrieval (the retrieve-then-rerank serving pattern):
    BM25 top-``n_candidates`` per query from the compressed index, then an
    EXACT cosine rerank of those candidates against a per-query embedding,
    returning the top-``k`` by (cosine desc, bm25 desc, doc_id asc).

    ``embeddings``: (doc_id, embedding array<float>) — the corpus-side
    vector table; ``query_vecs``: (query_id, embedding array<float>).
    Vectors are floor-quantized to integers at ``scale`` so the dot
    product is an exact (order-independent) i64 sum — the same numeric
    contract as ops.similarity, and the reason a SQL oracle can replay
    the ranking bit-for-bit. Cosines quantize to 1e-6 before ranking.

    Scale shape at 10^12 docs: phase 1 is the standard pruned-scan BMW
    batch (candidates = |queries| x n_candidates rows, tiny); phase 2
    BROADCASTS the candidate ids against the big embeddings table — the
    embeddings side streams, nothing corpus-sized shuffles, and the dot
    product runs JVM-side (zip_with/aggregate, no Python). No reference
    counterpart: the reference stops at BM25 top-k (queries.hpp:132-188);
    rerank is builder-brief LLM-pipeline scope.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T  # noqa: F401  (schema parity w/ file)

    # fetch 2x raw candidates, then cut to n_candidates on the QUANTIZED
    # score: the candidate boundary is then decided by the quantized
    # ranking (reproducible in SQL), and the headroom absorbs last-ulp
    # accumulation-order differences at the raw top-k edge — the same
    # contract as __spark_entry__._ranked
    raw = run_queries(spark, index, queries, algo=algo, k=2 * n_candidates,
                      dtype=dtype, doc_filter=doc_filter)
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    cands = (
        raw.withColumn("score_q",
                       F.floor(F.col("score").cast("double") * 1e9)
                       .cast("long"))
        .withColumn("crank", F.row_number().over(wq))
        .where(F.col("crank") <= n_candidates)
        .select("query_id", "doc_id", "score_q")
    )

    def _q(df: DataFrame, idc: str) -> DataFrame:
        eq = F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * scale).cast("long"))
        return df.select(
            F.col(idc),
            eq.alias("eq"),
            F.aggregate(eq, F.lit(0).cast("long"),
                        lambda a, x: a + x * x).alias("n2"),
        )

    emb_q = _q(embeddings, "doc_id")
    qv_q = _q(query_vecs, "query_id").select(
        "query_id", F.col("eq").alias("q_eq"), F.col("n2").alias("q_n2"))

    dot = F.aggregate(
        F.zip_with("eq", "q_eq", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda a, x: a + x)
    cos = F.col("dot") / F.sqrt(
        F.col("n2").cast("double") * F.col("q_n2").cast("double"))

    scored = (
        emb_q.join(F.broadcast(cands), "doc_id")
        .join(F.broadcast(qv_q), "query_id")
        .withColumn("dot", dot)
        .withColumn("cos_q", F.floor(cos * 1e6).cast("long"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_q"), F.desc("score_q"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "cos_q", "score_q")
    )
