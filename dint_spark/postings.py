"""Posting-list construction — the shuffle core.

pages -> tokenize -> explode -> (term_id, doc_id, tf) hash agg ->
salted repartition-by-term with explicit skew splitting of head terms ->
postings(term_id, df, doc_ids[], freqs[], lens[]).

Skew story (SURVEY §7.2): Zipfian head terms have posting lists ~N long. A
plain groupBy(term_id).collect_list would put an entire head list in one
task. We split every term whose df exceeds `chunk` into doc-range chunks
(salt = doc_id // chunk), build each chunk's sorted arrays in its own task,
then merge the few chunks per term with a cheap second aggregation
(arrays are pre-sorted and chunk doc-ranges are disjoint+increasing, so the
merge is sort_array(collect_list(struct(salt,...))) + flatten — no resort of
postings). This is the reference's ordered parallel build
(include/ds2i/semiasync_queue.hpp) re-expressed as a sort-merge shuffle.

At 10^12 docs the same plan holds: the first agg is map-side combinable,
the salted second shuffle bounds any task's data by `chunk`, and AQE skew
splitting is a second line of defence.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SKEW_CHUNK = 1 << 18  # max postings per build task for one term
# Max postings per SEGMENT ROW: a head term's posting list is emitted as
# ceil(df/SEG_CHUNK) rows of disjoint increasing doc ranges instead of one
# unbounded row (at 10^12 docs a stopword list is ~10^10 postings — one row
# would be a multi-GB task). Cursors over chunk rows compose exactly (see
# queries._cursors).
DEFAULT_SEG_CHUNK = 1 << 20

# Force-broadcast ceilings for the corpus-pass dimension joins (plan shape
# only — output bytes never depend on them). Sized for ~16 GiB executors:
# 8M term strings / 16M (doc_id, len) rows / 4M (term, salt, seg) rows are
# each a few-hundred-MB hash relation. Deployments with smaller executors
# lower them via IndexConfig (ADVICE round 2); past the ceiling the plan
# falls back to the scale-safe shuffle join.
DEFAULT_BC_MAX_TERMS = 8_000_000
DEFAULT_BC_MAX_DOCS = 16_000_000
DEFAULT_BC_MAX_SEGMAP_ROWS = 4_000_000

CHUNK_SCHEMA = T.StructType([
    T.StructField("term_id", T.LongType(), False),
    T.StructField("salt", T.LongType(), False),
    T.StructField("doc_ids", T.ArrayType(T.LongType()), False),
    T.StructField("freqs", T.ArrayType(T.LongType()), False),
    T.StructField("lens", T.ArrayType(T.LongType()), False),
])

# positional variant: poss is the FLAT concatenation (doc order) of each
# doc's within-doc term positions; freqs gives the per-doc cuts. Flat + cuts
# keeps the chunk row a primitive array (no nested-array Arrow rows) and the
# encoder consumes exactly this layout.
CHUNK_SCHEMA_POS = T.StructType(
    CHUNK_SCHEMA.fields
    + [T.StructField("poss", T.ArrayType(T.LongType()), False)]
)


def _assemble_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Turn a (term_id, salt, doc_id, tf, len[, poss])-sorted row stream into
    one array row per (term_id, salt) chunk.

    Memory is bounded by one Arrow batch plus one partial chunk carried
    across batch boundaries — unlike a collect_list aggregation, which
    buffers every group of the task at once (measured: heap OOM on a
    single 16 GiB executor at 100k docs). Grouping is vectorized
    (np.split at run boundaries). When the input carries a per-posting
    ``poss`` array column (positional indexes), each chunk row emits the
    flat concatenation of its postings' position arrays — sliced from one
    per-batch flattening, so chunk assembly stays loop-free."""
    carry_key = None
    carry: list[list[np.ndarray]] = [[], [], []]
    carry_pos: list[np.ndarray] = []
    has_pos = None

    def flush_rows(keys_t, keys_s, parts, pos_parts):
        out = {
            "term_id": keys_t, "salt": keys_s,
            "doc_ids": parts[0], "freqs": parts[1], "lens": parts[2],
        }
        if has_pos:
            out["poss"] = pos_parts
        return pd.DataFrame(out)

    for pdf in batches:
        if not len(pdf):
            continue
        if has_pos is None:
            has_pos = "poss" in pdf.columns
        t = pdf["term_id"].to_numpy()
        s = pdf["salt"].to_numpy()
        cols = [pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(),
                pdf["len"].to_numpy()]
        change = np.flatnonzero((t[1:] != t[:-1]) | (s[1:] != s[:-1])) + 1
        starts = np.concatenate([[0], change])
        parts = [np.split(c, change) for c in cols]  # len == len(starts)
        if has_pos:
            pos_rows = pdf["poss"].to_numpy()
            row_lens = np.fromiter((len(x) for x in pos_rows), np.int64,
                                   len(pos_rows))
            flat = (np.concatenate(pos_rows).astype(np.int64)
                    if row_lens.sum() else np.empty(0, np.int64))
            ro = np.concatenate([[0], np.cumsum(row_lens)])
            bounds = np.concatenate([starts, [len(t)]])
            pos_parts_in = [flat[ro[bounds[i]]:ro[bounds[i + 1]]]
                            for i in range(len(starts))]
        else:
            pos_parts_in = [None] * len(starts)
        keys = list(zip(t[starts].tolist(), s[starts].tolist()))

        if carry_key is not None and keys[0] == carry_key:
            # batch starts by continuing the carried chunk
            for ci in range(3):
                carry[ci].append(parts[ci][0])
            if has_pos:
                carry_pos.append(pos_parts_in[0])
            keys = keys[1:]
            for ci in range(3):
                parts[ci] = parts[ci][1:]
            pos_parts_in = pos_parts_in[1:]
        out_t, out_s, out_parts = [], [], [[], [], []]
        out_pos: list = []
        if carry_key is not None and keys:
            # a different key follows -> the carried chunk is complete
            out_t.append(carry_key[0])
            out_s.append(carry_key[1])
            for ci in range(3):
                out_parts[ci].append(np.concatenate(carry[ci]))
            if has_pos:
                out_pos.append(np.concatenate(carry_pos))
            carry_key = None
            carry = [[], [], []]
            carry_pos = []
        if keys:
            # all but the last group are closed; the last may continue
            for i in range(len(keys) - 1):
                out_t.append(keys[i][0])
                out_s.append(keys[i][1])
                for ci in range(3):
                    out_parts[ci].append(parts[ci][i])
                if has_pos:
                    out_pos.append(pos_parts_in[i])
            carry_key = keys[-1]
            carry = [[parts[ci][-1]] for ci in range(3)]
            carry_pos = [pos_parts_in[-1]] if has_pos else []
        if out_t:
            yield flush_rows(out_t, out_s, out_parts, out_pos)
    if carry_key is not None:
        yield flush_rows([carry_key[0]], [carry_key[1]],
                         [[np.concatenate(carry[ci])] for ci in range(3)],
                         [np.concatenate(carry_pos)] if has_pos else [])


def term_doc_freqs(doc_tokens: DataFrame, vocab: DataFrame,
                   num_terms_hint: int | None = None,
                   bc_max_terms: int = DEFAULT_BC_MAX_TERMS) -> DataFrame:
    """(term_id, doc_id, tf) — Catalyst hash aggregation with map-side
    partial combine; the vocab join is broadcast when small.

    ``num_terms_hint``: vocabulary size, if known (build_index observes it
    on the vocab write). When the vocab fits a broadcast (<= 8M terms),
    the plan flips to map-side broadcast-join the EXPLODED token stream
    first and aggregate on (term_id, doc_id) — integer group keys hash
    and partially combine far cheaper than term strings, and the partial
    rows entering the shuffle carry a long instead of the term bytes.
    Identical output: term <-> term_id is a bijection over the corpus
    vocabulary, so grouping before or after the mapping counts the same
    pairs (pinned by tests/test_join_hints.py). Without the hint (or at
    web-scale vocabularies, 10^8+) the plan aggregates by term string
    first and shuffle-joins the much smaller distinct (term, doc) stream
    against the vocab — the right order when the vocab itself must
    shuffle; the vocab arrives through a dense-rank pipeline whose size
    Catalyst cannot estimate, so the hint is what makes the choice."""
    exploded = doc_tokens.select("doc_id", F.explode("tokens").alias("term"))
    vocab_slim = vocab.select("term", "term_id")
    if num_terms_hint is not None and num_terms_hint <= bc_max_terms:
        return (
            exploded.join(F.broadcast(vocab_slim), "term")
            .groupBy("term_id", "doc_id")
            .agg(F.count("*").alias("tf"))
            .select("term_id", "doc_id", "tf")
        )
    return (
        exploded.groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .join(vocab_slim, "term")
        .select("term_id", "doc_id", "tf")
    )


def term_doc_positions(doc_tokens: DataFrame, vocab: DataFrame,
                       num_terms_hint: int | None = None,
                       bc_max_terms: int = DEFAULT_BC_MAX_TERMS) -> DataFrame:
    """(term_id, doc_id, tf, poss) — the positional variant of
    term_doc_freqs: posexplode keeps each token's within-doc ordinal, and
    the aggregation collects the sorted position array next to the count
    (tf == size(poss) by construction). Same broadcast-vs-shuffle vocab
    join policy as term_doc_freqs; the extra shuffle weight is inherent to
    positional indexes (every token occurrence carries its position), and
    the per-group state is bounded by a document's length — positions of
    one term in one doc — so no skew mechanism beyond the downstream
    salted split is needed."""
    exploded = doc_tokens.select(
        "doc_id", F.posexplode("tokens").alias("pos", "term"))
    vocab_slim = vocab.select("term", "term_id")
    if num_terms_hint is not None and num_terms_hint <= bc_max_terms:
        grouped = (
            exploded.join(F.broadcast(vocab_slim), "term")
            .groupBy("term_id", "doc_id")
        )
    else:
        grouped = (
            exploded.groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("poss"))
            .join(vocab_slim, "term")
            .select("term_id", "doc_id", "tf", "poss")
        )
        return grouped
    return (
        grouped.agg(F.count("*").alias("tf"),
                    F.sort_array(F.collect_list("pos")).alias("poss"))
        .select("term_id", "doc_id", "tf", "poss")
    )


def build_postings(
    term_doc_tf: DataFrame,
    doclens: DataFrame,
    skew_chunk: int = DEFAULT_SKEW_CHUNK,
    seg_chunk: int = DEFAULT_SEG_CHUNK,
    num_partitions: int | None = None,
    segmap_rows_hint: int | None = None,
    num_docs_hint: int | None = None,
    bc_max_docs: int = DEFAULT_BC_MAX_DOCS,
    bc_max_segmap_rows: int = DEFAULT_BC_MAX_SEGMAP_ROWS,
) -> DataFrame:
    """postings(term_id, seg_id, df, doc_ids, freqs, lens), doc_ids strictly
    increasing within a row; a term's rows (ordered by seg_id) cover
    disjoint increasing doc ranges of <= ~seg_chunk postings each, so no
    task, row, or aggregation group ever holds more than ~seg_chunk
    postings — head terms are merged by the QUERY side's multi-row cursor
    composition, not by an unbounded groupBy. `df` is the row's own
    posting count (per-term df = sum over the term's rows).

    lens are the per-posting document lengths (needed by the encoder for
    block-max BM25 metadata; dropped after encode).

    ``segmap_rows_hint``: an upper bound on the (term_id, salt, seg_id)
    map's row count, if the caller knows one. Segmap has one row per
    DISTINCT (term_id, salt) pair — a salt chunk is occupied by a single
    posting, not by skew_chunk of them — so the only valid bounds
    computable from corpus aggregates are (a) total postings (<= sum of
    token counts: each posting occupies >= 1 (term, salt) slot) and (b)
    num_terms * ceil(num_docs / skew_chunk) (every term can occupy every
    chunk at most once); build_index passes min(a, b) from its write-time
    observations (the round-2 hint num_terms + sum_len // skew_chunk was
    NOT a bound — a Zipfian mid-scale corpus beats it by orders of
    magnitude and would force a multi-GB broadcast, ADVICE round 2). When
    the bound is small the segmap join is forced broadcast, which removes
    one of the two full shuffles of the posting-row stream (the static
    plan is a SortMergeJoin whose build side is a tiny aggregate:
    Catalyst's size estimate for it is poor and AQE's runtime conversion
    still pays the big side's shuffle write). At 10^12 docs the bound
    exceeds the threshold and the plan falls back to the scale-safe
    shuffle join.

    ``num_docs_hint``: corpus document count, if known. The doclens join
    attaches a per-posting document length; auto-broadcast stops at the
    10 MB estimate (~600k docs), after which Catalyst silently flips to a
    SortMergeJoin that shuffles the ENTIRE posting-row stream by doc_id —
    measured as a dominant share of the 10^6-doc corpus phase. A
    doclens broadcast is only doc-count-bounded (16 bytes/doc), so force
    it up to ``bc_max_docs`` docs (default 16M ~ 0.5 GB hash relation on
    16 GiB executors; IndexConfig.bc_max_docs lowers it for smaller
    executors); past that — and always at the 10^12-doc regime, where
    builds are docid-sharded anyway — the shuffle join is the right
    plan."""
    with_len = term_doc_tf.join(
        F.broadcast(doclens)
        if num_docs_hint is not None and num_docs_hint <= bc_max_docs
        else doclens,
        "doc_id")

    salted = with_len.withColumn(
        "salt", (F.col("doc_id") / F.lit(skew_chunk)).cast("long")
    )

    # seg assignment: per (term, salt) counts are a tiny map-side-combined
    # aggregation; a running sum over salt order maps each salt chunk to
    # seg_id = floor(preceding_postings / seg_chunk). Consecutive salts
    # merge into one seg until the bound is reached, so sparse terms get a
    # single row while head terms split every ~seg_chunk postings (a row is
    # bounded by seg_chunk + skew_chunk). The per-term window holds only
    # (salt, cnt) pairs: <= universe/skew_chunk tiny rows even for
    # stopwords at 10^12 docs.
    counts = salted.groupBy("term_id", "salt").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("term_id").orderBy("salt")
    segmap = (
        counts.withColumn("prev", F.sum("cnt").over(w) - F.col("cnt"))
        .withColumn("seg_id", (F.col("prev") / F.lit(seg_chunk)).cast("long"))
        .select("term_id", "salt", "seg_id")
    )
    if segmap_rows_hint is not None and segmap_rows_hint <= bc_max_segmap_rows:
        segmap = F.broadcast(segmap)

    # sort-merge shuffle + streaming assembly: rows shuffle by (term, seg)
    # hash, sort within partitions, and one vectorized mapInPandas pass
    # folds contiguous runs into array rows. Unlike collect_list, task
    # memory is bounded by an Arrow batch + one seg row, which is what
    # survives a 100 TB corpus; Spark's external sort spills, an
    # aggregation map does not. (Salt ranges increase with doc_id, so
    # sorting by (term, seg, doc) keeps each seg's docs contiguous+sorted.)
    with_positions = "poss" in term_doc_tf.columns
    sel_cols = ["term_id", F.col("seg_id").alias("salt"), "doc_id", "tf",
                "len"] + (["poss"] if with_positions else [])
    keyed = salted.join(segmap, ["term_id", "salt"]).select(*sel_cols)
    rep = (keyed.repartition(num_partitions, "term_id", "salt")
           if num_partitions else keyed.repartition("term_id", "salt"))
    # NB: assembly output is sorted by term_id within each partition (the
    # sortWithinPartitions order survives mapInPandas), so the checkpoint
    # write can lay out pbucket dirs WITHOUT a second shuffle
    # (index.write_postings_checkpoint pre_arranged=True).
    chunks = (
        rep.sortWithinPartitions("term_id", "salt", "doc_id")
        .mapInPandas(_assemble_chunks,
                     schema=CHUNK_SCHEMA_POS if with_positions
                     else CHUNK_SCHEMA)
    )

    return chunks.select(
        "term_id",
        F.col("salt").alias("seg_id"),
        F.size("doc_ids").alias("df"),
        "doc_ids", "freqs", "lens",
        *(["poss"] if with_positions else []),
    )
