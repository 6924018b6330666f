"""Docid-sharded index: the 10^12-document scale path (README "Scale
design", implemented round 2).

The DINT codec is u32-domain (reference parity: uint32 docIDs throughout,
include/ds2i/binary_collection.hpp:15). Beyond 2^32 documents — and long
before that, beyond what one norm_lens broadcast or one term's merged
posting rows should hold — the corpus is split into document shards:

  * global pass: tokenize + dense GLOBAL doc ids (url rank) + global
    doclens/vocab/avg_len. One job; artifacts land in out_dir.
  * shard s covers global ids [base_s, base_s + count_s); its index stores
    dense SHARD-LOCAL ids (global - base_s, u32-safe) and is built by the
    standard resumable pipeline with the GLOBAL vocabulary (shared term
    ids) and GLOBAL avg_len (identical BM25 norms).
  * query: document-partitioned serving — every query fans out to all
    shards; each shard's kernel runs with GLOBAL (N, df) statistics, so
    per-doc float32 scores are bit-identical to the unsharded build; local
    ids shift back by base_s and the per-shard exact top-k merge into the
    global exact top-k by (score desc, doc_id asc). Tested equal to the
    single-shard build in tests/test_sharding.py.

Per-shard norm_lens broadcasts are shard-sized (num_docs_s), which removes
the round-1 ceiling of one dense num_docs array on the driver.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dint_spark.ids import add_dense_index
from dint_spark.index import (Index, IndexConfig, build_index, load_index,
                              vocab_ensure_ttf)
from dint_spark.queries import PIN_BUDGET_BYTES, run_queries
from dint_spark.tokenizer import assign_doc_ids, build_vocab, doclens, tokenize

SHARD_MANIFEST = "shards.json"

log = logging.getLogger(__name__)


def build_sharded_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    num_shards: int,
    config: IndexConfig | None = None,
) -> "ShardedIndex":
    """Build (or resume) a num_shards-way docid-sharded index at out_dir."""
    config = config or IndexConfig()
    os.makedirs(out_dir, exist_ok=True)
    man_path = os.path.join(out_dir, SHARD_MANIFEST)
    vocab_path = os.path.join(out_dir, "vocab.parquet")
    dl_path = os.path.join(out_dir, "doclens.parquet")

    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
    else:
        # ---- global corpus pass (one job family, checkpointed) -----------
        # slim projection before the dense-id sort (same rationale as
        # index.build_index: only url+text enter the shuffle/persists)
        docs = tokenize(assign_doc_ids(pages.select("url", "text"))
                        ).select("doc_id", "tokens")
        docs = docs.persist()
        doclens(docs).write.mode("overwrite").parquet(dl_path)
        build_vocab(docs).write.mode("overwrite").parquet(vocab_path)
        docs.unpersist()
        dl = spark.read.parquet(dl_path)
        agg = dl.agg(F.count("*").alias("n"), F.sum("len").alias("s")).collect()[0]
        num_docs = int(agg["n"])
        sum_len = int(agg["s"] or 0)
        avg_len = sum_len / num_docs
        per = -(-num_docs // num_shards)  # ceil
        bases = [min(s * per, num_docs) for s in range(num_shards)] + [num_docs]
        man = {
            "num_shards": num_shards,
            "num_docs": num_docs,
            "avg_len": avg_len,
            "sum_len": sum_len,  # exact, so appends recompute avg exactly
            "bases": bases,
        }
        tmp = man_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, man_path)

    # ---- per-shard resumable builds (shard-local dense u32 ids) ----------
    vocab = spark.read.parquet(vocab_path)
    # re-derive tokens once for all shard builds; each shard filters its
    # global-id range and localizes ids by subtracting the base
    docs_all = None
    bases = man["bases"]
    for s in range(man["num_shards"]):
        sdir = os.path.join(out_dir, f"shard={s}")
        smf = os.path.join(sdir, "manifest.json")
        if os.path.exists(smf):
            try:
                load_index(spark, sdir)  # loads only once "meta" is done
                continue
            except Exception as e:
                log.warning("shard %d (%s) does not load (%s: %s); "
                            "rebuilding it", s, sdir, type(e).__name__, e)
            try:
                with open(smf) as f:
                    json.load(f)
            except ValueError:  # unreadable: no step in it can resume
                os.remove(smf)
        if docs_all is None:
            docs_all = (
                tokenize(assign_doc_ids(pages.select("url", "text")))
                .select("doc_id", "tokens")
                .persist()
            )
        lo, hi = bases[s], bases[s + 1]
        sdocs = docs_all.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select((F.col("doc_id") - lo).alias("doc_id"), "tokens")
        build_index(
            spark, None, sdir, config,
            corpus_docs=sdocs, vocab_df=vocab,
            avg_len_override=man["avg_len"],
        )
    if docs_all is not None:
        docs_all.unpersist()
    return ShardedIndex(spark, out_dir)


class ShardedIndex:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.dir = out_dir
        with open(os.path.join(out_dir, SHARD_MANIFEST)) as f:
            self.manifest = json.load(f)
        self.num_docs = int(self.manifest["num_docs"])
        self.avg_len = float(self.manifest["avg_len"])
        # exact f64 global average: from the exact token total when the
        # manifest records it (all new builds + every append), else the
        # stored float (pre-append manifests, where it IS the build value)
        if "sum_len" in self.manifest and self.num_docs:
            self.avg_len_f64 = int(self.manifest["sum_len"]) / self.num_docs
        else:
            self.avg_len_f64 = float(self.manifest["avg_len"])
        self.bases = [int(b) for b in self.manifest["bases"]]
        self.shards: list[Index] = [
            load_index(spark, os.path.join(out_dir, f"shard={s}"))
            for s in range(int(self.manifest["num_shards"]))
        ]
        self._df_cache: dict[int, int] = {}

    def vocab(self) -> DataFrame:
        vf = self.manifest.get("vocab_file", "vocab.parquet")
        return self.spark.read.parquet(os.path.join(self.dir, vf))

    def term_df(self, term_ids: list[int]) -> dict[int, int]:
        """GLOBAL df for the batch's terms (one pruned vocab scan)."""
        missing = [t for t in term_ids if t not in self._df_cache]
        if missing:
            rows = (
                self.vocab()
                .where(F.col("term_id").isin([int(t) for t in missing]))
                .select("term_id", "df")
                .collect()
            )
            for r in rows:
                self._df_cache[int(r["term_id"])] = int(r["df"])
        return {t: self._df_cache[t] for t in term_ids if t in self._df_cache}


def append_docs(
    spark: SparkSession,
    sidx: ShardedIndex,
    new_pages: DataFrame,
    config: IndexConfig | None = None,
    extra_manifest: dict | None = None,
) -> ShardedIndex:
    """Incrementally ADD documents to a sharded index: the new docs become
    one new epoch shard; nothing already built is rewritten except the
    vocabulary sidecar. With delete_docs_sharded (remove) and
    compact.compact_index (rewrite) this completes the index-maintenance
    lifecycle — the Lucene segment model, re-expressed over the shard
    fan-out. No reference counterpart: the reference index is immutable
    once frozen (src/create_freq_index.cpp:103-106).

    What an append does (each step idempotent; the manifest commit is the
    atomic last step, so a crashed append resumes by re-running):

      * new docs get global ids [num_docs, num_docs + n_new) — dense url
        rank within the batch, appended after every existing epoch;
      * the vocabulary EXTENDS, never re-ranks: existing terms keep their
        term_id (every built shard stays valid) with df increased by the
        batch's contribution; unseen terms append after the current max id
        ranked by (batch df desc, term asc). The updated vocab lands in a
        NEW versioned file (vocab_v{K}.parquet) and the manifest points at
        it — old readers never see a half-written table;
      * the new shard builds through the standard resumable pipeline with
        the extended vocab and the POST-append global avg_len baked in;
      * the manifest records the exact new token total (sum_len), so the
        global average is exact after any number of appends.

    Query-time exactness across epochs (run_queries_sharded): global
    (N, df) flow through the existing df_overrides/idf_docs channel, and
    epochs whose baked avg_len predates the append re-derive norms from
    raw lens (Index.norm_lens_for) — results are bit-identical to a
    fresh build over the union corpus (tests/test_append.py).

    Scale shape: one tokenize pass over ONLY the new batch, one hash join
    of the batch's term dfs against the vocab (vocab-sized, but a columnar
    copy-through — no corpus data), one standard shard build. Appending
    never touches existing epochs' postings.

    Re-running after a SUCCESSFUL append with the same batch appends it
    again (standard append semantics) — dedup/idempotency across calls is
    the caller's contract, e.g. keying batches by crawl snapshot.
    ``extra_manifest`` entries merge into the SAME atomic manifest commit
    as the append itself — what streaming.stream_ingest_epochs uses to
    record the micro-batch id exactly-once (marker and epoch can never
    disagree).
    """
    man = dict(sidx.manifest)
    n_old = int(man["num_docs"])
    k = int(man["num_shards"])
    if "sum_len" in man:
        sum_old = int(man["sum_len"])
    else:  # pre-append manifest: one exact scan of the build's doclens
        sum_old = int(
            spark.read.parquet(os.path.join(sidx.dir, "doclens.parquet"))
            .agg(F.sum("len").alias("s")).collect()[0]["s"] or 0)

    docs_new = (
        tokenize(assign_doc_ids(new_pages.select("url", "text")))
        .select("doc_id", "tokens")
        .persist()
    )
    dl = doclens(docs_new)
    agg = dl.agg(F.count("*").alias("n"), F.sum("len").alias("s")).collect()[0]
    n_new = int(agg["n"])
    if n_new == 0:
        docs_new.unpersist()
        return sidx
    s_new = int(agg["s"])
    n_total, sum_total = n_old + n_new, sum_old + s_new
    avg_f64 = sum_total / n_total

    # epoch doclens sidecar with GLOBAL ids (audit/lineage; each shard also
    # keeps its own local doclens for norms)
    dl.select((F.col("doc_id") + n_old).alias("doc_id"), "len") \
        .write.mode("overwrite") \
        .parquet(os.path.join(sidx.dir, f"doclens_epoch{k}.parquet"))

    # ---- extended vocabulary (stable ids, updated dfs) --------------------
    # pre-ttf vocab layouts (indexes built before ttf was vocabulary
    # metadata) backfill ttf exactly from the shards' postings checkpoints
    old_vocab = vocab_ensure_ttf(
        spark, sidx.vocab(),
        [os.path.join(sh.dir, "postings.parquet") for sh in sidx.shards])
    next_id = int(old_vocab.agg(F.max("term_id")).collect()[0][0]) + 1
    tf_new = (
        docs_new.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    )
    delta = tf_new.groupBy("term").agg(
        F.count("*").alias("df_new"), F.sum("c").alias("ttf_new"))
    merged = old_vocab.join(delta, "term", "full_outer")
    known = merged.where(F.col("term_id").isNotNull()).select(
        "term",
        (F.col("df") + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
        (F.col("ttf") + F.coalesce(F.col("ttf_new"), F.lit(0)))
        .alias("ttf"),
        "term_id",
    )
    fresh = add_dense_index(
        merged.where(F.col("term_id").isNull())
        .select("term", F.col("df_new").alias("df"),
                F.col("ttf_new").alias("ttf")),
        [F.col("df").desc(), F.col("term").asc()], "term_id",
    ).select("term", "df", "ttf",
             (F.col("term_id") + next_id).alias("term_id"))
    vocab_file = f"vocab_v{k}.parquet"
    known.unionByName(fresh).write.mode("overwrite").parquet(
        os.path.join(sidx.dir, vocab_file))
    vocab_new = spark.read.parquet(os.path.join(sidx.dir, vocab_file))

    # ---- the epoch shard (standard resumable build) ------------------------
    if config is None:
        config = IndexConfig(**sidx.shards[0].manifest["config"])
    build_index(
        spark, None, os.path.join(sidx.dir, f"shard={k}"), config,
        corpus_docs=docs_new, vocab_df=vocab_new,
        avg_len_override=avg_f64,
    )
    docs_new.unpersist()

    # ---- atomic manifest commit -------------------------------------------
    man["num_shards"] = k + 1
    man["num_docs"] = n_total
    man["sum_len"] = sum_total
    man["avg_len"] = avg_f64
    man["bases"] = list(man["bases"]) + [n_total]
    man["vocab_file"] = vocab_file
    man.setdefault("appends", []).append(
        {"shard": k, "num_docs": n_new, "sum_len": s_new})
    if extra_manifest:
        man.update(extra_manifest)
    man_path = os.path.join(sidx.dir, SHARD_MANIFEST)
    tmp = man_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, man_path)
    return ShardedIndex(spark, sidx.dir)


def build_doc_filters_sharded(spark: SparkSession, sidx: ShardedIndex,
                              allowed: DataFrame, id_col: str = "doc_id"
                              ) -> list:
    """Route a GLOBAL allowlist to per-shard DocMasks — filter state stays
    document-partitioned like the index and its tombstones
    (delete_docs_sharded): each shard's bitmap is bounded by the shard
    size, and no global bitmap ever materializes (a 10^12-doc corpus is
    ~10^5 shards of 2 MiB bitmaps, each pinned only where its shard
    serves). ONE Spark job packs every shard's chunks: shard ownership
    comes from the manifest bases — a single integer DIV when the shards
    are the build's equal-width layout, a JVM-side scan of the (tiny)
    bases array when appends (append_docs) have added variable-width
    epochs — then the same distributed packbits as
    queries.build_doc_filter keyed by (shard, chunk)."""
    import numpy as np
    import pandas as pd

    from dint_spark.queries import _FILTER_CHUNK_BITS, DocMask

    nsh = len(sidx.shards)
    bases = sidx.bases
    per = -(-sidx.num_docs // nsh)  # ceil; bases[s] = s * per pre-append
    uniform = all(bases[s] == min(s * per, sidx.num_docs)
                  for s in range(nsh + 1))
    ids = allowed.select(F.col(id_col).cast("long").alias("doc_id"))
    if uniform:
        ids = (ids.withColumn("shard", F.expr(f"doc_id DIV {per}"))
               .withColumn("local", F.col("doc_id") - F.col("shard") * per))
    else:
        cuts = F.array(*[F.lit(int(b)) for b in bases[1:-1]])
        lows = F.array(*[F.lit(int(b)) for b in bases[:-1]])
        ids = (
            ids.withColumn(
                "shard",
                F.aggregate(
                    cuts, F.lit(0),
                    lambda acc, b: acc
                    + F.when(F.col("doc_id") >= b, 1).otherwise(0)))
            .withColumn(
                "local",
                F.col("doc_id")
                - F.element_at(lows, F.col("shard").cast("int") + 1))
        )
    rows = (
        ids.withColumn("chunk", F.shiftright("local", 19))
        .groupBy("shard", "chunk")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard, chunk = int(pdf["shard"].iloc[0]), int(pdf["chunk"].iloc[0])
        loc = pdf["local"].to_numpy()
        bits = np.zeros(_FILTER_CHUNK_BITS, dtype=bool)
        bits[loc - (chunk << 19)] = True
        return pd.DataFrame({
            "shard": [shard], "chunk": [chunk],
            "max_local": [int(loc.max())],
            "bits": [np.packbits(bits, bitorder="little").tobytes()],
        })

    collected = rows.applyInPandas(
        pack, "shard long, chunk long, max_local long, bits binary"
    ).collect()
    cbytes = _FILTER_CHUNK_BITS // 8
    packed = [np.zeros((idx.num_docs + 7) // 8, dtype=np.uint8)
              for idx in sidx.shards]
    for r in collected:
        s, c = int(r["shard"]), int(r["chunk"])
        if not (0 <= s < nsh) or int(r["max_local"]) >= sidx.shards[s].num_docs:
            raise ValueError(
                f"allowed doc id out of range (shard {s}, "
                f"max_local {r['max_local']})")
        buf = np.frombuffer(r["bits"], dtype=np.uint8)
        end = min((c + 1) * cbytes, len(packed[s]))
        packed[s][c * cbytes:end] = buf[: end - c * cbytes]
    return [DocMask(p, idx.num_docs)
            for p, idx in zip(packed, sidx.shards)]


def run_queries_sharded(
    spark: SparkSession,
    sidx: ShardedIndex,
    queries: list,
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    doc_filters: list | None = None,
) -> DataFrame:
    """Document-partitioned fan-out: per-shard exact top-k with GLOBAL
    (N, df) statistics, shifted to global doc ids and merged to the global
    exact top-k. Returns (query_id, rank, doc_id, score) like run_queries.
    ``doc_filters``: per-shard DocMasks from build_doc_filters_sharded."""
    if doc_filters is not None and len(doc_filters) != len(sidx.shards):
        raise ValueError(f"doc_filters must have one DocMask per shard "
                         f"({len(sidx.shards)}), got {len(doc_filters)}")
    terms = sorted({int(t) for ts in queries for t in ts})
    dfo = sidx.term_df(terms)
    parts = []
    for s, idx in enumerate(sidx.shards):
        base = sidx.bases[s]
        # epochs built before an append baked a smaller corpus's avg_len;
        # hand them the CURRENT global average (norms re-derive from raw
        # lens — run_queries docstring). Shards already baked at the
        # global value get None: byte-identical to the pre-append
        # behavior, norms straight off the Index cache.
        avg_ovr = (sidx.avg_len_f64
                   if idx.avg_len_f64 != sidx.avg_len_f64 else None)
        r = run_queries(
            spark, idx, queries, algo=algo, k=k, dtype=dtype,
            df_overrides=dfo, idf_docs=sidx.num_docs,
            doc_filter=doc_filters[s] if doc_filters is not None else None,
            avg_len_override=avg_ovr,
        )
        parts.append(
            r.select(
                "query_id", (F.col("doc_id") + base).alias("doc_id"), "score"
            )
        )
    return _merge_topk(parts, k)


def _merge_topk(parts: list, k: int) -> DataFrame:
    """Union the shards' (query_id, doc_id, score) candidates and take the
    global exact top-k by (score desc, doc_id asc) — each shard already
    returned its local exact top-k, so the union holds every possible
    global winner and the merge reproduces the kernels' (score desc,
    doc_id asc) tie-breaks."""
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        allr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "score")
    )


class ShardedQueryServer:
    """Document-partitioned SERVING over a sharded (and possibly appended)
    index: one BroadcastQueryServer per epoch shard, each pinning its doc
    range's segments executor-side once, every batch fanning out to all of
    them and merging to the global exact top-k — the production topology
    of web search at 10^12 docs (one pinned shard per executor group).

    Global statistics are fixed at construction: N = the manifest's
    num_docs, per-term df = the sum of every shard's pinned posting counts
    (each shard pin's ``term_cost`` is exactly its build-time df per term —
    no vocabulary scan), and epochs whose baked avg_len predates an append
    re-pin their norm array under the CURRENT global average
    (queries.BroadcastQueryServer override channel). Results are
    bit-identical to run_queries_sharded and to a fresh unsharded build
    (tests/test_append.py).

    ``terms=None`` pins each shard's whole index; a term list pins only
    those terms' segments (queries outside it see no postings). The
    broadcast budget applies PER SHARD.
    """

    def __init__(self, spark: SparkSession, sidx: ShardedIndex,
                 terms: list | None = None, dtype: str = "float32",
                 max_broadcast_bytes: int = PIN_BUDGET_BYTES):
        from dint_spark.queries import BroadcastQueryServer

        self.spark = spark
        self.sidx = sidx
        self.servers = []
        for idx in sidx.shards:
            avg_ovr = (sidx.avg_len_f64
                       if idx.avg_len_f64 != sidx.avg_len_f64 else None)
            self.servers.append(BroadcastQueryServer(
                spark, idx, terms=terms, dtype=dtype,
                max_broadcast_bytes=max_broadcast_bytes,
                idf_docs=sidx.num_docs, avg_len_override=avg_ovr))
        dfo: dict[int, int] = {}
        for srv in self.servers:
            for t, n in srv.pin.term_cost.items():
                dfo[t] = dfo.get(t, 0) + int(n)
        # ONE broadcast of the global df map, handed to every shard server
        # through its per-call statistics
        self.dfo_bc = spark.sparkContext.broadcast(dfo)

    def serve(self, queries: list, algo: str = "block_max_wand_vec",
              k: int = 10, partitions: int | None = None,
              doc_filters: list | None = None) -> DataFrame:
        """One batch against every pinned shard; returns the global exact
        (query_id, rank, doc_id, score). ``doc_filters``: per-shard
        DocMasks from build_doc_filters_sharded."""
        if doc_filters is not None and len(doc_filters) != len(self.servers):
            raise ValueError(
                f"doc_filters must have one DocMask per shard "
                f"({len(self.servers)}), got {len(doc_filters)}")
        parts = []
        for s, srv in enumerate(self.servers):
            r = srv._serve(
                queries, algo, k, partitions,
                doc_filters[s] if doc_filters is not None else None,
                srv.stats._replace(dfo_bc=self.dfo_bc))
            parts.append(r.select(
                "query_id",
                (F.col("doc_id") + self.sidx.bases[s]).alias("doc_id"),
                "score"))
        return _merge_topk(parts, k)


def update_docs(spark: SparkSession, sidx: ShardedIndex,
                doc_ids, new_pages: DataFrame,
                config: IndexConfig | None = None) -> ShardedIndex:
    """The ES update-by-id lifecycle over the shard fan-out: tombstone
    the old versions, append the new ones as an epoch shard — exactly
    what Lucene does for an update (delete + add; the internal docid
    changes, the user-facing key — here the url — persists). Composes
    the two already-verified primitives, so the update inherits their
    contracts: tombstones are O(1)-per-shard masks, the append touches
    only the batch, statistics follow the delete_docs/append_docs
    staleness rules until compaction. ``doc_ids`` are the GLOBAL ids of
    the superseded versions; ``new_pages`` carries the replacement
    (url, text, ...) rows. Pinned against delete+append equivalence and
    retrieval of the new content in tests/test_update.py."""
    delete_docs_sharded(spark, sidx, doc_ids)
    return append_docs(spark, sidx, new_pages, config=config)


def delete_docs_sharded(spark: SparkSession, sidx: ShardedIndex,
                        doc_ids) -> int:
    """Tombstone GLOBAL doc ids across a sharded index.

    Ids route to their owning shard via the manifest bases and tombstone
    shard-locally (index.delete_docs), so run_queries_sharded's per-shard
    fan-out applies each shard's live mask automatically — the tombstone
    state is as document-partitioned as the index itself (no global
    deleted-set broadcast ever exists, which is what keeps deletes O(1)
    per shard at 10^12 docs). Statistics stay at pre-delete GLOBAL values
    until compaction, exactly the unsharded delete_docs contract.
    Idempotent; returns the number of newly deleted ids."""
    import numpy as np

    from dint_spark.index import delete_docs as _delete_docs

    ids = np.unique(np.asarray([int(d) for d in doc_ids], dtype=np.int64))
    if len(ids) and (ids[0] < 0 or ids[-1] >= sidx.num_docs):
        raise ValueError(
            f"delete_docs_sharded: doc ids must be in [0, {sidx.num_docs}); "
            f"got range [{ids[0]}, {ids[-1]}]")
    bases = np.asarray(sidx.bases[:-1], dtype=np.int64)
    owner = np.searchsorted(bases, ids, side="right") - 1
    total = 0
    for s, idx in enumerate(sidx.shards):
        mine = ids[owner == s] - bases[s]
        if len(mine):
            total += _delete_docs(spark, idx, mine.tolist())
    return total


def _fanout_positional(spark, sidx: ShardedIndex, runner, out_cols):
    parts = []
    for s, idx in enumerate(sidx.shards):
        base = sidx.bases[s]
        r = runner(s, idx)
        parts.append(r.select(
            out_cols[0], (F.col("doc_id") + base).alias("doc_id"),
            *out_cols[2:]))
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr


def run_phrase_queries_sharded(spark: SparkSession, sidx: ShardedIndex,
                               phrases: list,
                               doc_filters: list | None = None) -> DataFrame:
    """Exact-phrase retrieval fanned out over a docid-sharded POSITIONAL
    index. Phrase matching needs no cross-shard statistics (unlike BM25's
    global N/df), so the fan-out is a plain union: each shard matches its
    doc range with shard-local ids, shifts by the manifest base, and the
    union IS the global result (shards partition the doc space). Requires
    every shard built with IndexConfig(positions=True)."""
    from dint_spark.queries import run_phrase_queries

    return _fanout_positional(
        spark, sidx,
        lambda s, idx: run_phrase_queries(
            spark, idx, phrases,
            doc_filter=doc_filters[s] if doc_filters is not None else None),
        ["query_id", "doc_id", "phrase_tf"])


def run_proximity_queries_sharded(spark: SparkSession, sidx: ShardedIndex,
                                  pairs: list, window: int = 8,
                                  doc_filters: list | None = None
                                  ) -> DataFrame:
    """Ordered within-window proximity over a docid-sharded positional
    index — same plain-union fan-out as run_phrase_queries_sharded."""
    from dint_spark.queries import run_proximity_queries

    return _fanout_positional(
        spark, sidx,
        lambda s, idx: run_proximity_queries(
            spark, idx, pairs, window=window,
            doc_filter=doc_filters[s] if doc_filters is not None else None),
        ["query_id", "doc_id", "phrase_tf"])
