"""End-to-end index build + load, resumable from per-bucket checkpoints.

Pipeline (one line per Spark action / checkpoint):

  pages --tokenize+doc_ids--> docs            (checkpoint: doclens, vocab)
  docs  --explode+agg+salt--> postings        (checkpoint: postings.parquet)
  postings --stats job-->     DINT dicts      (checkpoint: dict_*.npz)
  postings --encode UDF-->    segments        (checkpoint: segments/bucket=K)

Every checkpoint is keyed into manifest.json with lineage (config hash,
input tag, per-bucket compression metrics), mirroring the reference's
create_or_load memoization (include/dint/block_statistics.hpp:26-43,
dict_freq_index.hpp:139-161) and satisfying the north rule's
resumable-with-lineage requirement. Re-running build_index on a partial
index completes only the missing buckets.

Segments are globally sorted, term-range-partitioned parquet: bucket K holds
terms [K*terms_per_bucket, (K+1)*terms_per_bucket); within a bucket files are
sorted by term_id (repartitionByRange + sortWithinPartitions = the sort-merge
shuffle of the north rule; parquet min/max stats give term_id pushdown, which
replaces the reference's Elias-Fano endpoint index, dict_freq_index.hpp:97-100).
"""

from __future__ import annotations

import json
import os
import time
import hashlib
from dataclasses import dataclass, asdict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dint_spark.bm25 import BM25
from dint_spark.dint.codec import encode_lists_batch
from dint_spark.dint.dictionary import DintDictionary, load_dictionary
from dint_spark.dint.stats import learn_dictionaries
from dint_spark.postings import (
    DEFAULT_BC_MAX_DOCS, DEFAULT_BC_MAX_SEGMAP_ROWS, DEFAULT_BC_MAX_TERMS,
    DEFAULT_SEG_CHUNK, DEFAULT_SKEW_CHUNK, build_postings, term_doc_freqs,
    term_doc_positions)
from dint_spark.tokenizer import assign_doc_ids, build_vocab, doclens, tokenize

SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("seg_id", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("block_maxs", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_scores", T.ArrayType(T.FloatType()), False),
        T.StructField("endpoints", T.ArrayType(T.LongType()), False),
        T.StructField("freq_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("max_weight", T.FloatType(), False),
        T.StructField("docs_bytes", T.LongType(), False),
        T.StructField("freqs_bytes", T.LongType(), False),
    ]
)

# positional indexes add a separately-addressed positions stream per segment
# row: pos_payload holds the per-doc-gapped within-doc positions (flat, doc
# cuts = the freqs), block layout identical to the freqs stream, with its
# own endpoints so phrase kernels can skip straight to candidate blocks.
# A separate column (not spliced into `payload`) keeps non-positional
# queries' parquet scans free of position bytes via column pruning.
SEGMENTS_SCHEMA_POS = T.StructType(
    SEGMENTS_SCHEMA.fields
    + [
        T.StructField("pos_payload", T.BinaryType(), False),
        T.StructField("pos_endpoints", T.ArrayType(T.LongType()), False),
        T.StructField("pos_bytes", T.LongType(), False),
    ]
)


@dataclass
class IndexConfig:
    optimal_parse: bool = True
    skew_chunk: int = DEFAULT_SKEW_CHUNK
    seg_chunk: int = DEFAULT_SEG_CHUNK
    num_buckets: int = 8
    tokenizer_version: str = "nfc-lower-alnum-v1"
    input_tag: str = ""
    # "single" = one dictionary per stream (reference single_packed);
    # "multi" = per-context dictionaries chosen per block (multi_packed,
    # num_dicts=2 -> the double-dictionary variant)
    dict_variant: str = "single"
    pattern_selection: str = "dsf"  # or "pdf" (paper variant)
    num_dicts: int = 2
    # dictionary artifact compaction: "pack" (B8 dedupe + prefix sharing,
    # ref pack_policy) or "overlap" (B9 substring drop + greedy superstring
    # packing, ref overlap_policy; smaller artifact, slower to serialize)
    dict_compaction: str = "pack"
    # pattern-stats sampling: 1 = scan every list (reference parity,
    # block_statistics.hpp:45-109); S > 1 learns the dictionary from a
    # deterministic 1/S sample of posting lists — the scale knob that makes
    # the stats pass O(data/S) at 10^12 docs. Round-trip/query correctness
    # is dict-agnostic; only compression ratio drifts, and only when the
    # sample is small in ABSOLUTE terms (S=8 on the 1M-posting bench corpus
    # measured +18% docs_bpi — tail patterns fall under the cost threshold;
    # at 10^12 docs a 1/64 sample still counts ~10^10 postings and the
    # 65k-entry dictionary saturates long before that).
    stats_sample_mod: int = 1
    # force-broadcast ceilings for the corpus-pass dimension joins (vocab,
    # doclens, segmap — postings.py docstrings carry the derivations).
    # Execution-plan tuning only: output bytes never depend on them, so
    # they are excluded from config_hash and constrained clusters can
    # lower them (or zero them out) without invalidating resume.
    bc_max_terms: int = DEFAULT_BC_MAX_TERMS
    bc_max_docs: int = DEFAULT_BC_MAX_DOCS
    bc_max_segmap_rows: int = DEFAULT_BC_MAX_SEGMAP_ROWS
    # positional index: postings carry within-doc term positions, segments
    # gain a third DINT-coded stream (pos_payload/pos_endpoints) and a third
    # learned dictionary — enables phrase / proximity retrieval
    positions: bool = False

    def config_hash(self) -> str:
        d = asdict(self)
        # default-valued late-added knobs are dropped from the hash so
        # indexes built before the knob existed still resume cleanly
        if d.get("stats_sample_mod", 1) == 1:
            d.pop("stats_sample_mod", None)
        if not d.get("positions", False):
            d.pop("positions", None)
        # plan-shape knobs never change the built index's bytes
        for k in ("bc_max_terms", "bc_max_docs", "bc_max_segmap_rows"):
            d.pop(k, None)
        return hashlib.sha256(
            json.dumps(d, sort_keys=True).encode()
        ).hexdigest()[:16]


def _atomic_write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def make_encode_udf(docs_dict_bc, freqs_dict_bc, avg_len: float, optimal: bool,
                    pos_dict_bc=None):
    with_pos = pos_dict_bc is not None
    schema = SEGMENTS_SCHEMA_POS if with_pos else SEGMENTS_SCHEMA

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs_dict = docs_dict_bc.value
        freqs_dict = freqs_dict_bc.value
        pos_dict = pos_dict_bc.value if with_pos else None
        avg = np.float32(avg_len)
        for pdf in batches:
            docs_arrs = [np.asarray(d, dtype=np.int64) for d in pdf["doc_ids"]]
            freqs_arrs = [np.asarray(f, dtype=np.int64) for f in pdf["freqs"]]
            # batched encode: lockstep BIC + lockstep optimal-parse DP
            # across all lists of the Arrow batch (byte-identical to
            # per-list encode_list; ~3x on the bench corpus)
            encoded = encode_lists_batch(
                docs_arrs, freqs_arrs, docs_dict, freqs_dict, optimal=optimal
            )
            if with_pos:
                from dint_spark.dint.codec import (
                    encode_value_streams_batch, positions_to_gaps)
                streams = [
                    positions_to_gaps(np.asarray(p, dtype=np.int64), f)
                    for p, f in zip(pdf["poss"], freqs_arrs)
                ]
                pos_encoded = encode_value_streams_batch(
                    streams, pos_dict, optimal=optimal)
            out_rows = []
            for i, ((term_id, seg_id, lens), docs, freqs, enc) in enumerate(
                zip(
                    zip(pdf["term_id"], pdf["seg_id"], pdf["lens"]),
                    docs_arrs, freqs_arrs, encoded,
                )
            ):
                payload, bmax, endp, foff = enc
                norm = np.asarray(lens, dtype=np.float32) / avg
                weights = BM25.doc_term_weight(freqs, norm)
                bms = np.maximum.reduceat(
                    weights, np.arange(0, len(docs), 256))
                docs_bytes = int((foff - endp).sum())
                row = (
                    int(term_id),
                    int(seg_id),
                    len(docs),
                    bmax.tolist(),
                    bms.astype(np.float32).tolist(),
                    endp.tolist(),
                    foff.tolist(),
                    payload,
                    float(weights.max()),
                    docs_bytes,
                    len(payload) - docs_bytes,
                )
                if with_pos:
                    pos_payload, pos_endp = pos_encoded[i]
                    row = row + (pos_payload, pos_endp.tolist(),
                                 len(pos_payload))
                out_rows.append(row)
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[f.name for f in schema.fields],
                )

    return encode


def write_postings_checkpoint(
    postings: DataFrame,
    path: str,
    num_terms: int,
    num_buckets: int,
    par: int,
    pre_arranged: bool = False,
) -> int:
    """Write the postings checkpoint in the deterministic term-range layout:
    pbucket = term_id // terms_per_bucket partition dirs (partition pruning
    for the per-bucket encode jobs; no RangePartitioner sampling pass since
    term ids are dense 0..V-1), term-sorted files within each dir. Returns
    the total posting count, observed on the write job itself.

    ``pre_arranged=True`` skips the shuffle+sort: the fresh-build path's
    assembly pass (postings.build_postings) already emits rows partitioned
    by (term_id, seg) and term-sorted within each partition, so the
    partitionBy write here needs no second full shuffle of the postings
    table (each task writes its slice of every pbucket dir it holds).
    Merge/compaction paths pass False and pay the arranging shuffle."""
    tpb = max(1, -(-num_terms // num_buckets))
    obs = Observation()
    df = postings.withColumn(
        "pbucket", (F.col("term_id") / F.lit(tpb)).cast("int"))
    if not pre_arranged:
        df = (
            df.repartition(par, "pbucket", F.col("term_id") % F.lit(par))
            .sortWithinPartitions("term_id", "seg_id")
        )
    (
        df.observe(obs, F.sum(F.size("doc_ids")).alias("tp"))
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(path)
    )
    return int(obs.get["tp"] or 0)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    config: IndexConfig | None = None,
    corpus_docs: DataFrame | None = None,
    vocab_df: DataFrame | None = None,
    avg_len_override: float | None = None,
) -> "Index":
    """Build (or resume building) the index at out_dir.

    Sharded builds (sharding.build_sharded_index) pass a prepared corpus:
    `corpus_docs` = (doc_id, tokens) with SHARD-LOCAL dense doc ids,
    `vocab_df` = the GLOBAL vocabulary (term ids shared across shards), and
    `avg_len_override` = the GLOBAL average document length, so per-shard
    BM25 norms match the unsharded build exactly."""
    config = config or IndexConfig()
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "manifest.json")
    manifest = _read_json(manifest_path) if os.path.exists(manifest_path) else {
        "config": asdict(config),
        "config_hash": config.config_hash(),
        "steps": {},
        "buckets": {},
    }
    if manifest["config_hash"] != config.config_hash():
        raise ValueError(
            f"index at {out_dir} was built with a different config "
            f"({manifest['config_hash']} != {config.config_hash()}); "
            "use a fresh out_dir"
        )

    def done(step: str) -> bool:
        return step in manifest["steps"]

    def mark(step: str, **meta) -> None:
        manifest["steps"][step] = {"ts": time.time(), **meta}
        _atomic_write_json(manifest_path, manifest)

    t0 = time.time()
    doclens_path = os.path.join(out_dir, "doclens.parquet")
    vocab_path = os.path.join(out_dir, "vocab.parquet")
    postings_path = os.path.join(out_dir, "postings.parquet")

    # -- step 1: tokenize + ids + doclens + vocab ---------------------------
    if not done("corpus"):
        if corpus_docs is not None:
            docs = corpus_docs.select("doc_id", "tokens")
        else:
            # slim BEFORE the dense-id sort: only (url, text) enter the
            # range shuffle + persists + the Arrow/Python round trip of
            # add_dense_index — html/warc_ts/lang are pruned at the scan
            # (never read from parquet input) instead of riding through
            # every corpus stage; tokenize runs JVM-side AFTER ids, in the
            # same stage as the docs persist. Measured: 1M-doc corpus
            # phase dropped ~4x (BENCH.md "1M-doc absolute-scale run").
            docs = tokenize(assign_doc_ids(pages.select("url", "text"))
                            ).select("doc_id", "tokens")
        docs = docs.persist()
        dl = doclens(docs)
        # observe the write instead of re-aggregating later: num_docs and
        # sum_len land in the manifest, so no later phase (or resume) pays
        # a doclens scan for them
        dl_obs = Observation("doclens_agg")
        dl = dl.observe(dl_obs, F.count(F.lit(1)).alias("n"),
                        F.sum("len").alias("s"))
        dl.write.mode("overwrite").parquet(doclens_path)
        vocab = vocab_df if vocab_df is not None else build_vocab(docs)
        # term count observed on the vocab write (saves the count() job the
        # deterministic pbucket layout needs for its bucket boundaries)
        v_obs = Observation("vocab_agg")
        vocab = vocab.observe(v_obs, F.count(F.lit(1)).alias("n"))
        vocab.write.mode("overwrite").parquet(vocab_path)
        # -- step 2: postings (the shuffle core), term-sorted checkpoint ----
        dl2 = spark.read.parquet(doclens_path)
        vocab2 = spark.read.parquet(vocab_path)
        # persist tdf: build_postings consumes it on two branches (the
        # seg-assignment counts and the main assembly), and without the
        # persist the explode+agg+vocab-join pipeline runs twice
        tdf_fn = term_doc_positions if config.positions else term_doc_freqs
        tdf = tdf_fn(docs, vocab2,
                     num_terms_hint=int(v_obs.get["n"]),
                     bc_max_terms=config.bc_max_terms).persist()
        par0 = max(spark.sparkContext.defaultParallelism, config.num_buckets)
        # upper bound on segmap rows from the write-time observations
        # (`or 0` guards the empty corpus, where F.sum observes NULL):
        # segmap has one row per DISTINCT (term, salt) pair, bounded both
        # by total postings (<= sum_len: every posting fills >= 1 slot)
        # and by num_terms * ceil(num_docs / skew_chunk) (a term occupies
        # each chunk at most once). min of the two is a true bound at any
        # corpus shape — the old num_terms + sum_len // skew_chunk was not
        # (a Zipfian mid-scale corpus has far more occupied (term, salt)
        # slots than postings/skew_chunk; ADVICE round 2). Lets
        # build_postings force the segmap join broadcast only below the
        # scale where the broadcast is actually safe.
        dm0 = dl_obs.get
        n_terms0 = int(v_obs.get["n"] or 0)
        n_docs0 = int(dm0["n"] or 0)
        sum_len0 = int(dm0["s"] or 0)
        n_chunks0 = -(-n_docs0 // config.skew_chunk) if n_docs0 else 0
        segmap_hint = min(sum_len0, n_terms0 * n_chunks0)
        postings = build_postings(tdf, dl2, skew_chunk=config.skew_chunk,
                                  seg_chunk=config.seg_chunk,
                                  num_partitions=par0,
                                  segmap_rows_hint=segmap_hint,
                                  num_docs_hint=n_docs0,
                                  bc_max_docs=config.bc_max_docs,
                                  bc_max_segmap_rows=config.bc_max_segmap_rows)
        # DETERMINISTIC term-range layout: term ids are dense 0..V-1, so the
        # bucket boundaries are known without RangePartitioner's sampling
        # pass (which re-materialized the whole persisted postings table in
        # round 1). pbucket doubles as a parquet partition dir, giving the
        # per-bucket encode jobs partition pruning on their term range. More
        # write partitions than buckets keeps all cores writing.
        # total postings observed on the write: the dictionary cost
        # filter needs it and would otherwise re-scan the checkpoint
        total_postings = write_postings_checkpoint(
            postings, postings_path, n_terms0, config.num_buckets, par0,
            pre_arranged=True)
        tdf.unpersist()
        docs.unpersist()
        mark("corpus", wall_s=time.time() - t0, num_terms=n_terms0,
             num_docs=n_docs0, sum_len=sum_len0,
             total_postings=total_postings)

    corpus_meta = manifest["steps"]["corpus"]
    if "num_docs" in corpus_meta:
        num_docs, sum_len = corpus_meta["num_docs"], corpus_meta["sum_len"]
    else:  # manifest written by an older build: one small doclens scan
        agg = spark.read.parquet(doclens_path).agg(
            F.count("*").alias("n"), F.sum("len").alias("s")).collect()[0]
        num_docs, sum_len = agg["n"], agg["s"]
    if num_docs == 0 and avg_len_override is None:
        raise ValueError(
            "build_index: empty corpus (0 documents) — nothing to index")
    avg_len_f64 = (float(avg_len_override) if avg_len_override is not None
                   else sum_len / num_docs)
    avg_len = float(np.float32(avg_len_f64))
    postings = spark.read.parquet(postings_path)

    # -- step 3: learn DINT dictionaries (create_or_load semantics) ---------
    dict_docs_path = os.path.join(out_dir, "dict_docs.npz")
    dict_freqs_path = os.path.join(out_dir, "dict_freqs.npz")
    dict_pos_path = os.path.join(out_dir, "dict_pos.npz")
    if not done("dicts"):
        t1 = time.time()
        learned = learn_dictionaries(
            postings,
            selection=config.pattern_selection,
            variant=config.dict_variant,
            num_dicts=config.num_dicts,
            total_integers=corpus_meta.get("total_postings"),
            sample_mod=config.stats_sample_mod,
            with_positions=config.positions,
        )
        if config.positions:
            docs_dict, freqs_dict, pos_dict, info = learned
            with open(dict_pos_path, "wb") as f:
                f.write(pos_dict.to_bytes(policy=config.dict_compaction))
        else:
            docs_dict, freqs_dict, info = learned
        with open(dict_docs_path, "wb") as f:
            f.write(docs_dict.to_bytes(policy=config.dict_compaction))
        with open(dict_freqs_path, "wb") as f:
            f.write(freqs_dict.to_bytes(policy=config.dict_compaction))
        mark("dicts", wall_s=time.time() - t1, **info)
    with open(dict_docs_path, "rb") as f:
        docs_dict = load_dictionary(f.read())
    with open(dict_freqs_path, "rb") as f:
        freqs_dict = load_dictionary(f.read())
    pos_dict = None
    if config.positions:
        with open(dict_pos_path, "rb") as f:
            pos_dict = load_dictionary(f.read())

    # -- step 4: encode per term-range bucket (resumable) -------------------
    num_terms = corpus_meta.get("num_terms") or spark.read.parquet(
        vocab_path).count()
    terms_per_bucket = max(1, -(-num_terms // config.num_buckets))
    docs_bc = spark.sparkContext.broadcast(docs_dict)
    freqs_bc = spark.sparkContext.broadcast(freqs_dict)
    pos_bc = (spark.sparkContext.broadcast(pos_dict)
              if config.positions else None)
    encode_udf = make_encode_udf(docs_bc, freqs_bc, avg_len,
                                 config.optimal_parse, pos_dict_bc=pos_bc)
    seg_schema = SEGMENTS_SCHEMA_POS if config.positions else SEGMENTS_SCHEMA

    # encode buckets CONCURRENTLY (Spark FIFO-schedules the jobs; each is a
    # mapInPandas over an explicit repartition so every core stays busy even
    # when a bucket's term range spans few parquet files) — the parallel
    # pipelined build of ref semiasync_queue.hpp at job granularity
    import threading
    from concurrent.futures import ThreadPoolExecutor

    par = max(spark.sparkContext.defaultParallelism, config.num_buckets)
    manifest_lock = threading.Lock()

    def encode_bucket(bucket: int) -> None:
        key = str(bucket)
        tb = time.time()
        lo = bucket * terms_per_bucket
        hi = lo + terms_per_bucket
        seg_path = os.path.join(out_dir, "segments", f"bucket={bucket}")
        part = postings.where((F.col("term_id") >= lo) & (F.col("term_id") < hi))
        if "pbucket" in postings.columns:
            # postings are laid out as pbucket=K dirs on the same term
            # ranges: partition pruning, not just row-group pruning
            part = part.where(F.col("pbucket") == bucket)
        part = part.select("term_id", "seg_id", "doc_ids", "freqs", "lens",
                           *(["poss"] if config.positions else []))
        # spread the bucket across all cores ONLY when the scan itself
        # yields too few splits (small buckets at test scale). At corpus
        # scale a bucket spans many parquet splits already, and an
        # unconditional round-robin repartition would re-shuffle the whole
        # postings table a second time for zero balance gain.
        if part.rdd.getNumPartitions() < par:
            part = part.repartition(par)
        segs = part.mapInPandas(encode_udf, schema=seg_schema)
        # per-bucket compression metrics observed on the write job itself
        # (a re-read aggregation doubled the bucket's job count and re-
        # scanned every segment byte)
        obs = Observation(f"bucket_{bucket}_metrics")
        obs_cols = [
            F.count(F.lit(1)).alias("lists"),
            F.sum("n").alias("postings"),
            F.sum("docs_bytes").alias("docs_bytes"),
            F.sum("freqs_bytes").alias("freqs_bytes"),
        ]
        if config.positions:
            obs_cols.append(F.sum("pos_bytes").alias("pos_bytes"))
        segs = segs.observe(obs, *obs_cols)
        segs.write.mode("overwrite").parquet(seg_path)
        m = obs.get
        postings_count = m["postings"] or 0
        entry = {
            "term_lo": lo,
            "term_hi": hi,
            "lists": m["lists"],
            "postings": int(postings_count),
            "docs_bytes": int(m["docs_bytes"] or 0),
            "freqs_bytes": int(m["freqs_bytes"] or 0),
            **({"pos_bytes": int(m["pos_bytes"] or 0)}
               if config.positions else {}),
            "docs_bpi": (m["docs_bytes"] or 0) * 8 / max(postings_count, 1),
            "freqs_bpi": (m["freqs_bytes"] or 0) * 8 / max(postings_count, 1),
            "wall_s": time.time() - tb,
            "lineage": {
                "config_hash": config.config_hash(),
                "dict_docs": docs_dict.content_hash(),
                "dict_freqs": freqs_dict.content_hash(),
                "input_tag": config.input_tag,
            },
        }
        with manifest_lock:
            manifest["buckets"][key] = entry
            _atomic_write_json(manifest_path, manifest)

    todo = [b for b in range(config.num_buckets)
            if str(b) not in manifest["buckets"]]
    if todo:
        with ThreadPoolExecutor(max_workers=min(4, len(todo))) as ex:
            list(ex.map(encode_bucket, todo))

    if "meta" not in manifest["steps"]:
        mark(
            "meta",
            num_docs=int(num_docs),
            num_terms=int(num_terms),
            avg_len=avg_len,
            avg_len_f64=float(avg_len_f64),
            total_wall_s=time.time() - t0,
        )
    return load_index(spark, out_dir)


class Index:
    """Loaded index handle: lazy segments DataFrame + driver-side wand data
    (norm_lens float32[N] — the reference's wand_data, wand_data.hpp:20-53)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.dir = out_dir
        self.manifest = _read_json(os.path.join(out_dir, "manifest.json"))
        meta = self.manifest["steps"]["meta"]
        self.num_docs = meta["num_docs"]
        self.num_terms = meta["num_terms"]
        self.avg_len = meta["avg_len"]
        with open(os.path.join(out_dir, "dict_docs.npz"), "rb") as f:
            self.docs_dict = load_dictionary(f.read())
        with open(os.path.join(out_dir, "dict_freqs.npz"), "rb") as f:
            self.freqs_dict = load_dictionary(f.read())
        pos_path = os.path.join(out_dir, "dict_pos.npz")
        self.pos_dict = None
        if os.path.exists(pos_path):
            with open(pos_path, "rb") as f:
                self.pos_dict = load_dictionary(f.read())
        self.has_positions = self.pos_dict is not None
        self.avg_len_f64 = meta.get("avg_len_f64", meta["avg_len"])
        self._norm_lens = None
        self._norm_lens64 = None
        self._lens = None
        self._vocab_map = None
        self._deleted = None

    @property
    def segments(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "segments"))

    @property
    def terms_per_bucket(self) -> int:
        """Term-range width of each bucket=K partition dir (drives
        bucket-level partition pruning for wide query batches)."""
        b0 = self.manifest["buckets"]["0"]
        return max(1, int(b0["term_hi"]) - int(b0["term_lo"]))

    @property
    def lens(self) -> np.ndarray:
        if self._lens is None:
            pdf = (
                self.spark.read.parquet(os.path.join(self.dir, "doclens.parquet"))
                .toPandas()
            )
            lens = np.zeros(self.num_docs, dtype=np.int64)
            lens[pdf["doc_id"].to_numpy()] = pdf["len"].to_numpy()
            self._lens = lens
        return self._lens

    @property
    def norm_lens(self) -> np.ndarray:
        if self._norm_lens is None:
            self._norm_lens = self.lens.astype(np.float32) / np.float32(self.avg_len)
        return self._norm_lens

    @property
    def norm_lens64(self) -> np.ndarray:
        """float64 variant for cross-checking against SQL oracles."""
        if self._norm_lens64 is None:
            self._norm_lens64 = self.lens.astype(np.float64) / self.avg_len_f64
        return self._norm_lens64

    def norm_lens_for(self, avg_len_f64: float, dtype: str) -> np.ndarray:
        """norm_lens recomputed under a caller-supplied GLOBAL average
        document length (exactly what a fresh build over the grown corpus
        would store: f32 lens / f32(avg), or f64 lens / avg). Used by the
        incremental-append query path (sharding.append_docs): epochs built
        before an append baked the then-current avg_len into their stored
        norms and max-weight metadata; scoring stays exact because norms
        are derived from the RAW lens here. No kernel reads the stored
        max-weight metadata as a bound, so it needs no correction."""
        key = (float(avg_len_f64), dtype)
        cache = getattr(self, "_norm_cache", None)
        if cache is None:
            cache = self._norm_cache = {}
        if key not in cache:
            if dtype == "float32":
                cache[key] = (self.lens.astype(np.float32)
                              / np.float32(avg_len_f64))
            else:
                cache[key] = self.lens.astype(np.float64) / float(avg_len_f64)
        return cache[key]

    def deleted_docs(self) -> np.ndarray:
        """Sorted doc ids tombstoned by delete_docs (empty array if none).
        Collected driver-side: tombstones are assumed small relative to the
        corpus, and under docid sharding each shard holds only its own
        doc-local tombstones — the same bounding argument as norm_lens."""
        if self._deleted is None:
            ddir = os.path.join(self.dir, "deletes")
            if not os.path.isdir(ddir):
                self._deleted = np.empty(0, dtype=np.int64)
            else:
                pdf = self.spark.read.parquet(ddir).toPandas()
                self._deleted = np.unique(
                    pdf["doc_id"].to_numpy().astype(np.int64))
        return self._deleted

    @property
    def has_deletes(self) -> bool:
        return len(self.deleted_docs()) > 0

    @property
    def live_doc_count(self) -> int:
        return self.num_docs - len(self.deleted_docs())

    def vocab(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "vocab.parquet"))

    def term_ids(self, words: list[str]) -> dict[str, int]:
        if self._vocab_map is None:
            pdf = self.vocab().select("term", "term_id").toPandas()
            self._vocab_map = dict(zip(pdf["term"], pdf["term_id"]))
        return {w: self._vocab_map[w] for w in words if w in self._vocab_map}

    def record_decode_metrics(self, parallelism: int | None = None) -> dict:
        """Decode every bucket (index partition), verify completeness, and
        persist per-bucket decode-rate metrics into manifest.json next to
        the encode-time compression metrics — the north rule's
        "compression-ratio/decode-rate metrics persisted per partition"
        (the reference logs both sides per run, vroom_env/encode.cpp:97-108
        + decode.cpp:47-70; here the decode side is a separate validation
        job so the build path stays single-pass).

        Raises ValueError if any bucket decodes to a different posting
        count than the manifest recorded at encode time (a truncated or
        corrupted partition). Returns {bucket: metrics} with lists,
        postings, in-loop decode_secs, ints_per_sec_core and a
        content checksum (stable across re-runs — re-running and comparing
        checksums is the cheap periodic integrity probe)."""
        from dint_spark.queries import bucket_decode_metrics

        stats = bucket_decode_metrics(self, parallelism=parallelism)
        buckets = self.manifest["buckets"]
        for k, meta in buckets.items():
            got = stats.get(int(k))
            if got is None or got["postings"] != meta["postings"] \
                    or got["lists"] != meta["lists"]:
                raise ValueError(
                    f"bucket {k}: decoded "
                    f"{got and (got['lists'], got['postings'])} != encoded "
                    f"({meta['lists']}, {meta['postings']}) — partition "
                    "truncated or corrupted")
            meta["decode"] = got
        _atomic_write_json(os.path.join(self.dir, "manifest.json"),
                           self.manifest)
        return stats

    def metrics(self) -> dict:
        b = self.manifest["buckets"]
        postings = sum(v["postings"] for v in b.values())
        return {
            "postings": postings,
            "docs_bpi": sum(v["docs_bytes"] for v in b.values()) * 8 / max(postings, 1),
            "freqs_bpi": sum(v["freqs_bytes"] for v in b.values()) * 8 / max(postings, 1),
            "num_docs": self.num_docs,
            "num_terms": self.num_terms,
        }


def load_index(spark: SparkSession, out_dir: str) -> Index:
    return Index(spark, out_dir)


def vocab_ensure_ttf(spark: SparkSession, vocab: DataFrame,
                     postings_paths: list[str]) -> DataFrame:
    """Return ``vocab`` with a guaranteed ``ttf`` column.

    Indexes built before ttf became vocabulary metadata (pre-ttf
    layouts — e.g. the committed 1M gate index) lack the column;
    append/merge/update need it to extend the vocabulary. Recompute it
    EXACTLY from the raw postings checkpoint(s): ttf(term) = sum of the
    term's freqs arrays across segments and shards. One aggregate over
    the term-partitioned parquet (array-sum inside the scan, then a
    hash agg on term_id) — no corpus re-tokenize, no driver collect.
    Terms absent from postings (df=0 can't occur, but guard anyway)
    coalesce to 0.
    """
    if "ttf" in vocab.columns:
        return vocab
    from pyspark.sql import functions as F
    p = spark.read.parquet(*postings_paths)
    ttf = (p.select(
               "term_id",
               F.aggregate("freqs", F.lit(0).cast("long"),
                           lambda a, x: a + x).alias("t"))
           .groupBy("term_id").agg(F.sum("t").alias("ttf")))
    return (vocab.join(ttf, "term_id", "left")
            .withColumn("ttf", F.coalesce("ttf", F.lit(0).cast("long"))))


def delete_docs(spark: SparkSession, index: Index, doc_ids) -> int:
    """Tombstone documents in a built index (the liveDocs pattern of
    production search engines — e.g. Lucene's deleted-docs bitmap).

    Appends the NEW ids to <index>/deletes/ (small doc_id parquet) and
    records the epoch in the manifest with a timestamp + count. Query
    semantics until compaction, pinned by tests and the driver oracle:
    every retrieval path (BM25 ranked/boolean/phrase/proximity, batch and
    served) excludes deleted docs from results, while corpus statistics
    (N, df, avg_len -> BM25 weights) keep their pre-delete values —
    refreshing them requires the physical rewrite, compact.compact_index,
    which is equivalent to a fresh build over the surviving corpus.

    Idempotent: already-tombstoned ids are not re-recorded (re-running an
    ingestion job's delete step appends nothing). Returns the number of
    newly deleted ids. ``doc_ids``: iterable of ints or a DataFrame with a
    doc_id column. Raises on out-of-range ids.
    """
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id").toPandas()["doc_id"].to_numpy()
    else:
        ids = np.asarray(sorted({int(d) for d in doc_ids}))
    ids = np.unique(ids.astype(np.int64)) if len(ids) else np.empty(
        0, dtype=np.int64)
    if len(ids) and (ids[0] < 0 or ids[-1] >= index.num_docs):
        raise ValueError(
            f"delete_docs: doc ids must be in [0, {index.num_docs}); got "
            f"range [{ids[0]}, {ids[-1]}]")
    new = np.setdiff1d(ids, index.deleted_docs(), assume_unique=True)
    if not len(new):
        return 0
    ddir = os.path.join(index.dir, "deletes")
    (spark.createDataFrame(pd.DataFrame({"doc_id": new}))
     .coalesce(1).write.mode("append").parquet(ddir))
    manifest = index.manifest
    epochs = manifest.setdefault("deletes", {"epochs": [], "total": 0})
    epochs["epochs"].append({"ts": time.time(), "count": int(len(new))})
    epochs["total"] = int(epochs["total"]) + int(len(new))
    _atomic_write_json(os.path.join(index.dir, "manifest.json"), manifest)
    index._deleted = np.union1d(index.deleted_docs(), new)
    return int(len(new))
