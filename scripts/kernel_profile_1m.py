"""Spark-free kernel profile over the cached 1M-doc gate index: where do
the ~15 ms/query go at 92.6M postings?

At sf0.1 the served batch is scheduling-bound (see
`perfbench/run.py --workload serve --trace 1`); at 1M docs SURVEY
records the kernel IS the wall (66.9 q/s on 16 cores ~ 4.2 q/s/core ~
15.5 ms/query amortized). This profiler loads the index with
pyarrow only (no Spark, no JVM) and decomposes a query batch:

  cursor_build_s   seg-map lookup + Cursor construction
  kernel_s         block-max WAND proper (skip logic + block decode +
                   exact scoring)
  cProfile top     callee-level attribution inside the kernel

Usage: python scripts/kernel_profile_1m.py [index_dir] [n_queries]
"""

from __future__ import annotations

import cProfile
import io
import json
import os
import pstats
import sys
import time
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from dint_spark.dint.dictionary import load_dictionary  # noqa: E402
from dint_spark.queries import (_fold_queries, _run_rows,  # noqa: E402
                                _seg_map, _topk_body)


def load_seg_map(idx_dir: str):
    cols = ["term_id", "seg_id", "n", "block_maxs", "block_max_scores",
            "endpoints", "freq_offsets", "payload"]
    t = pq.read_table(os.path.join(idx_dir, "segments"), columns=cols)
    return _seg_map(t.to_pylist())


def main() -> None:
    idx_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/gate1m_idx_1000000"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 400

    manifest = json.load(open(os.path.join(idx_dir, "manifest.json")))
    meta = manifest["steps"]["meta"]
    num_docs, avg_len = meta["num_docs"], meta["avg_len"]

    with open(os.path.join(idx_dir, "dict_docs.npz"), "rb") as f:
        dd = load_dictionary(f.read())
    with open(os.path.join(idx_dir, "dict_freqs.npz"), "rb") as f:
        fd = load_dictionary(f.read())

    t0 = time.time()
    seg_map = load_seg_map(idx_dir)
    t_load = time.time() - t0
    n_postings = sum(p[1] for parts in seg_map.values() for p in parts)

    dl = pq.read_table(os.path.join(idx_dir, "doclens.parquet"),
                       columns=["doc_id", "len"]).to_pydict()
    lens = np.zeros(num_docs, dtype=np.int64)
    lens[np.asarray(dl["doc_id"])] = np.asarray(dl["len"])
    norm = lens.astype(np.float32) / np.float32(avg_len)

    vc = pq.read_table(os.path.join(idx_dir, "vocab.parquet"),
                       columns=["term_id", "df"]).to_pydict()
    term_ids = np.asarray(vc["term_id"])
    df = np.asarray(vc["df"], dtype=np.float64)
    rng = np.random.default_rng(43)
    p = df / df.sum()
    queries = []
    for _ in range(n_q):
        qlen = int(rng.integers(1, 6))
        queries.append([int(t) for t in rng.choice(term_ids, size=qlen, p=p)])

    DT = np.float32
    # the pinned path's worker side: _run_rows with run_queries' body
    body = _topk_body("block_max_wand_vec", 10, DT, num_docs,
                      SimpleNamespace(value=norm), None)
    args = (seg_map, dd, fd, num_docs, DT, body)
    rows_in = list(enumerate(_fold_queries(queries)))

    # cold pass (decode-inclusive), then warm best-of-2 (steady-state
    # serving: the worker LRU persists across batches)
    t0 = time.time()
    _run_rows(rows_in, *args)
    cold_s = time.time() - t0
    kernel_s = float("inf")
    for _ in range(2):
        t0 = time.time()
        cols = _run_rows(rows_in, *args)
        kernel_s = min(kernel_s, time.time() - t0)

    pr = cProfile.Profile()
    pr.enable()
    _run_rows(rows_in, *args)
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(28)

    print(json.dumps({
        "index_dir": idx_dir, "num_docs": num_docs,
        "num_postings": int(n_postings), "n_queries": n_q,
        "seg_load_s": round(t_load, 2),
        "cold_s": round(cold_s, 3),
        "kernel_s": round(kernel_s, 3),
        "ms_per_query_core": round(1000 * kernel_s / n_q, 2),
        "q_per_s_core": round(n_q / kernel_s, 1),
        "result_rows": sum(len(p) for p in cols[0]) if cols else 0,
    }, indent=1))
    print(s.getvalue())


if __name__ == "__main__":
    main()
