"""Profile one served 2000-query batch (round-2 VERDICT item 3): where do
the ~2/3 non-kernel seconds go?

Decomposition:
  kernel_core_s   pure kernel wall, single core, driver-side loop over the
                  SAME seg map the server broadcasts (no Spark at all)
  serve_wall_s    BroadcastQueryServer.serve wall (warm, best-of-N)
  stage metrics   per-stage task count / executorRunTime / scheduler delay
                  / deserialize+result serialize via the UI REST API

Usage: python scripts/serve_profile.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dint_spark.session import get_spark  # noqa: E402


def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 2000

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = (f"local-cluster[{min(2, n_cpus // 8)},8,16384]"
              if n_cpus >= 16 else f"local[{n_cpus}]")
    spark = get_spark("serve_profile", master=master,
                      shuffle_partitions=max(32, n_cpus),
                      extra_conf={"spark.ui.enabled": "true"})

    from bench import make_query_workload
    from dint_spark.corpus import pages_from_documents
    from dint_spark.index import IndexConfig, build_index, load_index
    from dint_spark.queries import BroadcastQueryServer

    bdir = "/tmp/dint_serve_prof_idx"
    if not os.path.exists(os.path.join(bdir, "manifest.json")):
        shutil.rmtree(bdir, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_index(spark, pages_from_documents(docs), bdir,
                    IndexConfig(num_buckets=8, input_tag="serve_prof"))
    idx = load_index(spark, bdir)
    vocab_pdf = idx.vocab().select("term_id", "df").toPandas()
    queries = make_query_workload(vocab_pdf, n_q, 43)

    t0 = time.time()
    server = BroadcastQueryServer(spark, idx)
    t_pin = time.time() - t0

    # --- pure kernel loop, single core, no Spark ---------------------------
    from dint_spark.queries import _fold_query, _serve_kernel_rows

    for _ in range(2):  # warmup decodes the LRU
        t0 = time.time()
        rows = _serve_kernel_rows(
            list(enumerate(map(_fold_query, queries))),
            server.pin.seg_bc.value, server.pin.docs_dict_bc.value,
            server.pin.freqs_dict_bc.value, server.stats.norm_bc.value,
            server.num_docs, server.DT, "block_max_wand_vec", 10)
        kernel_core_s = time.time() - t0
    n_rows = len(rows)

    # --- served batch, warm, with REST decomposition -----------------------
    server.serve(queries, algo="block_max_wand_vec", k=10).count()  # warm
    walls = []
    for _ in range(3):
        t0 = time.time()
        server.serve(queries, algo="block_max_wand_vec", k=10).count()
        walls.append(round(time.time() - t0, 3))
    serve_wall = min(walls)

    stages = sorted(rest(spark, "/stages?status=complete"),
                    key=lambda s: -s["stageId"])[:4]
    stage_rows = []
    for s in stages:
        stage_rows.append({
            "stage": s["stageId"], "tasks": s["numCompleteTasks"],
            "wall_hint_ms": s.get("executorRunTime"),
            "run_ms": s.get("executorRunTime"),
            "cpu_ms": round((s.get("executorCpuTime") or 0) / 1e6),
            "sched_delay_ms": s.get("schedulerDelay", None),
            "deser_ms": s.get("executorDeserializeTime"),
            "result_ser_ms": s.get("resultSerializationTime"),
            "shuffle_write_b": s.get("shuffleWriteBytes"),
            "name": s["name"][:40],
        })

    cores = spark.sparkContext.defaultParallelism
    out = {
        "n_queries": n_q, "result_rows": n_rows, "cores": cores,
        "master": master, "pin_s": round(t_pin, 3),
        "kernel_core_s": round(kernel_core_s, 3),
        "kernel_q_per_s_core": round(n_q / kernel_core_s, 1),
        "ideal_wall_s": round(kernel_core_s / cores, 3),
        "serve_walls_s": walls, "serve_wall_s": serve_wall,
        "serve_q_per_s": round(n_q / serve_wall, 1),
        "kernel_utilization": round(kernel_core_s / cores / serve_wall, 3),
        "last_stages": stage_rows,
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
