"""The scaling-bench child: one fresh-JVM extraction run over a
MATERIALIZED corpus parquet (written once, untimed), printing one JSON
line. `bench.py --scaling` launches it at N and 4N parallelism, either
as plain Python with the checkout on PYTHONPATH, or through the north
rule's two-cluster contract: `spark-submit --py-files
ocr_service_spark.zip tools/scaling_job.py`.

Under spark-submit the package is imported FROM THE ZIP (this script
never adds the checkout to sys.path), proving the job is
cluster-deployable: on a real cluster the same command line with
`--master yarn/k8s` and the same zip runs unchanged.

Measurement discipline (the host has EXTERNAL load bursts): every rep
is load-gated (`wait_for_quiet`) and CPU-accounted — our own
process-tree CPU seconds (JVM + forked Python workers, so Arrow-UDF
Python time is included) AND host-wide busy CPU seconds. Per-stage JVM
run/cpu time comes from the UI REST API for the same rep.

Configuration via env: SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_DOCS
(default 120000), SPARK_GRAFT_BENCH_CORPUS (default
<checkout>/.bench/corpus_<docs>.parquet), SPARK_GRAFT_UI_PORT,
SPARK_GRAFT_CHILD_REPS.
"""

from __future__ import annotations

import json
import os
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # NOTE: imports resolve from the --py-files zip (spark-submit puts
    # it on sys.path before this script runs) or from PYTHONPATH. No
    # repo-path insert.
    from ocr_service_spark.bench_probe import (
        host_cpu_seconds,
        loadavg1,
        session_tree_cpu_seconds,
        stage_metrics,
        wait_for_quiet,
    )
    from ocr_service_spark.pipeline import process_documents
    from ocr_service_spark.session import build_session

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_corpus = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "120000"))
    reps = int(os.environ.get("SPARK_GRAFT_CHILD_REPS", "2"))
    ui_port = int(os.environ.get("SPARK_GRAFT_UI_PORT", "4048"))
    corpus_path = os.environ.get(
        "SPARK_GRAFT_BENCH_CORPUS",
        os.path.join(CHECKOUT, ".bench", f"corpus_{n_corpus}.parquet"))

    spark = build_session(
        "scaling_job", cores=cores, shuffle_partitions=max(cores, 8),
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.port": str(ui_port)})
    from ocr_service_spark.corpus import ensure_bench_corpus
    ensure_bench_corpus(spark, corpus_path, n_corpus)
    docs = spark.read.parquet(corpus_path)
    docs.count()  # warm JVM + page cache

    runs = []
    seen: set[int] = set()
    for _ in range(reps):
        waited = wait_for_quiet()
        load0 = loadavg1()
        cpu0, host0 = session_tree_cpu_seconds(), host_cpu_seconds()
        t0 = time.time()
        process_documents(docs).count()
        wall = time.time() - t0
        ours = round(session_tree_cpu_seconds() - cpu0, 1)
        host = round(host_cpu_seconds() - host0, 1)
        stages, seen = stage_metrics(spark, ui_port, seen)
        runs.append({
            "sec": round(wall, 3),
            "load_before": load0,
            "load_after": loadavg1(),
            "gate_wait_s": waited,
            "ours_cpu_s": ours,
            "host_cpu_s": host,
            # host-wide busy minus our tree: >0 under external load.
            # Can go slightly NEGATIVE (a few %) because /proc/stat is
            # tick-sampled while per-process time is precise — treat
            # near-zero as "host was ours alone".
            "host_minus_ours_cpu_s": round(host - ours, 1),
            "stages": stages,
        })
    best = min(runs, key=lambda r: r["sec"])
    print(json.dumps({"corpus_docs_per_sec": round(n_corpus / best["sec"], 1),
                      "docs": n_corpus, "cores": cores, "sec": best["sec"],
                      "best": best, "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
