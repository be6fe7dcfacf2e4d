"""Traced run: the per-layer breakdown of one workload.

The job is run as cumulative prefixes built only from the layers' public
functions, each a new DataFrame chain over the input table:

    scan     spark.read.parquet(input)
    dedup    operators.dedup.dedup_latest(scan)  (process_documents' args)
    extract  dedup + operators.extract.make_extract_correct_udf()
    tail     pipeline.process_documents(scan)
    lineage  lineage.run_with_lineage(process_documents(scan))

Each of the first four is forced by a digest over all of its columns; a
layer's time is its prefix's median wall minus the previous prefix's, so
the layer times sum to the sink prefix's wall. Spark's SQL metrics are
read off each prefix's executed plan (through the AQE query stages) by
probe.plan_nodes. The kernel functions are timed in the benchmark
process over the same pages. Before anything else runs, the timed run's
own set-up and job loop (workloads.set_up, workloads.time_jobs) give the
wall_s median the layer sum is compared with; the difference is the
tracing overhead. Tracing adds no code to the job itself, so it is what
running among the traced prefixes does to the same job, plus noise.
Spans are kept in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

import probe
from workloads import (
    check_lineage,
    check_text,
    dir_bytes,
    full_digest_frame,
    golden,
    run_job,
    set_up,
    time_jobs,
)

REPS = 2  # rounds of every prefix; medians are used

PREFIXES = ("scan", "dedup", "extract", "tail", "lineage")

# every per-layer metric, in report order, with its unit
PER_LAYER = {
    "session.start_s": "s", "corpus.materialize_s": "s",
    "corpus.rows": "count", "corpus.bytes": "bytes",
    "scan.rows": "count", "scan.bytes": "bytes", "scan.time_ms": "ms",
    "scan.prefix_s": "s",
    "dedup.exchanges": "count", "dedup.shuffle_bytes": "bytes",
    "dedup.shuffle_write_ms": "ms", "dedup.sort_ms": "ms",
    "dedup.rows_out": "count", "dedup.prefix_s": "s",
    "extract.rows": "count", "extract.python_total_ms": "ms",
    "extract.python_boot_ms": "ms", "extract.python_init_ms": "ms",
    "extract.bytes_to_python": "bytes", "extract.bytes_from_python": "bytes",
    "extract.prefix_s": "s", "extract.prefix_cpu_s": "s",
    "kernel.extract_us_per_doc": "us", "kernel.correct_us_per_doc": "us",
    "kernel.error_rows": "count", "kernel.ceiling_docs_per_s": "docs/s",
    "tail.prefix_s": "s", "tail.pipeline_ms": "ms",
    "lineage.commit_s": "s", "lineage.verify_s": "s",
    "lineage.bytes_written": "bytes", "lineage.files_written": "count",
    "lineage.buckets_committed": "count",
    "host.load1_start": "load", "host.foreign_cpu_s": "s",
    "host.core_util": "ratio",
    "trace.wall_s": "s", "trace.layer_sum_s": "s", "trace.overhead_pct": "%",
}


class Spans:
    """In-memory spans: name, parent, start and end (s from run start)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None, **attrs,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# -- plan-metric readers -----------------------------------------------------


def dedup_exchanges(nodes: list[dict]) -> list[dict]:
    """The exchanges dedup_latest plans: hash-partitioned on the url."""
    return [n for n in probe.nodes_named(nodes, "ShuffleExchangeExec")
            if n["partitioning"].startswith("hashpartitioning(url")]


def _one(nodes: list[dict], name: str) -> dict:
    found = probe.nodes_named(nodes, name)
    if len(found) != 1:
        raise AssertionError(f"expected one {name}, plan has {len(found)}")
    return found[0]


def scan_metrics(nodes) -> dict:
    scan = [_one(nodes, "FileSourceScanExec")]
    return {"scan.rows": probe.metric_sum(scan, "numOutputRows"),
            "scan.bytes": probe.metric_sum(scan, "filesSize"),
            "scan.time_ms": probe.metric_sum(scan, "scanTime")}


def dedup_metrics(nodes) -> dict:
    ex = dedup_exchanges(nodes)
    if not ex:
        raise AssertionError("dedup prefix plans no url exchange")
    return {"dedup.exchanges": len(ex),
            "dedup.shuffle_bytes": probe.metric_sum(ex, "dataSize"),
            "dedup.shuffle_write_ms": probe.metric_sum(ex, "shuffleWriteTime") / 1e6,
            "dedup.sort_ms": probe.metric_sum(probe.nodes_named(nodes, "SortExec"),
                                              "sortTime")}


def arrow_metrics(nodes) -> dict:
    arrow = [_one(nodes, "ArrowEvalPythonExec")]
    return {"extract.rows": probe.metric_sum(arrow, "pythonNumRowsReceived"),
            "extract.python_total_ms": probe.metric_sum(arrow, "pythonTotalTime"),
            "extract.python_boot_ms": probe.metric_sum(arrow, "pythonBootTime"),
            "extract.python_init_ms": probe.metric_sum(arrow, "pythonInitTime"),
            "extract.bytes_to_python": probe.metric_sum(arrow, "pythonDataSent"),
            "extract.bytes_from_python": probe.metric_sum(arrow, "pythonDataReceived")}


def tail_pipeline_ms(nodes) -> int:
    """Codegen pipeline time of the stages above the Arrow node: the
    validation/quality expressions (and the wait on the node's output)."""
    arrow = _one(nodes, "ArrowEvalPythonExec")
    stages = probe.nodes_named(probe.ancestors(nodes, arrow), "WholeStageCodegenExec")
    return probe.metric_sum(stages, "pipelineTime")


def selftest(spark, data_dir: str) -> dict:
    """Tiny-scale check of the plan-metric walker: on process_documents,
    exactly one ArrowEvalPython and one parquet scan, the dedup exchanges,
    a nonzero pythonDataSent; on the dedup prefix, its exchanges and sorts.
    Every metric the traced run reads must be found."""
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.pipeline import process_documents

    path = os.path.join(data_dir, "selftest-input")
    corpus_df(spark, 200, seed=0, partitions=2).write.mode("overwrite").parquet(path)
    digest = full_digest_frame(process_documents(spark.read.parquet(path)))
    digest.collect()
    nodes = probe.executed_nodes(digest)
    found = {**scan_metrics(nodes), **arrow_metrics(nodes),
             "tail.pipeline_ms": tail_pipeline_ms(nodes)}
    dedup = _prefix("dedup", spark, path)
    dedup.collect()
    found.update(dedup_metrics(probe.executed_nodes(dedup)))
    if found["extract.bytes_to_python"] <= 0:
        raise AssertionError("ArrowEvalPython reports pythonDataSent 0")
    if found["scan.rows"] != 200:
        raise AssertionError(f"scan read {found['scan.rows']} rows, wrote 200")
    return {"selftest": "ok", **found}


# -- the traced run ----------------------------------------------------------


def _prefix(name: str, spark, inp: str):
    """Build the forcing frame of prefix `name` as a new chain."""
    from ocr_service_spark.operators.dedup import dedup_latest
    from ocr_service_spark.operators.extract import make_extract_correct_udf
    from ocr_service_spark.pipeline import process_documents

    scan = spark.read.parquet(inp)
    if name == "scan":
        return full_digest_frame(scan)
    if name == "tail":
        return full_digest_frame(process_documents(scan))
    # the arguments process_documents passes
    deduped = dedup_latest(scan, key="url", order_cols=("warc_ts", "doc_id"), n_salts=16)
    if name == "dedup":
        return full_digest_frame(deduped)
    if name == "extract":
        fused = make_extract_correct_udf()
        return full_digest_frame(deduped.withColumn("x", fused(F.col("html"))))
    raise ValueError(name)


def _kernel_times(htmls: list) -> dict:
    from ocr_service_spark.kernel.correct import correct_document
    from ocr_service_spark.kernel.dispatch import extract_document
    from ocr_service_spark.operators.correct import DEFAULT_CORRECTIONS

    cmap = dict(DEFAULT_CORRECTIONS)
    t_ext = t_cor = 0.0
    errors = corrected = 0
    for raw in htmls:
        t0 = time.perf_counter()
        r = extract_document(raw)
        t1 = time.perf_counter()
        t_ext += t1 - t0
        if r.text is None:
            errors += 1
            continue
        correct_document(r.text, cmap)
        t_cor += time.perf_counter() - t1
        corrected += 1
    return {"ext_s": t_ext / len(htmls), "cor_s": t_cor / max(corrected, 1),
            "errors": errors}


def traced_run(sess, w, seed: int, seconds: float, work: str, stamps: dict) -> dict:
    spans = Spans()
    data = os.path.join(work, "data")
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m["host.load1_start"] = stamps["host.load1_start"]
    checks: dict[str, bool] = {}
    failed = attempted = 0

    with spans.span("oracle"):
        gold = golden(w.base_docs, seed)
    # the timed run's set-up, so the timed jobs below run as they do there
    with spans.span("setup"):
        spark, inp, setups = set_up(sess, w, seed, data)
    m["session.start_s"] = setups[0].start_s  # the JVM launch included
    m["corpus.materialize_s"] = statistics.median(s.materialize_s for s in setups)
    m["corpus.rows"] = w.input_rows
    m["corpus.bytes"] = dir_bytes(inp)[0]
    # then its job loop, before anything else runs: the reference wall
    with spans.span("timed"):
        t = time_jobs(spark, inp, os.path.join(data, "out"), gold, seconds,
                      sess.cores)
    attempted += t.attempted
    failed += t.failed
    job_wall, job_cpu, _ = t.medians()
    m["host.core_util"] = job_cpu / (job_wall * sess.cores)

    with spans.span("selftest"):
        stamps["selftest"] = selftest(spark, data)
    with spans.span("kernel", docs=len(gold.htmls)):
        k = _kernel_times(gold.htmls)
    m["kernel.extract_us_per_doc"] = k["ext_s"] * 1e6
    m["kernel.correct_us_per_doc"] = k["cor_s"] * 1e6
    m["kernel.error_rows"] = k["errors"]
    m["kernel.ceiling_docs_per_s"] = sess.cores / (k["ext_s"] + k["cor_s"])

    # one round runs every prefix once; rounds give medians
    walls = {p: [] for p in PREFIXES}
    cpus = {p: [] for p in PREFIXES}
    nodes, rows = {}, {}
    out = os.path.join(data, "out")
    with probe.CpuClock() as window:
        for rep in range(REPS):
            for name in PREFIXES:
                attempted += 1
                with spans.span(name, rep=rep) as sp, probe.CpuClock() as clk:
                    if name == "lineage":
                        buckets = run_job(spark, inp, out)
                    else:
                        frame = _prefix(name, spark, inp)
                        row = frame.collect()[0]
                sp.update(wall_s=clk.wall_s, cpu_s=clk.cpu_s)
                walls[name].append(clk.wall_s)
                cpus[name].append(clk.cpu_s)
                if name != "lineage":
                    nodes[name] = probe.executed_nodes(frame)
                    sp["rows"] = rows[name] = row.n
                    continue
                with spans.span("check"):
                    problems = check_text(spark, out, gold)
                    t0 = time.perf_counter()
                    problems += check_lineage(spark, out, buckets)
                    verify_s = time.perf_counter() - t0
                if problems:
                    failed += 1
                    print(f"traced {name} {rep}: {problems}", file=sys.stderr)
                m["lineage.verify_s"] = verify_s
                m["lineage.bytes_written"], m["lineage.files_written"] = \
                    dir_bytes(f"{out}/data")
                m["lineage.buckets_committed"] = len(buckets)
    med = {p: statistics.median(v) for p, v in walls.items()}

    m.update(scan_metrics(nodes["scan"]))
    m.update(dedup_metrics(nodes["dedup"]))
    m.update(arrow_metrics(nodes["extract"]))
    m["tail.pipeline_ms"] = tail_pipeline_ms(nodes["tail"])
    m["dedup.rows_out"] = rows["dedup"]
    checks["scan rows == input rows"] = m["scan.rows"] == w.input_rows
    checks["dedup rows == urls"] = rows["dedup"] == gold.keepers
    # in = out + dedup losers + extraction errors
    checks["dedup rows - tail rows == kernel errors"] = \
        rows["dedup"] - rows["tail"] == k["errors"]
    m["scan.prefix_s"] = med["scan"]
    m["dedup.prefix_s"] = med["dedup"] - med["scan"]
    m["extract.prefix_s"] = med["extract"] - med["dedup"]
    m["extract.prefix_cpu_s"] = (statistics.median(cpus["extract"])
                                 - statistics.median(cpus["dedup"]))
    m["tail.prefix_s"] = med["tail"] - med["extract"]
    m["lineage.commit_s"] = med["lineage"] - med["tail"]
    layer_sum = sum(m[f"{p}.prefix_s"] for p in PREFIXES[:4]) + m["lineage.commit_s"]
    m["trace.wall_s"] = job_wall
    m["trace.layer_sum_s"] = layer_sum
    m["trace.overhead_pct"] = 100.0 * (layer_sum - job_wall) / job_wall
    m["host.foreign_cpu_s"] = t.window.foreign_cpu_s + window.foreign_cpu_s
    stamps["host.foreign_cpu_s"] = m["host.foreign_cpu_s"]
    stamps["window_s"] = t.window.wall_s + window.wall_s

    failed += sum(1 for ok in checks.values() if not ok)
    attempted += len(checks)
    stamps["checks"] = checks
    os.makedirs(os.path.join(work, "reports"), exist_ok=True)
    spans.dump(os.path.join(work, "reports", f"{w.name}-seed{seed}-spans.json"))
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: (m[k], u) for k, u in PER_LAYER.items()}}
