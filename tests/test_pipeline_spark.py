"""End-to-end Spark pipeline tests: byte-identity vs the kernel oracle,
dedup semantics, plan hygiene (Arrow-only Python), determinism across
parallelism (the north rule's two-cluster-size criterion, proxied by
shuffle-partition variation)."""

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.corpus import corpus_df, gen_docs
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.pipeline import extract_documents, process_documents

N = 200


@pytest.fixture(scope="module")
def docs(spark):
    df = corpus_df(spark, N, partitions=8).cache()
    df.count()
    return df


def test_extraction_byte_identity(spark, docs):
    out = extract_documents(docs).select("doc_id", "extracted_text").collect()
    got = {r.doc_id: r.extracted_text for r in out}
    for d in gen_docs(N):
        if d.kind == "malformed":
            continue
        assert got[d.doc_id] == d.expected_text, f"doc {d.doc_id}"


def test_error_rows_flagged_not_dropped(spark, docs):
    out = extract_documents(docs)
    errs = out.filter(F.col("error").isNotNull()).count()
    assert errs >= 1  # the real-PDF stub docs
    assert out.count() == N


def test_no_per_row_python_in_plan(spark, docs):
    plan = extract_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, "per-row Python UDF on hot path"
    assert ("ArrowEvalPython" in plan) or ("MapInArrow" in plan) or (
        "MapInPandas" in plan)


def test_udfs_evaluated_exactly_once(spark, docs):
    """Regression guard: a filter on a UDF-derived column once made
    Catalyst clone the extraction UDF below the projection (two
    ArrowEvalPython nodes → whole corpus extracted twice). The full
    pipeline must carry exactly ONE Arrow node: the fused
    extract+correct UDF (a second node would mean either the fusion
    regressed to two Python round-trips or Catalyst duplicated the
    UDF below a filter again)."""
    plan = process_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan.count("ArrowEvalPython")
    assert "BatchEvalPython" not in plan


def test_dedup_keeps_latest(spark, docs):
    result = process_documents(docs)
    rows = result.select("url", "warc_ts").collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls)), "one row per url"
    # duplicate urls must resolve to the max warc_ts crawl
    dups = {}
    for d in gen_docs(N):
        if d.kind == "malformed":
            continue
        dups.setdefault(d.url, []).append(d)
    got_ts = {r.url: r.warc_ts for r in rows}
    for url, versions in dups.items():
        if len(versions) > 1 and url in got_ts:
            assert got_ts[url] == max(v.warc_ts.replace(tzinfo=None)
                                      for v in versions)


def test_dedup_latest_wins_even_if_it_errors(spark):
    """Pin the dedup-before-extraction semantics: the LATEST crawl of a
    url is the keeper even when its extraction errors — the older,
    successfully-extracted crawl is gone from the output. Chosen
    deliberately (dedup runs on raw crawl rows so losers never pay the
    extraction UDF; at 10^12 rows the payload crosses the shuffle once);
    a latest-crawl-failed url therefore surfaces as an error row
    upstream of process_documents' error filter, not as a silent
    fallback to stale content."""
    from datetime import datetime

    good_html = b"<html><body><article><p>" + b"good content here " * 20 + \
        b"</p></article></body></html>"
    broken = b"%PDF-1.7\nnot-a-graft-payload"  # real-PDF stub -> error row
    rows = [
        (1, "https://x.example/a", datetime(2025, 1, 1), "en", good_html),
        (2, "https://x.example/a", datetime(2025, 6, 1), "en", broken),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, lang string, html binary")
    assert process_documents(df).count() == 0, \
        "errored keeper filtered; stale crawl must NOT resurface"
    from ocr_service_spark.operators.dedup import dedup_latest

    kept = extract_documents(
        dedup_latest(df, key="url", order_cols=("warc_ts", "doc_id"))
    ).collect()
    assert len(kept) == 1 and kept[0].error is not None
    assert kept[0].warc_ts == datetime(2025, 6, 1)


def test_full_pipeline_schema_and_fields(spark, docs):
    result = process_documents(docs).cache()
    row = (
        result.filter(
            (F.col("lang") == "ru") & (F.col("kind") == "html")
            & F.col("critical_fields.ogrn.valid")
        )
        .select("critical_fields", "important_data", "overall_quality",
                "needs_review", "document_id")
        .first()
    )
    assert row is not None, "seeded OGRN docs must validate"
    assert row.critical_fields.ogrn.confidence == 0.9
    assert len(row.critical_fields.ogrn.value) in (13, 15)
    assert row.important_data.inn is not None
    assert 0.0 <= row.overall_quality <= 1.0
    # deterministic id (F14): url-derived, no uuid
    assert row.document_id.endswith(row.document_id.split("_")[-1])
    result.unpersist()


def test_determinism_across_parallelism(spark, docs):
    """Same input, different shuffle widths ⇒ identical checksum
    (proxy for the N vs 4N executor identity required by north_rule)."""

    def checksum(n_shuffle):
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        try:
            out = process_documents(docs)
            return (
                out.select(
                    F.bit_xor(F.xxhash64("url", "extracted_text",
                                         "needs_review")).alias("h")
                ).collect()[0].h
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")

    assert checksum(2) == checksum(32)
