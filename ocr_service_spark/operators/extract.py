"""Extraction UDF stage — the M1 centerpiece (SURVEY.md §2.9).

A single iterator-style pandas UDF (Arrow-batched; plan shows
ArrowEvalPython, never BatchEvalPython) wraps the pure kernel
`extract_document`. Iterator form so per-batch setup (regex compile,
imports) happens once per partition, mirroring the reference's
compile-once validators (core/validators.py:78-83).

The UDF replaces the reference's whole OCR stack: image preprocess
(core/ocr_engine.py:51-82) → Vision OCR (178-293) → per-page loop
(137-176) → temp-file round-trips (312-325). Bytes stay in Arrow
buffers end-to-end; per-page results stay inside the row's array until
the caller explodes them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_service_spark.operators.correct import (
    CORRECT_RESULT_TYPE,
    DEFAULT_CORRECTIONS,
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("node_idx", T.IntegerType()),
            T.StructField("confidence", T.DoubleType()),
        ]
    )
)

EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("kind", T.StringType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_content", T.IntegerType()),
        T.StructField("charset", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

EXTRACT_CORRECT_RESULT_TYPE = T.StructType(
    EXTRACT_RESULT_TYPE.fields + CORRECT_RESULT_TYPE.fields)


def _kernel_udf(separator: str, correct: bool):
    """The one Arrow batch loop behind both extraction UDFs: run the
    kernel on every payload and, when `correct`, autocorrect the text
    while it is still a hot Python object (error rows pass through with
    corrected_text=None)."""
    result_type = EXTRACT_CORRECT_RESULT_TYPE if correct else EXTRACT_RESULT_TYPE
    cmap = dict(DEFAULT_CORRECTIONS)

    @F.pandas_udf(result_type)
    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # import inside the UDF: runs on executors after --py-files ship
        from ocr_service_spark.kernel.correct import correct_document
        from ocr_service_spark.kernel.dispatch import extract_document

        for payloads in batches:
            cols: dict[str, list] = {f.name: [] for f in result_type.fields}
            for raw in payloads:
                r = extract_document(bytes(raw) if raw is not None else None,
                                     separator=separator)
                cols["text"].append(r.text)
                cols["spans"].append(
                    [{"start": s, "end": e, "node_idx": ni, "confidence": c}
                     for (s, e, ni, c) in r.spans])
                cols["kind"].append(r.kind)
                cols["n_nodes"].append(r.n_nodes)
                cols["n_content"].append(r.n_content)
                cols["charset"].append(r.charset)
                cols["error"].append(r.error)
                if not correct:
                    continue
                if r.text is None:
                    cols["corrected_text"].append(None)
                    cols["corrections"].append([])
                else:
                    fixed, corrs = correct_document(r.text, cmap)
                    cols["corrected_text"].append(fixed)
                    cols["corrections"].append(
                        [{"original": c["original"], "corrected": c["corrected"],
                          "confidence": c["confidence"], "method": c["method"]}
                         for c in corrs])
            cols["n_nodes"] = pd.array(cols["n_nodes"], dtype="int32")
            cols["n_content"] = pd.array(cols["n_content"], dtype="int32")
            yield pd.DataFrame(cols)

    # The kernel IS deterministic, but Catalyst treats deterministic
    # UDFs as free to duplicate: a filter on a UDF-derived column (the
    # error-skip predicate) gets pushed below the projection and the
    # plan grows a SECOND ArrowEvalPython node — the whole corpus would
    # be extracted twice. asNondeterministic() pins exactly one
    # evaluation per row (verified by tests/test_pipeline_spark.py's
    # single-node plan assertion).
    return run.asNondeterministic()


def make_extract_udf(separator: str = "\n\n"):
    """Build the extraction UDF with a fixed block separator.

    separator='\\n\\n' is the production default; the round-trip
    correctness query uses ' ' so a plain-SQL oracle can reproduce the
    expected output (see __spark_entry__.py).
    """
    return _kernel_udf(separator, correct=False)


def with_extraction(df, html_col: str = "html", out_col: str = "extraction",
                    separator: str = "\n\n"):
    """df + one struct column with the extraction result. Single
    projection — Catalyst keeps it in the same stage as the scan, so
    the whole extract path is scan→ArrowEvalPython→project with no
    shuffle."""
    udf = make_extract_udf(separator=separator)
    return df.withColumn(out_col, udf(F.col(html_col)))


def make_extract_correct_udf():
    """Fused extraction + autocorrection UDF: one Arrow round-trip for
    the whole Python hot path. The unfused pair (extract UDF → filter →
    correct UDF) ships the extracted text back to the JVM only to ship
    it straight into the next Python worker — at 10^12 docs that second
    round-trip is pure Arrow serialization tax. The plan carries exactly
    ONE ArrowEvalPython node; correction uses DEFAULT_CORRECTIONS.

    Composability is unchanged: with_extraction / with_corrections stay
    the standalone operators; process_documents uses this fusion.
    """
    return _kernel_udf("\n\n", correct=True)
