"""Quality scoring + review predicates as pure column arithmetic
(F17/P2-P4 of SURVEY.md §2) — whole-stage-codegen friendly, no UDF.

Graft mapping of the reference's image-quality metrics
(services/quality_check.py:17-91) onto text-quality statistics:
  sharpness   → alpha ratio (letters / chars)
  contrast    → mean span confidence (extraction confidence)
  brightness  → length adequacy (chars vs a 200-char target)
Weighted mix 0.3/0.5/0.2 with clamp to [0,1] replicates
services/quality_check.py:193-199; the review predicate
(overall < 0.7 OR any field invalid) replicates quality_check.py:222 and
processor.py:373-374.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_service_spark.operators.validate import FIELD_EXPRS

__all__ = ["text_quality", "overall_quality", "needs_review", "compression_ratio"]


def _clamp01(c: Column) -> Column:
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))


def text_quality(text: Column) -> Column:
    """struct(alpha_ratio, length_score, n_chars, n_tokens) — integer
    counts ratioed once, deterministic. n_tokens shares the tier-wide
    tokenizer (textstats.tokens: F6-normalized, empty -> 0), so quality
    stats and the dedup/filter tier can never disagree on a count."""
    from ocr_service_spark.functions.textstats import tokens

    n_chars = F.length(text)
    letters = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    alpha_ratio = F.when(n_chars > 0, letters / n_chars).otherwise(F.lit(0.0))
    length_score = F.least(F.lit(1.0), n_chars / F.lit(200.0))
    n_tokens = F.size(tokens(text))
    return F.struct(
        alpha_ratio.alias("alpha_ratio"),
        length_score.alias("length_score"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
    )


def overall_quality(alpha_ratio: Column, extraction_conf: Column,
                    length_score: Column) -> Column:
    """0.3*structure + 0.5*extraction + 0.2*length, clamped
    (reference services/quality_check.py:193-199 weights)."""
    return _clamp01(
        F.round(
            0.3 * alpha_ratio + 0.5 * extraction_conf + 0.2 * length_score, 4
        )
    )


def needs_review(quality: Column, fields: Column) -> Column:
    """P3 (quality_check.py:222) OR'd with P2's any-invalid-field
    (processor.py:373-374) over every field of a validated_fields
    struct."""
    any_invalid = F.exists(
        F.array(*[fields[n]["valid"] for n in FIELD_EXPRS]), lambda v: ~v
    )
    return (quality < 0.7) | any_invalid


def compression_ratio(text: Column) -> Column:
    """Deflate-compressibility quality signal (CCNet/RefinedWeb-style):
    highly repetitive boilerplate compresses far below natural prose,
    so `compressed_bytes / utf8_bytes` separates template spam from
    content. zlib level 6 on UTF-8 bytes; NULL for empty/NULL text.
    Arrow-batched pandas UDF (no SQL twin exists for deflate — the
    driver records this query rows-only; tests pin exact values
    against direct zlib). Scale: pure map, no state, ~100 MB/s/core —
    at 10^12 docs it rides the same Arrow stage as extraction."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) / len(b)
        return s.map(one)

    # nondeterministic pin: stops Catalyst from duplicating the Arrow
    # node when a filter references the derived column (see BENCH.md)
    return _ratio.asNondeterministic()(text)
