"""Field validation as native column expressions (P13/F7/W1 of
SURVEY.md §2) — no UDFs, stays inside whole-stage codegen.

Per field (reference core/validators.py:25-76):
  candidates = regexp_extract_all(text, pattern)
  valid ones = F.filter(candidates, validity-lambda)
  best       = first valid, else first candidate   # == reference's
               max-by-confidence with first-wins ties
               (core/validators.py:186-191: conf is 0.9 valid / 0.5 not)
  confidence = 0.9 valid / 0.5 found-invalid / 0.0 missing
               (core/validators.py:113,157,197)

Regex dialect note: Spark uses Java regex. The reference's Python
patterns port verbatim for the digit fields (\\b is ASCII-word-bounded
in both); the Cyrillic surname lookaheads also work in Java regex. The
rules are checked against an independent restatement: the DuckDB SQL
oracle of the `field_validation` query (queries.ORACLE_SQL) recomputes
every field's value, validity and confidence, and
tools/check_correctness.py compares the two value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["FIELD_EXPRS", "field_struct", "validated_fields", "important_data"]


def _digits(c: Column) -> Column:
    return F.regexp_replace(c, r"\D", "")


# field -> (java_regex, validity lambda Column->Column)
FIELD_EXPRS: dict[str, tuple[str, object]] = {
    "ogrn": (r"\b\d{13,15}\b", lambda v: F.length(_digits(v)).isin(13, 15)),
    "inn": (r"\b\d{10,12}\b", lambda v: F.length(_digits(v)).isin(10, 12)),
    "kpp": (r"\b\d{9}\b", lambda v: F.length(_digits(v)) == 9),
    "date": (
        r"\b\d{1,2}[./-]\d{1,2}[./-]\d{2,4}\b",
        lambda v: v.rlike(r"^\d{1,2}[./-]\d{1,2}[./-]\d{2,4}"),
    ),
    "snils": (
        r"\b\d{3}-\d{3}-\d{3}\s\d{2}\b|\b\d{11}\b",
        lambda v: F.length(_digits(v)) == 11,
    ),
    "phone": (
        r"[+7]?\s*\(?\d{3}\)?\s*\d{3}[-.\s]?\d{2}[-.\s]?\d{2}",
        lambda v: F.length(_digits(v)) >= 10,
    ),
    "email": (
        r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b",
        lambda v: v.rlike(r"@[^@]*\."),
    ),
}


def field_struct(text: Column, name: str) -> Column:
    """ValidationResult struct for one field (reference
    core/validators.py:10-18 dataclass → fixed StructType)."""
    pattern, validity = FIELD_EXPRS[name]
    cands = F.transform(
        F.regexp_extract_all(text, F.lit(pattern), F.lit(0)),
        lambda v: F.trim(F.regexp_replace(v, r"\s+", " ")),
    )
    valids = F.filter(cands, validity)
    value = F.coalesce(
        F.get(valids, 0), F.get(cands, 0), F.lit("")
    )
    has_valid = F.size(valids) > 0
    confidence = (
        F.when(has_valid, F.lit(0.9))
        .when(F.size(cands) > 0, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    return F.struct(
        F.lit(name).alias("field_name"),
        value.alias("value"),
        has_valid.alias("valid"),
        confidence.alias("confidence"),
    )


def validated_fields(text: Column) -> Column:
    """critical_fields as a fixed struct-of-structs, one field per
    FIELD_EXPRS entry (preferred over map, SURVEY.md §1.1: schema is
    static)."""
    return F.struct(*[field_struct(text, n).alias(n) for n in FIELD_EXPRS])


def important_data(text: Column) -> Column:
    """important_data struct (reference core/validators.py:213-250):
    list-valued extraction; surnames de-duped and ORDER-DETERMINISTIC
    (array_sort, then slice 10 — reference's set() order is not
    reproducible across runs, ours must be)."""
    inn = F.regexp_extract_all(text, F.lit(FIELD_EXPRS["inn"][0]), F.lit(0))
    snils = F.regexp_extract_all(text, F.lit(FIELD_EXPRS["snils"][0]), F.lit(0))
    surname_pats = [
        r"[А-ЯЁ][а-яё]{2,}(?=\s+[А-ЯЁ]\.\s*[А-ЯЁ]\.)",
        r"[А-ЯЁ][а-яё]{2,}(?=\s+[А-ЯЁ][а-яё]+\s+[А-ЯЁ][а-яё]+)",
        r"[А-ЯЁ][а-яё]{3,}(?=\s+[А-ЯЁ]\.)",
    ]
    merged = F.array_distinct(
        F.concat(*[F.regexp_extract_all(text, F.lit(p), F.lit(0)) for p in surname_pats])
    )
    stop = F.array([F.lit(w) for w in
                    ("россия", "российская", "федерация", "республика",
                     "область", "край")])
    surnames = F.slice(
        F.array_sort(
            F.filter(
                merged,
                lambda s: (F.length(s) >= 3) & ~F.array_contains(stop, F.lower(s)),
            )
        ),
        1,
        10,
    )
    return F.struct(
        inn.alias("inn"), snils.alias("snils"), surnames.alias("surnames")
    )
