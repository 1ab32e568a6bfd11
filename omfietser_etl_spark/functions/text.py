"""Scalar string/number helpers (SURVEY §2.6 T1–T11) as Column
expressions — all built-ins, whole-stage-codegen friendly.

Ref: projects/processor/src/utils/string.ts (normalize, levenshtein
similarity, number extraction, price parse/format, truncate). The
category-specific normalizer (core/services/category/normalizer.ts:94-103)
lives in the category cascade, ``operators/category._norm``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_string(s: Column) -> Column:
    """lower, non-alphanumeric → space, collapse whitespace, trim
    (ref: string.ts:51-59)."""
    out = F.lower(s)
    out = F.regexp_replace(out, r"[^a-z0-9]+", " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """1 − dist/maxlen, 1.0 when both empty (ref: string.ts:68-107)."""
    maxlen = F.greatest(F.length(a), F.length(b))
    return F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / maxlen
    )


def extract_numbers(s: Column) -> Column:
    """All numeric substrings as array<double> (ref: string.ts:115-120)."""
    arr = F.regexp_extract_all(s, F.lit(r"([-+]?\d*\.?\d+)"), 1)
    return F.transform(arr, lambda x: (x).try_cast("double"))


def js_parse_float(s: Column) -> Column:
    """JS parseFloat prefix semantics: parse the longest leading
    decimal, null (NaN) when none — `parseFloat("1,99")` → 1.0."""
    prefix = F.regexp_extract(F.trim(s), r"^[+-]?(\d+\.?\d*|\.\d+)", 0)
    return prefix.try_cast("double")


def parse_price(s: Column) -> Column:
    """Strip currency/noise, ','→'.', cast (ref: string.ts:144-157)."""
    cleaned = F.regexp_replace(F.regexp_replace(s, r"[^0-9.,-]", ""), ",", ".")
    return (cleaned).try_cast("double")


def format_price(p: Column) -> Column:
    """'€x.xx' (ref: string.ts:130-137)."""
    return F.format_string("€%.2f", p)


def truncate_with_ellipsis(s: Column, max_len: int) -> Column:
    """Truncate to max_len including a trailing '…'
    (ref: string.ts:167-176)."""
    return F.when(F.length(s) <= max_len, s).otherwise(
        F.concat(F.substring(s, 1, max_len - 1), F.lit("…"))
    )


def content_hash(*cols: Column) -> Column:
    """Deterministic change-detection hash over selected columns
    (ref: n8n transform-products-for-db.js:29-41 — semantics are
    change detection, not value parity)."""
    return F.xxhash64(F.to_json(F.struct(*cols)))


def camel_to_snake(name: str) -> str:
    """P8 column-name rename, driver-side (ref: src/utils/string.ts:184-190)."""
    import re

    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()


def snake_to_camel(name: str) -> str:
    """P8 inverse (ref: string.ts:192-196)."""
    head, *rest = name.split("_")
    return head + "".join(w.capitalize() for w in rest)


def rename_columns(df, mapper):
    """Bulk rename via one ``toDF`` (single projection, no per-column
    plan growth): ``rename_columns(df, camel_to_snake)``."""
    return df.toDF(*[mapper(c) for c in df.columns])
