"""Category normalization cascade (SURVEY §2.7).

Re-expresses the reference's 7-step normalizer
(ref: projects/processor/src/core/services/category/normalizer.ts:384-496
cascade order; :530-552 fuzzy argmax; :498-528 ML-prediction mapping)
Spark-first, as one lazy plan:

- the string-only steps (exact / normalized / alias / containment /
  fuzzy) run in a scalar pandas UDF over (category, shop). Each Arrow
  batch resolves its DISTINCT keys once against the constant tables
  (the reference holds the same tables as in-memory singleton maps,
  normalizer.ts:57-92) and fans the results out to its rows, so fuzzy
  matching costs O(distinct keys per batch × finals), never O(rows ×
  finals), and the per-row plan stays free of 500-node literal
  expressions;
- the ML step is an exact-title broadcast lookup against a
  predictions table (the reference precomputes title→prediction JSON,
  X2), its labels mapped onto the canon by a second pandas UDF.

This module is pickled BY VALUE: Python workers cannot import the
package when only the driver has the repo on its ``sys.path``.
"""

from __future__ import annotations

import re
import sys
from functools import lru_cache

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config.categories import (
    CATEGORY_ALIAS_PATTERNS,
    CATEGORY_STOPWORDS,
    DEFAULT_CATEGORY,
    FINAL_CATEGORIES,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

ML_CONFIDENCE = 0.65
ML_CONFIDENCE_SPECIAL = 0.4  # Aldi trots/aldi special case

_STOP_RX = re.compile(r"\b(" + "|".join(CATEGORY_STOPWORDS) + r")\b")


def _norm(s: str) -> str:
    """Category string normalizer (ref: normalizer.ts:94-103)."""
    out = s.lower().strip()
    out = re.sub(r"[,\-_/\\()&]", " ", out)
    out = _STOP_RX.sub("", out)
    return re.sub(r"\s+", " ", out).strip()


_EXACT = {c.lower(): c for c in FINAL_CATEGORIES}
_NORMALIZED: dict[str, str] = {}
for _c in FINAL_CATEGORIES:
    _n = _norm(_c)
    _NORMALIZED.setdefault(_n, _c)
    _NORMALIZED.setdefault(_n.replace(" ", ""), _c)
_COMMON = dict(CATEGORY_ALIAS_PATTERNS)
_FINALS_NORM = [(c, _norm(c)) for c in FINAL_CATEGORIES]


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        curr = [i]
        for j, cb in enumerate(b, 1):
            curr.append(min(prev[j] + 1, curr[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = curr
    return prev[-1]


def _fuzzy_best(norm_input: str) -> str:
    """Similarity argmax over the finals; strict > keeps the earlier
    final on ties (ref: normalizer.ts:530-552)."""
    best, best_score = DEFAULT_CATEGORY, 0.0
    for final, norm_final in _FINALS_NORM:
        if not norm_input or not norm_final:
            continue
        dist = _levenshtein(norm_input, norm_final)
        score = 1.0 - dist / max(len(norm_input), len(norm_final))
        if score > best_score:
            best, best_score = final, score
    return best


def _static_match(cat: str) -> str | None:
    """Steps 1–4: exact → normalized → alias exact → containment
    either direction, first alias wins (ref: normalizer.ts:402-430)."""
    hit = _EXACT.get(cat.lower())
    if hit:
        return hit
    norm = _norm(cat)
    hit = _NORMALIZED.get(norm) or _COMMON.get(norm)
    if hit:
        return hit
    for pattern, target in CATEGORY_ALIAS_PATTERNS:
        if pattern in norm or norm in pattern:
            return target
    return None


def _resolve(cat: str, shop: str) -> tuple[str | None, bool, str, bool]:
    """(static_result, is_aldi_special, fuzzy_result, is_empty) for
    one distinct key."""
    if not cat or not cat.strip():
        return None, False, DEFAULT_CATEGORY, True
    norm = _norm(cat)
    special = shop == "ALDI" and ("trots" in norm or "aldi" in norm)
    return _static_match(cat), special, _fuzzy_best(norm), False


# driver-side memo; the UDFs call the bare _resolve because an
# lru_cache wrapper pickles by reference, not by value
resolve_static = lru_cache(maxsize=65536)(_resolve)


def to_final_category(cat: str) -> str:
    """Map an arbitrary (e.g. ML-predicted) label onto the canon
    (ref: normalizer.ts:498-528)."""
    if cat in FINAL_CATEGORIES:
        return cat
    norm = _norm(cat)
    hit = _NORMALIZED.get(norm) or _COMMON.get(norm)
    if hit:
        return hit
    for pattern, target in CATEGORY_ALIAS_PATTERNS:
        if pattern in norm or norm in pattern:
            return target
    return _fuzzy_best(norm)


def normalize_category(title: str | None, cat: str | None, shop: str,
                       prediction: tuple[str, float] | None = None) -> str:
    """Full per-value cascade (driver-side use / tests)."""
    static, special, fuzzy, empty = resolve_static(cat or "", shop)
    pred_final, conf = (None, 0.0)
    if prediction:
        pred_final, conf = to_final_category(prediction[0]), prediction[1]
    if empty:
        if title and pred_final and conf >= ML_CONFIDENCE:
            return pred_final
        return DEFAULT_CATEGORY
    if static:
        return static
    if special:
        if title and pred_final and conf >= ML_CONFIDENCE_SPECIAL:
            return pred_final
        return DEFAULT_CATEGORY
    if title and pred_final and conf >= ML_CONFIDENCE:
        return pred_final
    return fuzzy


_CASCADE = T.StructType(
    [
        T.StructField("static", T.StringType()),
        T.StructField("special", T.BooleanType()),
        T.StructField("fuzzy", T.StringType()),
        T.StructField("empty", T.BooleanType()),
    ]
)


@F.pandas_udf(_CASCADE)
def _cascade_udf(cat: pd.Series, shop: pd.Series) -> pd.DataFrame:
    """Steps 1–5 per Arrow batch: each distinct (category, shop) key is
    resolved once and fanned out to its rows."""
    keys = list(zip(cat.fillna(""), shop))
    hits = {k: _resolve(*k) for k in set(keys)}
    return pd.DataFrame([hits[k] for k in keys], columns=_CASCADE.fieldNames())


@F.pandas_udf(T.StringType())
def _canon_udf(label: pd.Series) -> pd.Series:
    """Predicted labels onto the canon, once per distinct label."""
    return label.map({lbl: to_final_category(lbl) for lbl in label.unique()})


def normalize_categories(
    df: DataFrame,
    category_col: str = "main_category",
    title_col: str = "title",
    shop_col: str = "shop_type",
    predictions: DataFrame | None = None,
    output_col: str | None = None,
    method_col: str | None = None,
) -> DataFrame:
    """Attach the normalized category column (default: overwrite
    `category_col`).

    Lazy: the string steps are one pandas-UDF projection over
    (category, shop) and the ML step one title-keyed broadcast join of
    ``predictions`` (title, category, confidence); no Spark job runs
    until the result is consumed.

    ``method_col`` additionally emits which cascade step resolved each
    row — static/ml/special/fuzzy/default — mirroring the reference's
    mapping-method stats (A12, ref: normalizer.ts:577-580,55-63).
    """
    output_col = output_col or category_col
    out = df.withColumn("_cascade", _cascade_udf(F.col(category_col), F.col(shop_col)))
    static, special = F.col("_cascade.static"), F.col("_cascade.special")
    fuzzy, empty = F.col("_cascade.fuzzy"), F.col("_cascade.empty")

    drop = ["_cascade"]
    if predictions is not None:
        preds = predictions.select(
            F.col("title").alias("_pred_title"),
            _canon_udf(F.coalesce(F.col("category"), F.lit(""))).alias("_pred_final"),
            F.col("confidence").cast("double").alias("_pred_conf"),
        )
        out = out.join(F.broadcast(preds), out[title_col] == F.col("_pred_title"), "left")
        ml_65 = F.when(F.col("_pred_conf") >= ML_CONFIDENCE, F.col("_pred_final"))
        ml_40 = F.when(F.col("_pred_conf") >= ML_CONFIDENCE_SPECIAL, F.col("_pred_final"))
        drop += ["_pred_title", "_pred_final", "_pred_conf"]
    else:
        ml_65 = F.lit(None).cast("string")
        ml_40 = F.lit(None).cast("string")

    final = F.when(empty, F.coalesce(ml_65, F.lit(DEFAULT_CATEGORY))).otherwise(
        F.coalesce(
            static,
            F.when(special, F.coalesce(ml_40, F.lit(DEFAULT_CATEGORY))),
            ml_65,
            fuzzy,
        )
    )
    out = out.withColumn(output_col, final)
    if method_col is not None:
        ml65_hit = ml_65.isNotNull()
        ml40_hit = ml_40.isNotNull()
        out = out.withColumn(
            method_col,
            F.when(empty, F.when(ml65_hit, "ml").otherwise("default"))
            .when(static.isNotNull(), "static")
            .when(special, F.when(ml40_hit, "ml").otherwise("special_default"))
            .when(ml65_hit, "ml")
            .otherwise("fuzzy"),
        )
    return out.drop(*drop)
