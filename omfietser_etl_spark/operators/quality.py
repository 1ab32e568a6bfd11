"""Product quality scoring + aggregates (SURVEY A2, X4).

Ref: core/services/quality/product-quality-service.ts:90-158 (additive
score: base 50, image 10, category 5, brand 5, promo 10, active 5,
quantity 10, conversion 5 — capped at 100), :163-211 (aggregates /
completeness), :249-278 (score histogram buckets).

Pure column expressions + one groupBy — JVM-side, no shuffle beyond
the aggregate itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FACTORS: list[tuple[str, int]] = [
    ("has_image", 10),
    ("has_category", 5),
    ("has_brand", 5),
    ("is_promo", 10),
    ("active", 5),
    ("has_quantity", 10),
    ("has_conversion", 5),
]


def quality_factors() -> dict[str, Column]:
    return {
        "has_image": F.col("image_url").isNotNull() & (F.col("image_url") != ""),
        "has_category": F.col("main_category").isNotNull()
        & (F.col("main_category") != ""),
        "has_brand": F.col("brand").isNotNull() & (F.col("brand") != ""),
        "is_promo": F.coalesce(F.col("is_promotion"), F.lit(False)),
        "active": F.coalesce(F.col("is_active"), F.lit(False)),
        "has_quantity": F.coalesce(F.col("quantity_amount"), F.lit(0.0)) > 0,
        "has_conversion": F.coalesce(F.col("conversion_factor"), F.lit(0.0)) > 0,
    }


def quality_score() -> Column:
    """Additive score, capped at 100."""
    factors = quality_factors()
    score = F.lit(50)
    for name, points in FACTORS:
        score = score + F.when(factors[name], points).otherwise(0)
    return F.least(score, F.lit(100)).alias("quality_score")


def with_quality(df: DataFrame) -> DataFrame:
    return df.withColumn("quality_score", quality_score())


def score_bucket(score: Column) -> Column:
    """Histogram bucket labels 90-100 / 80-89 / ... / <50."""
    return (
        F.when(score >= 90, "90-100")
        .when(score >= 80, "80-89")
        .when(score >= 70, "70-79")
        .when(score >= 60, "60-69")
        .when(score >= 50, "50-59")
        .otherwise("<50")
    )


def quality_report(df: DataFrame) -> DataFrame:
    """Per shop: average score + histogram bucket counts (one
    aggregate pass; partial aggregation map-side)."""
    scored = with_quality(df).withColumn(
        "bucket", score_bucket(F.col("quality_score"))
    )
    return scored.groupBy("shop_type").agg(
        F.count("*").alias("n_products"),
        # scores are exact ints — emit floor(sum*100/cnt) so the avg is
        # an exact integer on both engines (see functions/exact.py).
        F.floor(F.sum("quality_score") * 100.0 / F.count("*"))
        .cast("long")
        .alias("avg_score_x100"),
        *[
            F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"n_{b}")
            for b in ["90-100", "80-89", "70-79", "60-69", "50-59", "<50"]
        ],
    )


REQUIRED_FIELDS = ["unified_id", "shop_type", "title", "current_price"]
OPTIONAL_FIELDS = ["brand", "image_url", "main_category", "promotion_type"]


def completeness_report(df: DataFrame) -> DataFrame:
    """Per shop: % non-null/non-empty per required+optional field
    (A2/A10 flavor), in basis points — one aggregate pass."""
    aggs = []
    for c in REQUIRED_FIELDS + OPTIONAL_FIELDS:
        present = F.col(c).isNotNull() & (F.col(c).cast("string") != "")
        aggs.append(
            F.floor(
                F.sum(F.when(present, 1).otherwise(0)) * 10000.0 / F.count("*")
            )
            .cast("long")
            .alias(f"{c}_bp")
        )
    return df.groupBy("shop_type").agg(*aggs)
