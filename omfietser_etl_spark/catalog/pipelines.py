"""End-to-end shop-pipeline queries (P1-P4 + D1-D5 + category
cascade + template defaults) under the correctness gate.

Raw per-shop JSON rows are synthesized deterministically from the
``part`` table (variant = p_partkey % N), parsed with the real shop
StructTypes via ``from_json``, and run through the full pipeline
(skip filter → transform → category cascade → template defaults →
calculate-fields → business-rule split). Because the inputs are
controlled, the DuckDB oracle states the expected unified columns as
golden CASE arithmetic — independent of the pipeline code.

All prices are dyadic (quarters) so no round() ever lands on a
cross-engine tie.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omfietser_etl_spark.pipelines import ah, aldi, generic, jumbo, plus
from omfietser_etl_spark.schemas import (
    AH_SCHEMA,
    ALDI_SCHEMA,
    JUMBO_SCHEMA,
    PLUS_SCHEMA,
)
from omfietser_etl_spark.session import load

from . import QuerySpec

OUT_COLS = [
    "unified_id", "shop_type", "title", "main_category", "brand",
    "sales_unit_size", "quantity_amount", "quantity_unit",
    "price_before_bonus", "current_price", "is_promotion",
    "promotion_type", "promotion_mechanism",
    "parsed_promotion_effective_unit_price",
    "parsed_promotion_required_quantity", "parsed_promotion_total_price",
    "parsed_promotion_is_multi_purchase_required",
    "normalized_quantity_amount", "normalized_quantity_unit",
    "conversion_factor", "price_per_standard_unit",
    "current_price_per_standard_unit", "discount_absolute",
    "discount_percentage", "is_active",
]


def _jumbo_raw(spark: SparkSession, sf: str) -> DataFrame:
    """Synthesize jumbo raw rows: v0 plain, v1 tag-promo (2 voor €7),
    v2 promoPrice override (25% korting), v3 out-of-assortment
    (dropped by F2)."""
    part = load(spark, sf, "part", fanout=True)
    k = F.col("p_partkey").cast("string")
    m = (F.col("p_partkey") % 7).cast("string")
    v = F.col("p_partkey") % 4
    js = F.concat(
        F.lit('{"product":{"id":"J'), k, F.lit('","title":"Merk'), m,
        F.when(v == 0, F.concat(
            F.lit(' Cola","category":"Aardappel, groente, fruit",'
                  '"quantity":"500 g","inAssortment":true,'
                  '"availability":{"isAvailable":true},'
                  '"prices":{"price":2000}}}'))
        ).when(v == 1, F.concat(
            F.lit(' Sap","category":"","quantity":"1 l",'
                  '"inAssortment":true,"availability":{"isAvailable":true},'
                  '"prices":{"price":400},'
                  '"promotions":[{"tags":[{"text":"2 voor €7.00"}]}]}}'))
        ).when(v == 2, F.concat(
            F.lit(' Thee","category":"aardappel, groente, fruit",'
                  '"quantity":"750 ml","inAssortment":true,'
                  '"availability":{"isAvailable":true},'
                  '"prices":{"price":1000,"promoPrice":800},'
                  '"promotions":[{"tags":[{"text":"25% korting"}]}]}}'))
        ).otherwise(F.concat(
            F.lit(' Weg","category":"x","quantity":"1 stuk",'
                  '"inAssortment":false,'
                  '"availability":{"isAvailable":true},'
                  '"prices":{"price":500}}}'))
        ),
    )
    return part.select(
        "p_partkey", F.from_json(js, JUMBO_SCHEMA)["product"].alias("product")
    )


def p2_jumbo_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    raw = _jumbo_raw(spark, sf)
    unified, _ = jumbo.pipeline(raw)
    return unified.withColumn(
        "p_partkey", F.regexp_replace("unified_id", "^J", "").cast("long")
    ).select("p_partkey", *OUT_COLS)


def _c(expr_by_variant: dict[int, str], default: str = "NULL") -> str:
    """CASE p_partkey % 4 ... helper for the oracle."""
    whens = " ".join(f"WHEN {i} THEN {e}" for i, e in expr_by_variant.items())
    return f"CASE p_partkey % 4 {whens} ELSE {default} END"


P2_ORACLE = f"""
SELECT p_partkey,
  'J' || CAST(p_partkey AS VARCHAR) AS unified_id,
  'JUMBO' AS shop_type,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) ||
      {_c({0: "' Cola'", 1: "' Sap'", 2: "' Thee'"})} AS title,
  'Aardappel, groente, fruit' AS main_category,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) AS brand,
  {_c({0: "'500 g'", 1: "'1 l'", 2: "'750 ml'"})} AS sales_unit_size,
  {_c({0: "500.0", 1: "1.0", 2: "750.0"})} AS quantity_amount,
  {_c({0: "'g'", 1: "'l'", 2: "'ml'"})} AS quantity_unit,
  {_c({0: "20.0", 1: "4.0", 2: "10.0"})} AS price_before_bonus,
  {_c({0: "20.0", 1: "3.5", 2: "8.0"})} AS current_price,
  {_c({0: "false", 1: "true", 2: "true"})} AS is_promotion,
  {_c({0: "'none'", 1: "'DISCOUNT_AMOUNT'", 2: "'DISCOUNT_PERCENTAGE'"})} AS promotion_type,
  {_c({0: "'none'", 1: "'2 voor €7.00'", 2: "'25% korting'"})} AS promotion_mechanism,
  {_c({0: "NULL", 1: "3.5", 2: "7.5"})} AS parsed_promotion_effective_unit_price,
  {_c({0: "NULL", 1: "2.0", 2: "1.0"})} AS parsed_promotion_required_quantity,
  {_c({0: "NULL", 1: "7.0", 2: "8.0"})} AS parsed_promotion_total_price,
  {_c({0: "false", 1: "true", 2: "false"})} AS parsed_promotion_is_multi_purchase_required,
  {_c({0: "0.5", 1: "1.0", 2: "0.75"})} AS normalized_quantity_amount,
  {_c({0: "'kg'", 1: "'l'", 2: "'l'"})} AS normalized_quantity_unit,
  {_c({0: "0.5", 1: "1.0", 2: "0.75"})} AS conversion_factor,
  {_c({0: "40.0", 1: "4.0", 2: "13.33"})} AS price_per_standard_unit,
  {_c({0: "40.0", 1: "3.5", 2: "10.0"})} AS current_price_per_standard_unit,
  {_c({0: "NULL", 1: "0.5", 2: "2.5"})} AS discount_absolute,
  {_c({0: "NULL", 1: "12.5", 2: "25.0"})} AS discount_percentage,
  true AS is_active
FROM part WHERE p_partkey % 4 <> 3
"""


# ---------------------------------------------------------------- #
# P1 — AH (structured discount labels, bypass in calculate-fields)
# ---------------------------------------------------------------- #

def _ah_raw(spark: SparkSession, sf: str) -> DataFrame:
    """v0 plain (widest image), v1 DISCOUNT_PERCENTAGE label, v2
    DISCOUNT_X_FOR_Y without mechanism text, v3 DISCOUNT_ONE_HALF_PRICE
    (no structured pricing fields), v4 out of assortment (dropped)."""
    part = load(spark, sf, "part", fanout=True)
    k = F.col("p_partkey").cast("string")
    m = (F.col("p_partkey") % 7).cast("string")
    v = F.col("p_partkey") % 5
    js = F.concat(
        F.lit('{"webshopId":'), k, F.lit(',"brand":"Merk'), m,
        F.lit('","title":"Merk'), m,
        F.when(v == 0, F.lit(
            ' Cola","mainCategory":"Aardappel, groente, fruit",'
            '"salesUnitSize":"500 g","priceBeforeBonus":8.0,'
            '"orderAvailabilityStatus":"IN_ASSORTMENT",'
            '"unitPriceDescription":"prijs per kg €16.00",'
            '"images":[{"url":"img200.jpg","width":200},'
            '{"url":"img400.jpg","width":400}]}')
        ).when(v == 1, F.lit(
            ' Sap","mainCategory":"","salesUnitSize":"1 l",'
            '"priceBeforeBonus":8.0,"isBonus":true,'
            '"bonusMechanism":"25% korting",'
            '"orderAvailabilityStatus":"IN_ASSORTMENT",'
            '"discountLabels":[{"code":"DISCOUNT_PERCENTAGE","percentage":25.0}]}')
        ).when(v == 2, F.lit(
            ' Thee","mainCategory":"aardappel, groente, fruit",'
            '"salesUnitSize":"750 ml","priceBeforeBonus":4.0,"isBonus":true,'
            '"orderAvailabilityStatus":"IN_ASSORTMENT",'
            '"discountLabels":[{"code":"DISCOUNT_X_FOR_Y","count":2,"price":6.0}]}')
        ).when(v == 3, F.lit(
            ' Koek","mainCategory":"Aardappel, groente, fruit",'
            '"priceBeforeBonus":6.0,"isBonus":true,'
            '"bonusMechanism":"2e halve prijs",'
            '"orderAvailabilityStatus":"IN_ASSORTMENT",'
            '"discountLabels":[{"code":"DISCOUNT_ONE_HALF_PRICE","count":2}]}')
        ).otherwise(F.lit(
            ' Weg","mainCategory":"x","priceBeforeBonus":5.0,'
            '"orderAvailabilityStatus":"OUT_OF_ASSORTMENT"}')
        ),
    )
    return part.select("p_partkey", F.from_json(js, AH_SCHEMA).alias("r")).select(
        "p_partkey", "r.*"
    )


def p1_ah_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    raw = _ah_raw(spark, sf)
    unified, _ = ah.pipeline(raw.drop("p_partkey"))
    return unified.withColumn("p_partkey", F.col("unified_id").cast("long")).select(
        "p_partkey", *OUT_COLS
    )


def _c5(by: dict[int, str], default: str = "NULL") -> str:
    whens = " ".join(f"WHEN {i} THEN {e}" for i, e in by.items())
    return f"CASE p_partkey % 5 {whens} ELSE {default} END"


P1_ORACLE = f"""
SELECT p_partkey,
  CAST(p_partkey AS VARCHAR) AS unified_id,
  'AH' AS shop_type,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) ||
      {_c5({0: "' Cola'", 1: "' Sap'", 2: "' Thee'", 3: "' Koek'"})} AS title,
  'Aardappel, groente, fruit' AS main_category,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) AS brand,
  {_c5({0: "'500 g'", 1: "'1 l'", 2: "'750 ml'", 3: "'per stuk'"})} AS sales_unit_size,
  {_c5({0: "500.0", 1: "1.0", 2: "750.0", 3: "1.0"})} AS quantity_amount,
  {_c5({0: "'g'", 1: "'l'", 2: "'ml'", 3: "'stuk'"})} AS quantity_unit,
  {_c5({0: "8.0", 1: "8.0", 2: "4.0", 3: "6.0"})} AS price_before_bonus,
  {_c5({0: "8.0", 1: "6.0", 2: "3.0", 3: "4.5"})} AS current_price,
  {_c5({0: "false", 1: "true", 2: "true", 3: "true"})} AS is_promotion,
  {_c5({0: "'none'", 1: "'DISCOUNT'", 2: "'DISCOUNT'", 3: "'DISCOUNT'"})} AS promotion_type,
  {_c5({0: "'none'", 1: "'25% korting'", 2: "'none'", 3: "'2e halve prijs'"})} AS promotion_mechanism,
  {_c5({0: "NULL", 1: "6.0", 2: "3.0", 3: "4.5"})} AS parsed_promotion_effective_unit_price,
  {_c5({0: "NULL", 1: "1.0", 2: "1.0", 3: "1.0"})} AS parsed_promotion_required_quantity,
  {_c5({0: "NULL", 1: "6.0", 2: "3.0", 3: "4.5"})} AS parsed_promotion_total_price,
  false AS parsed_promotion_is_multi_purchase_required,
  {_c5({0: "0.5", 1: "1.0", 2: "0.75", 3: "1.0"})} AS normalized_quantity_amount,
  {_c5({0: "'kg'", 1: "'l'", 2: "'l'", 3: "'stuk'"})} AS normalized_quantity_unit,
  {_c5({0: "0.5", 1: "1.0", 2: "0.75", 3: "1.0"})} AS conversion_factor,
  {_c5({0: "16.0", 1: "8.0", 2: "5.33", 3: "6.0"})} AS price_per_standard_unit,
  {_c5({0: "16.0", 1: "6.0", 2: "4.0", 3: "4.5"})} AS current_price_per_standard_unit,
  {_c5({0: "NULL", 1: "2.0", 2: "1.0", 3: "1.5"})} AS discount_absolute,
  {_c5({0: "NULL", 1: "25.0", 2: "25.0", 3: "25.0"})} AS discount_percentage,
  true AS is_active
FROM part WHERE p_partkey % 5 <> 4
"""


# ---------------------------------------------------------------- #
# P3 — Aldi (price cascade, promo-detection cascade, week dates)
# ---------------------------------------------------------------- #

def _aldi_raw(spark: SparkSession, sf: str) -> DataFrame:
    """v0 plain, v1 oldPrice reduction (synthesized '-50%'),
    v2 priceReduction text, v3 sold out (dropped)."""
    part = load(spark, sf, "part", fanout=True)
    k = F.col("p_partkey").cast("string")
    m = (F.col("p_partkey") % 7).cast("string")
    v = F.col("p_partkey") % 4
    js = F.concat(
        F.lit('{"articleNumber":"A'), k, F.lit('","brandName":"Merk'), m,
        F.lit('","title":"Merk'), m,
        F.when(v == 0, F.lit(
            ' Cola","mainCategory":"Aardappel, groente, fruit",'
            '"salesUnit":"500 g","price":"2.50"}')
        ).when(v == 1, F.lit(
            ' Sap","mainCategory":"aardappel, groente, fruit",'
            '"salesUnit":"1 l","price":"2.00","oldPrice":"4.00"}')
        ).when(v == 2, F.lit(
            ' Thee","mainCategory":"Aardappel, groente, fruit",'
            '"salesUnit":"750 ml","price":"3.00",'
            '"priceReduction":"25% korting"}')
        ).otherwise(F.lit(
            ' Weg","mainCategory":"x","price":"1.00","isSoldOut":true}')
        ),
    )
    return part.select("p_partkey", F.from_json(js, ALDI_SCHEMA).alias("r")).select(
        "p_partkey", "r.*"
    )


ALDI_OUT = OUT_COLS + ["promotion_start_date", "promotion_end_date"]


def p3_aldi_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    raw = _aldi_raw(spark, sf)
    unified, _ = aldi.pipeline(raw.drop("p_partkey"))
    return unified.withColumn(
        "p_partkey", F.regexp_replace("unified_id", "^A", "").cast("long")
    ).select("p_partkey", *ALDI_OUT)


# run_date 2025-09-12 is a Friday → ISO week 2025-09-08..2025-09-14
P3_ORACLE = f"""
SELECT p_partkey,
  'A' || CAST(p_partkey AS VARCHAR) AS unified_id,
  'ALDI' AS shop_type,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) ||
      {_c({0: "' Cola'", 1: "' Sap'", 2: "' Thee'"})} AS title,
  'Aardappel, groente, fruit' AS main_category,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) AS brand,
  {_c({0: "'500 g'", 1: "'1 l'", 2: "'750 ml'"})} AS sales_unit_size,
  {_c({0: "500.0", 1: "1.0", 2: "750.0"})} AS quantity_amount,
  {_c({0: "'g'", 1: "'l'", 2: "'ml'"})} AS quantity_unit,
  {_c({0: "2.5", 1: "4.0", 2: "3.0"})} AS price_before_bonus,
  {_c({0: "2.5", 1: "2.0", 2: "2.25"})} AS current_price,
  {_c({0: "false", 1: "true", 2: "true"})} AS is_promotion,
  {_c({0: "'none'", 1: "'PRICE_REDUCTION'", 2: "'PRICE_REDUCTION'"})} AS promotion_type,
  {_c({0: "'none'", 1: "'-50%'", 2: "'25% korting'"})} AS promotion_mechanism,
  {_c({0: "NULL", 1: "2.0", 2: "2.25"})} AS parsed_promotion_effective_unit_price,
  {_c({0: "NULL", 1: "1.0", 2: "1.0"})} AS parsed_promotion_required_quantity,
  {_c({0: "NULL", 1: "2.0", 2: "2.25"})} AS parsed_promotion_total_price,
  false AS parsed_promotion_is_multi_purchase_required,
  {_c({0: "0.5", 1: "1.0", 2: "0.75"})} AS normalized_quantity_amount,
  {_c({0: "'kg'", 1: "'l'", 2: "'l'"})} AS normalized_quantity_unit,
  {_c({0: "0.5", 1: "1.0", 2: "0.75"})} AS conversion_factor,
  {_c({0: "5.0", 1: "4.0", 2: "4.0"})} AS price_per_standard_unit,
  {_c({0: "5.0", 1: "2.0", 2: "3.0"})} AS current_price_per_standard_unit,
  {_c({0: "NULL", 1: "2.0", 2: "0.75"})} AS discount_absolute,
  {_c({0: "NULL", 1: "50.0", 2: "25.0"})} AS discount_percentage,
  true AS is_active,
  {_c({0: "NULL", 1: "'2025-09-08'", 2: "'2025-09-08'"})} AS promotion_start_date,
  {_c({0: "NULL", 1: "'2025-09-14'", 2: "'2025-09-14'"})} AS promotion_end_date
FROM part WHERE p_partkey % 4 <> 3
"""


# ---------------------------------------------------------------- #
# P4 — Plus (required fields, quantity cascade, sentinel dates)
# ---------------------------------------------------------------- #

def _plus_raw(spark: SparkSession, sf: str) -> DataFrame:
    """v0 plain (subtitle quantity, computed unit price), v1 promo
    with real dates, v2 sentinel dates → NOT promo + NewPrice + slug
    quantity, v3 unavailable (dropped)."""
    part = load(spark, sf, "part", fanout=True)
    k = F.col("p_partkey").cast("string")
    m = (F.col("p_partkey") % 7).cast("string")
    v = F.col("p_partkey") % 4
    js = F.concat(
        F.lit('{"PLP_Str":{"SKU":"P'), k, F.lit('","Brand":"Merk'), m,
        F.lit('","Name":"Merk'), m,
        F.when(v == 0, F.lit(
            ' Cola","Product_Subtitle":"Per 500 g","OriginalPrice":"2.50",'
            '"IsAvailable":true,'
            '"Categories":{"List":[{"Name":"Aardappel, groente, fruit"}]}}}')
        ).when(v == 1, F.lit(
            ' Sap","Product_Subtitle":"Per 1 l","OriginalPrice":"4.00",'
            '"IsAvailable":true,"PromotionLabel":"2 voor €6.00",'
            '"PromotionStartDate":"2025-01-06","PromotionEndDate":"2025-01-12",'
            '"Categories":{"List":[{"Name":"Aardappel, groente, fruit"}]}}}')
        ).when(v == 2, F.lit(
            ' Thee","Slug":"merk-thee-330-ml","OriginalPrice":"3.00",'
            '"NewPrice":"2.00","IsAvailable":true,'
            '"PromotionLabel":"25% korting",'
            '"PromotionStartDate":"1900-01-01","PromotionEndDate":"1900-01-01",'
            '"Categories":{"List":[{"Name":"aardappel, groente, fruit"}]}}}')
        ).otherwise(F.lit(
            ' Weg","OriginalPrice":"1.00","IsAvailable":false,'
            '"Categories":{"List":[{"Name":"x"}]}}}')
        ),
    )
    return part.select("p_partkey", F.from_json(js, PLUS_SCHEMA).alias("r")).select(
        "p_partkey", "r.*"
    )


PLUS_OUT = OUT_COLS + ["promotion_start_date", "promotion_end_date"]


def p4_plus_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    raw = _plus_raw(spark, sf)
    unified, _ = plus.pipeline(raw.drop("p_partkey"))
    return unified.withColumn(
        "p_partkey", F.regexp_replace("unified_id", "^P", "").cast("long")
    ).select("p_partkey", *PLUS_OUT)


P4_ORACLE = f"""
SELECT p_partkey,
  'P' || CAST(p_partkey AS VARCHAR) AS unified_id,
  'PLUS' AS shop_type,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) ||
      {_c({0: "' Cola'", 1: "' Sap'", 2: "' Thee'"})} AS title,
  'Aardappel, groente, fruit' AS main_category,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) AS brand,
  {_c({0: "'500 g'", 1: "'1 l'", 2: "'330 ml'"})} AS sales_unit_size,
  {_c({0: "500.0", 1: "1.0", 2: "330.0"})} AS quantity_amount,
  {_c({0: "'g'", 1: "'l'", 2: "'ml'"})} AS quantity_unit,
  {_c({0: "2.5", 1: "4.0", 2: "3.0"})} AS price_before_bonus,
  {_c({0: "2.5", 1: "3.0", 2: "2.0"})} AS current_price,
  {_c({0: "false", 1: "true", 2: "false"})} AS is_promotion,
  {_c({0: "'none'", 1: "'DISCOUNT'", 2: "'none'"})} AS promotion_type,
  {_c({0: "'none'", 1: "'2 voor €6.00'", 2: "'none'"})} AS promotion_mechanism,
  {_c({0: "NULL", 1: "3.0", 2: "2.0"})} AS parsed_promotion_effective_unit_price,
  {_c({0: "NULL", 1: "2.0", 2: "NULL"})} AS parsed_promotion_required_quantity,
  {_c({0: "NULL", 1: "6.0", 2: "NULL"})} AS parsed_promotion_total_price,
  {_c({0: "false", 1: "true", 2: "false"})} AS parsed_promotion_is_multi_purchase_required,
  {_c({0: "0.5", 1: "1.0", 2: "0.33"})} AS normalized_quantity_amount,
  {_c({0: "'kg'", 1: "'l'", 2: "'l'"})} AS normalized_quantity_unit,
  {_c({0: "0.5", 1: "1.0", 2: "0.33"})} AS conversion_factor,
  {_c({0: "5.0", 1: "4.0", 2: "round(3.0 / 0.33, 2)"})} AS price_per_standard_unit,
  {_c({0: "5.0", 1: "3.0", 2: "round(2.0 / 0.33, 2)"})} AS current_price_per_standard_unit,
  {_c({0: "NULL", 1: "1.0", 2: "1.0"})} AS discount_absolute,
  {_c({0: "NULL", 1: "25.0", 2: "(3.0 - 2.0) / 3.0 * 100.0"})} AS discount_percentage,
  true AS is_active,
  {_c({0: "NULL", 1: "'2025-01-06'", 2: "NULL"})} AS promotion_start_date,
  {_c({0: "NULL", 1: "'2025-01-12'", 2: "NULL"})} AS promotion_end_date
FROM part WHERE p_partkey % 4 <> 3
"""


def f5_incomplete_filter(spark: SparkSession, sf: str) -> DataFrame:
    """F5 incomplete-row filter under the gate (ref dedupe.ts:83-93):
    a controlled incompleteness pattern is injected into p1's unified
    output (p_partkey%3==0 → title NULL, %3==1 → title '', %5==0 →
    current_price NULL) and drop_incomplete must keep exactly the
    rows the oracle's replay of the JS-truthiness rules keeps —
    upgrading F5 from unit-only to the driver gate."""
    from omfietser_etl_spark.textops.dedup import drop_incomplete

    u = p1_ah_pipeline(spark, sf)
    k = F.col("p_partkey")
    mangled = u.withColumn(
        "title",
        F.when(k % 3 == 0, F.lit(None).cast("string"))
        .when(k % 3 == 1, F.lit(""))
        .otherwise(F.col("title")),
    ).withColumn(
        "current_price",
        F.when(k % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("current_price")),
    )
    return drop_incomplete(mangled).select(
        "p_partkey", "unified_id", "shop_type", "title", "current_price"
    )


F5_ORACLE = f"""
SELECT p_partkey, unified_id, shop_type, title, current_price FROM (
  SELECT p_partkey, unified_id, shop_type,
         CASE WHEN p_partkey % 3 = 0 THEN NULL
              WHEN p_partkey % 3 = 1 THEN ''
              ELSE title END AS title,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              ELSE current_price END AS current_price
  FROM ({P1_ORACLE}) AS _p1
) WHERE current_price IS NOT NULL
  AND unified_id IS NOT NULL AND CAST(unified_id AS VARCHAR) <> ''
  AND shop_type IS NOT NULL AND CAST(shop_type AS VARCHAR) <> ''
  AND title IS NOT NULL AND CAST(title AS VARCHAR) <> ''
"""


SPECS = [
    QuerySpec("p1_ah_pipeline", p1_ah_pipeline, P1_ORACLE,
              "P1 full AH raw→unified pipeline"),
    QuerySpec("f5_incomplete_filter", f5_incomplete_filter, F5_ORACLE,
              "F5 JS-truthiness incomplete-row filter (gated on p1 output)"),
    QuerySpec("p2_jumbo_pipeline", p2_jumbo_pipeline, P2_ORACLE,
              "P2 full jumbo raw→unified pipeline"),
    QuerySpec("p3_aldi_pipeline", p3_aldi_pipeline, P3_ORACLE,
              "P3 full aldi raw→unified pipeline"),
    QuerySpec("p4_plus_pipeline", p4_plus_pipeline, P4_ORACLE,
              "P4 full plus raw→unified pipeline"),
]


# ---------------------------------------------------------------- #
# P6 — generic DB-mode pipeline (kruidvat: no dedicated processor)
# ---------------------------------------------------------------- #

def _kruidvat_raw(spark: SparkSession, sf: str) -> DataFrame:
    """v0 plain (price-only), v1 promo with old/new price, v2 missing
    sku → error channel (dropped)."""
    part = load(spark, sf, "part", fanout=True)
    k = F.col("p_partkey").cast("string")
    m = (F.col("p_partkey") % 7).cast("string")
    v = F.col("p_partkey") % 3
    js = F.concat(
        F.when(v != 2, F.concat(F.lit('{"sku":"K'), k, F.lit('",'))).otherwise(F.lit('{')),
        F.lit('"name":"Merk'), m,
        F.when(v == 0, F.lit(
            ' Zeep","price":"3.00","category":"Drogisterij","quantity":"250 ml"}')
        ).when(v == 1, F.lit(
            ' Shampoo","originalPrice":"4.00","newPrice":"3.00",'
            '"promotionLabel":"25% korting","category":"drogisterij","quantity":"1 l"}')
        ).otherwise(F.lit(' Weg","price":"1.00","category":"Drogisterij"}')),
    )
    return part.select("p_partkey", js.alias("raw_data"))


def p6_generic_kruidvat(spark: SparkSession, sf: str) -> DataFrame:
    raw = _kruidvat_raw(spark, sf)
    unified, _ = generic.pipeline(raw.drop("p_partkey"), shop="kruidvat")
    return unified.withColumn(
        "p_partkey", F.regexp_replace("unified_id", "^kruidvat_K", "").cast("long")
    ).select("p_partkey", *OUT_COLS)


def _c3(by: dict, default: str = "NULL") -> str:
    whens = " ".join(f"WHEN {i} THEN {e}" for i, e in by.items())
    return f"CASE p_partkey % 3 {whens} ELSE {default} END"


P6_ORACLE = f"""
SELECT p_partkey,
  'kruidvat_K' || CAST(p_partkey AS VARCHAR) AS unified_id,
  'KRUIDVAT' AS shop_type,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) ||
      {_c3({0: "' Zeep'", 1: "' Shampoo'"})} AS title,
  'Drogisterij' AS main_category,
  'Merk' || CAST(p_partkey % 7 AS VARCHAR) AS brand,
  {_c3({0: "'250 ml'", 1: "'1 l'"})} AS sales_unit_size,
  {_c3({0: "250.0", 1: "1.0"})} AS quantity_amount,
  {_c3({0: "'ml'", 1: "'l'"})} AS quantity_unit,
  {_c3({0: "3.0", 1: "4.0"})} AS price_before_bonus,
  {_c3({0: "3.0", 1: "3.0"})} AS current_price,
  {_c3({0: "false", 1: "true"})} AS is_promotion,
  {_c3({0: "'none'", 1: "'DISCOUNT'"})} AS promotion_type,
  {_c3({0: "'none'", 1: "'25% korting'"})} AS promotion_mechanism,
  {_c3({0: "NULL", 1: "3.0"})} AS parsed_promotion_effective_unit_price,
  {_c3({0: "NULL", 1: "1.0"})} AS parsed_promotion_required_quantity,
  {_c3({0: "NULL", 1: "3.0"})} AS parsed_promotion_total_price,
  false AS parsed_promotion_is_multi_purchase_required,
  {_c3({0: "0.25", 1: "1.0"})} AS normalized_quantity_amount,
  {_c3({0: "'l'", 1: "'l'"})} AS normalized_quantity_unit,
  {_c3({0: "0.25", 1: "1.0"})} AS conversion_factor,
  {_c3({0: "12.0", 1: "4.0"})} AS price_per_standard_unit,
  {_c3({0: "12.0", 1: "3.0"})} AS current_price_per_standard_unit,
  {_c3({0: "NULL", 1: "1.0"})} AS discount_absolute,
  {_c3({0: "NULL", 1: "25.0"})} AS discount_percentage,
  true AS is_active
FROM part WHERE p_partkey % 3 <> 2
"""

SPECS.append(
    QuerySpec("p6_generic_kruidvat", p6_generic_kruidvat, P6_ORACLE,
              "P6 generic DB-mode pipeline (kruidvat)")
)
