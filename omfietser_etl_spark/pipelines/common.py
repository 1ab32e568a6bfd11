"""Shared pipeline stages: template defaults, calculate-fields
enrichment, business-rule validation split, and the one finish every
shop pipeline ends with.

Every shop pipeline has the same shape, mirroring the reference's
single processing template (processors/base.ts:82-196): the shop's
skip filter and transform, ``split_transform_errors``, the shop's
``normalize_categories`` call, then ``finish`` (template defaults →
stage break → calculateFields → business-rule split → unified
projection). A pipeline returns ``(unified, errors)``.

Ref: createProductTemplate defaults (unified-product-template.ts:161-219
— JS `||` semantics: 0/''/false/null all take the default),
calculateFields sequencing (utils/calculate-fields.ts:20-123),
business rules (processors/base.ts:478-503).

Spark note: DataFrames analyze eagerly per transformation, so these
stages batch all column updates into a small number of select /
withColumns calls instead of long withColumn chains (which would
re-analyze an increasingly large plan quadratically).
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.prices import discount_metrics, price_per_unit
from ..functions.promotions import standard_parsed_promo
from ..functions.quantities import normalize_unit, with_standardized_quantity_staged
from ..schemas import UNIFIED_COLUMN_NAMES


def js_or(col: Column, default) -> Column:
    """JS `x || default` for STRING columns: only null/'' are falsy
    (the string '0' is truthy in JS)."""
    d = F.lit(default) if not isinstance(default, Column) else default
    return F.when(col.isNull() | (col == ""), d).otherwise(col)


def js_or_num(col: Column, default) -> Column:
    """JS `x || default` for NUMBER columns: null/0/NaN are falsy."""
    d = F.lit(default) if not isinstance(default, Column) else default
    return F.when(col.isNull() | F.isnan(col) | (col == 0), d).otherwise(col)


def qty_struct(text: Column) -> Column:
    """Shared `<number> <unit>` quantity parse + unit normalization,
    defaulting to (1, 'stuk') (ref: jumbo.ts:275-291, ah.ts:625-649)."""
    rx = r"(\d+(?:[.,]\d+)?)\s*(\w+)"
    amt = F.regexp_replace(F.regexp_extract(text, rx, 1), ",", ".").try_cast("double")
    unit = F.regexp_extract(text, rx, 2)
    matched = text.isNotNull() & (F.regexp_extract(text, rx, 0) != "")
    return F.when(
        matched,
        F.struct(amt.alias("amount"), normalize_unit(unit).alias("unit")),
    ).otherwise(
        F.struct(F.lit(1.0).alias("amount"), F.lit("stuk").alias("unit"))
    )


@cache
def _template_defaults() -> dict:
    """The template-defaults expressions over fixed column names —
    built once per process."""
    s = {c: js_or(F.col(c).cast("string"), d) for c, d in {
        "unified_id": "",
        "shop_type": "",
        "title": "",
        "brand": "",
        "image_url": "",
        "sales_unit_size": "",
        "quantity_unit": "",
        "promotion_type": "none",
        "promotion_mechanism": "none",
    }.items()}
    # main_category: `|| null` — empty string becomes null
    s["main_category"] = F.nullif(F.col("main_category"), F.lit(""))
    s["quantity_amount"] = js_or_num(F.col("quantity_amount").cast("double"), 0.0)
    s["price_before_bonus"] = js_or_num(F.col("price_before_bonus").cast("double"), 0.0)
    s["current_price"] = js_or_num(F.col("current_price").cast("double"), 0.0)
    s["is_promotion"] = F.coalesce(F.col("is_promotion").cast("boolean"), F.lit(False))
    s["is_active"] = F.coalesce(F.col("is_active").cast("boolean"), F.lit(True))
    return s


def apply_template_defaults(df: DataFrame) -> DataFrame:
    """Fill the template defaults over whatever the transform set
    (ref: unified-product-template.ts:161-219) — one withColumns call
    over a process-memoized expression dict (fixed column names)."""
    return df.withColumns(_template_defaults())


@cache
def _calculate_fields_step2() -> dict:
    """calculateFields steps 1-4 fanned out of the staged ``_pp`` /
    ``_q`` structs into the unified columns — built once per process."""
    mech = F.col("promotion_mechanism")
    applicable2 = F.col("is_promotion") & mech.isNotNull() & (mech != "")
    cf = F.col("_q.conversion_factor")
    eff = F.when(applicable2, F.col("_pp.effective_unit_price")).otherwise(
        F.col("parsed_promotion_effective_unit_price")
    )
    eff_truthy = eff.isNotNull() & ~F.isnan(eff) & (eff != 0)
    metrics = F.when(
        eff_truthy, discount_metrics(F.col("price_before_bonus"), eff)
    ).otherwise(
        discount_metrics(F.col("price_before_bonus"), F.col("current_price"))
    )
    return {
        "parsed_promotion_effective_unit_price": eff,
        "parsed_promotion_required_quantity": F.when(
            applicable2, F.col("_pp.required_quantity")
        ).otherwise(F.col("parsed_promotion_required_quantity")),
        "parsed_promotion_total_price": F.when(
            applicable2, F.col("_pp.total_price")
        ).otherwise(F.col("parsed_promotion_total_price")),
        "parsed_promotion_is_multi_purchase_required": F.when(
            applicable2, F.col("_pp.is_multi_purchase_required")
        ).otherwise(F.col("parsed_promotion_is_multi_purchase_required")),
        "normalized_quantity_amount": F.col("_q.normalized_amount"),
        "normalized_quantity_unit": F.col("_q.normalized_unit"),
        "conversion_factor": cf,
        "price_per_standard_unit": price_per_unit(F.col("price_before_bonus"), cf),
        "current_price_per_standard_unit": F.when(
            eff_truthy, price_per_unit(eff, cf)
        ).otherwise(price_per_unit(F.col("current_price"), cf)),
        "discount_absolute": F.when(
            F.col("is_promotion"), metrics["amount"]
        ).otherwise(F.col("discount_absolute")),
        "discount_percentage": F.when(
            F.col("is_promotion"), metrics["percentage"]
        ).otherwise(F.col("discount_percentage")),
    }


def apply_calculate_fields(df: DataFrame) -> DataFrame:
    """The calculateFields sequence (ref: calculate-fields.ts:20-123):

    1. parsed promotion (overwrite only when is_promotion ∧ mechanism
       truthy; AH → structured bypass),
    2. quantity standardization (always overwrites),
    3. price per standard unit (current prefers parsed effective price
       when truthy),
    4. discount metrics (promo rows only — non-promo keep whatever the
       shop transform computed).

    Two select passes: first materializes the heavy intermediate
    structs once, second fans them out into the unified columns.
    """
    # _q via the staged-column cascade: bounds the ~150-alias
    # containment fold's worst case (an alias-map miss re-evaluates
    # the cleaned-string regex chain per element in the naive inline
    # form — measured ~100× slower on miss-heavy data) WITHOUT the
    # join variant's second pass over the expensive upstream transform
    # lineage. Catalog-side fact queries use the join form
    # (with_standardized_quantity); composed pipelines use this one.
    # Every expression here references fixed unified column names, so
    # each builder is a functools.cache function — the naive rebuild
    # is ~4000 Py4J calls.
    step1 = df.withColumns({"_pp": standard_parsed_promo()})
    step1 = with_standardized_quantity_staged(
        step1, F.col("quantity_amount"), F.col("quantity_unit"), "_q"
    )
    step2 = step1.withColumns(_calculate_fields_step2())
    return step2.drop("_pp", "_q")


def stage_break(df: DataFrame) -> DataFrame:
    """Round-robin exchange between the transform cascade and the
    calculate-fields cascade.

    Two jobs: (1) it cuts one un-compilable mega whole-stage-codegen
    unit (raw parse + transform + category cascade + defaults + parser
    + calc fields fused) into two units that each compile inside a
    default 1 GiB driver heap; (2) it rebalances CPU-bound rows across
    all cores regardless of input split count. The exchanged rows are
    the narrow unified set — orders of magnitude cheaper than the
    expression work on either side."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def business_rule_errors(df: DataFrame) -> Column:
    """F6 price-validity rules → error label or null (ref:
    processors/base.ts:478-503)."""
    promo_bad = F.col("is_promotion") & (F.col("price_before_bonus") <= 0)
    no_price = (F.col("price_before_bonus") <= 0) & (F.col("current_price") <= 0)
    return (
        F.when(promo_bad, F.lit("invalid_promo_price"))
        .when(no_price, F.lit("no_valid_price"))
    )


def split_errors(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split unified rows into (valid, dead-letter) — the error rows
    mirror processing_errors (K4).

    The enriched batch is persisted once, MEMORY_AND_DISK so oversized
    batches spill instead of failing. The split is a fan-out, and the
    persist stops PushPredicateThroughProject from substituting the
    _err filter with the entire upstream expression cascade (which
    makes codegen explode on small-heap drivers) — load-bearing even
    when only the valid branch is consumed. The persist registers under
    the "pipelines.split_errors" scope, so the next split releases it.
    """
    from pyspark import StorageLevel

    from ..cacheutil import release_then_register

    flagged = df.withColumn("_err", business_rule_errors(df))
    # back-to-back pipeline invocations (the catalog runs six)
    # otherwise stack persisted 32-column batches in executor memory
    flagged = release_then_register(
        "pipelines.split_errors",
        flagged.persist(StorageLevel.MEMORY_AND_DISK),
    )
    valid = flagged.filter(F.col("_err").isNull()).drop("_err")
    errors = flagged.filter(F.col("_err").isNotNull()).select(
        F.col("unified_id").alias("raw_product_id"),
        "shop_type",
        F.col("_err").alias("error_type"),
        F.lit("high").alias("severity"),
        F.concat(F.lit("business rule violation: "), F.col("_err")).alias(
            "error_message"
        ),
    )
    return valid, errors


def split_transform_errors(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a shop transform's output on its ``_transform_err`` column
    into (ok rows, transform-error dead-letter rows) — the reference's
    transform-time throws (e.g. ah.ts:200-267, plus.ts:269-289).

    Shops whose transform never throws emit a constant null
    ``_transform_err``; the optimizer folds their error branch to an
    empty relation and prunes it."""
    err = F.col("_transform_err")
    errors = t.filter(err.isNotNull()).select(
        F.col("unified_id").alias("raw_product_id"),
        "shop_type",
        err.alias("error_type"),
        F.lit("high").alias("severity"),
        F.concat(F.lit("transform error: "), err).alias("error_message"),
    )
    return t.filter(err.isNull()).drop("_transform_err"), errors


def finish(ok: DataFrame, transform_errors: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared tail of every shop pipeline: template defaults →
    stage break → calculateFields → business-rule split → unified
    projection. Returns (unified, transform errors ∪ rule errors)."""
    ok = apply_template_defaults(ok)
    ok = stage_break(ok)
    ok = apply_calculate_fields(ok)
    valid, rule_errors = split_errors(ok)
    return select_unified(valid), transform_errors.unionByName(rule_errors)


def select_unified(df: DataFrame) -> DataFrame:
    """Project to the 32 unified columns in template order."""
    return df.select(*UNIFIED_COLUMN_NAMES)
