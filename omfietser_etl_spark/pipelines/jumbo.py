"""Jumbo raw → unified pipeline (F2 skip filter, P2 projection:
cents→euros, promo-tag flattening, brand fallback).

Ref: projects/processor/src/processors/jumbo.ts — skip :67-111,
transform :117-273, quantity :275-291, unit price :293-315, default
quantity :317-330.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.promotions import parse_promotion_mechanism
from ..functions.quantities import normalize_unit
from ..operators.category import normalize_categories
from .common import finish, qty_struct, split_transform_errors


def skip_filter(raw: DataFrame) -> DataFrame:
    """F2 (ref: jumbo.ts:67-111)."""
    p = F.col("product")
    keep = (
        p.isNotNull()
        & p["title"].isNotNull()
        & (F.trim(p["title"]) != "")
        & p["prices"].isNotNull()
        & p["prices"]["price"].isNotNull()
        & (p["prices"]["price"] > 0)
        & ~p["inAssortment"].eqNullSafe(F.lit(False))
        & (p["availability"].isNull() | ~p["availability"]["isAvailable"].eqNullSafe(F.lit(False)))
    )
    return raw.filter(keep)


def transform(raw: DataFrame) -> DataFrame:
    exprs = _transform_exprs()
    staged = raw.withColumns(exprs["stage1"])
    staged = staged.withColumn("_cur", exprs["cur"])
    return staged.select(*exprs["final"])


@cache
def _transform_exprs() -> list:
    """All transform expressions over the fixed JUMBO schema — built
    once per process."""
    p = F.col("product")

    # flatten promotions[].tags[].text, joined with '; ' (jumbo.ts:133-142)
    tags = F.flatten(
        F.transform(
            F.coalesce(p["promotions"], F.array()),
            lambda promo: F.transform(
                F.coalesce(promo["tags"], F.array()), lambda t: t["text"]
            ),
        )
    )
    mech = F.when(
        F.size(F.coalesce(p["promotions"], F.array())) > 0, F.array_join(tags, "; ")
    ).otherwise(F.lit(""))

    orig = F.coalesce(p["prices"]["price"], F.lit(0)) / 100.0

    # Stage heavy, multiply-referenced expressions as real columns
    # (CollapseProject would otherwise inline one copy of the promo-
    # parser / unit-normalizer trees per consuming output column).
    stage1 = {
        "_mech": mech,
        "_orig": orig,
        "_q": qty_struct(
            F.coalesce(F.nullif(p["quantity"], F.lit("")), p["subtitle"])
        ),
    }
    mech, orig = F.col("_mech"), F.col("_orig")

    # current price: parsed effective (truthy) else orig, then promoPrice
    # override (jumbo.ts:146-169)
    parsed_eff = parse_promotion_mechanism(mech, orig, orig)["effective_unit_price"]
    cur = F.when(
        (mech != "") & parsed_eff.isNotNull() & (parsed_eff != 0), parsed_eff
    ).otherwise(orig)
    promo_price = p["prices"]["promoPrice"]
    cur = F.when(
        promo_price.isNotNull() & (promo_price > 0), promo_price / 100.0
    ).otherwise(cur)
    cur_expr = cur
    cur = F.col("_cur")

    brand = F.coalesce(
        F.nullif(p["brand"], F.lit("")),
        F.nullif(F.get(F.split(p["title"], " "), 0), F.lit("")),
        F.lit(""),
    )

    q = F.col("_q")

    up = p["prices"]["pricePerUnit"]
    unit_price = F.when(up.isNotNull() & up["price"].isNotNull(), up["price"] / 100.0)
    unit_price_unit = F.when(
        up.isNotNull() & up["price"].isNotNull(),
        normalize_unit(F.coalesce(up["unit"], F.lit(""))),
    )

    dq = p["quantityDetails"]
    default_amt = F.when(dq.isNotNull(), dq["defaultAmount"])
    default_unit = F.when(dq.isNotNull(), F.lit("stuk"))

    is_promo = F.size(F.coalesce(p["promotions"], F.array())) > 0
    promo_type = F.when(
        mech != "",
        F.when(mech.contains("%"), F.lit("DISCOUNT_PERCENTAGE")).otherwise(
            F.lit("DISCOUNT_AMOUNT")
        ),
    ).otherwise(F.lit(""))

    disc_ok = (cur < orig) & (orig > 0)

    final = [
        p["id"].alias("unified_id"),
        F.lit("JUMBO").alias("shop_type"),
        p["title"].alias("title"),
        F.coalesce(p["category"], F.lit("")).alias("main_category"),
        brand.alias("brand"),
        F.coalesce(p["image"], F.lit("")).alias("image_url"),
        F.coalesce(
            F.nullif(p["quantity"], F.lit("")),
            F.nullif(p["subtitle"], F.lit("")),
            F.lit("per stuk"),
        ).alias("sales_unit_size"),
        q["amount"].alias("quantity_amount"),
        q["unit"].alias("quantity_unit"),
        F.coalesce(default_amt, F.lit(1.0)).alias("default_quantity_amount"),
        F.coalesce(default_unit, q["unit"]).alias("default_quantity_unit"),
        orig.alias("price_before_bonus"),
        cur.alias("current_price"),
        unit_price.alias("unit_price"),
        unit_price_unit.alias("unit_price_unit"),
        is_promo.alias("is_promotion"),
        promo_type.alias("promotion_type"),
        mech.alias("promotion_mechanism"),
        F.lit(None).cast("string").alias("promotion_start_date"),
        F.lit(None).cast("string").alias("promotion_end_date"),
        F.when(cur < orig, cur).alias("parsed_promotion_effective_unit_price"),
        F.lit(None).cast("double").alias("parsed_promotion_required_quantity"),
        F.lit(None).cast("double").alias("parsed_promotion_total_price"),
        F.lit(False).alias("parsed_promotion_is_multi_purchase_required"),
        q["amount"].alias("normalized_quantity_amount"),
        q["unit"].alias("normalized_quantity_unit"),
        F.lit(1.0).alias("conversion_factor"),
        unit_price.alias("price_per_standard_unit"),
        unit_price.alias("current_price_per_standard_unit"),
        F.when(disc_ok, orig - cur).alias("discount_absolute"),
        F.when(disc_ok, (orig - cur) / orig * 100.0).alias("discount_percentage"),
        (
            ~p["availability"]["isAvailable"].eqNullSafe(F.lit(False))
            & ~p["inAssortment"].eqNullSafe(F.lit(False))
        ).alias("is_active"),
        # the reference transform never throws: no transform errors
        F.lit(None).cast("string").alias("_transform_err"),
    ]
    return {"stage1": stage1, "cur": cur_expr, "final": final}


def pipeline(
    raw: DataFrame, predictions: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    ok, transform_errors = split_transform_errors(transform(skip_filter(raw)))
    ok = normalize_categories(ok, predictions=predictions)
    return finish(ok, transform_errors)
