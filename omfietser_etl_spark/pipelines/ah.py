"""AH raw → unified pipeline (F1 skip filter, P1 projection incl. the
15-code structured discount-label switch, D6 quantity parse).

Ref: projects/processor/src/processors/ah.ts — skip :672-695,
transform :146-623 (label switch :280-416 with first-match break at
:414, current-price fallback :449-462, unit-price regex :651-668,
quantity parse :625-649).
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.quantities import normalize_unit
from ..operators.category import normalize_categories
from .common import finish, qty_struct, split_transform_errors


def skip_filter(raw: DataFrame) -> DataFrame:
    """F1: drop virtual bundles, out-of-assortment, 'AH Voordeelshop',
    and rows with neither price (ref: ah.ts:672-695)."""
    keep = (
        ~F.coalesce(F.col("isVirtualBundle"), F.lit(False))
        & (F.col("orderAvailabilityStatus") == "IN_ASSORTMENT")
        & (
            F.col("mainCategory").isNull()
            | (F.col("mainCategory") != "AH Voordeelshop")
        )
        & ~(
            (F.coalesce(F.col("priceBeforeBonus"), F.lit(0.0)) == 0.0)
            & (F.coalesce(F.col("currentPrice"), F.lit(0.0)) == 0.0)
        )
    )
    return raw.filter(keep)


def _truthy(c: Column) -> Column:
    return c.isNotNull() & (c != 0)


def _structured_discount_agg(labels: Column, orig: Column, raw_cur: Column) -> Column:
    """First discount label that resolves a structured price wins
    (ref: ah.ts:280-416; loop breaks once hasStructuredDiscount).

    Returns struct(found boolean, eff double-or-null)."""
    cur_or_orig = F.when(_truthy(raw_cur), raw_cur).otherwise(orig)
    bundle_base = F.when(orig > 0, orig).otherwise(F.coalesce(raw_cur, F.lit(0.0)))

    def pct_eff(base: Column, p: Column) -> Column:
        return base * (1 - p / 100.0)

    def case(label: Column) -> tuple[Column, Column]:
        code = label["code"]
        cnt = label["count"]
        price = label["price"]
        free = label["freeCount"]
        pct = label["percentage"]
        amt = label["amount"]
        cond = (
            F.when(code == "DISCOUNT_FIXED_PRICE", F.lit(True))
            .when(code == "DISCOUNT_PERCENTAGE", _truthy(pct) & (orig > 0))
            .when(code == "DISCOUNT_AMOUNT", _truthy(amt) & (orig > 0))
            .when(code == "DISCOUNT_X_FOR_Y", _truthy(cnt) & _truthy(price) & (cnt > 0))
            .when(code == "DISCOUNT_BUNDLE_BULK", _truthy(pct) & (bundle_base > 0))
            .when(
                code == "DISCOUNT_X_PLUS_Y_FREE",
                _truthy(cnt) & _truthy(free) & (cnt > 0) & (free > 0),
            )
            .when(code == "DISCOUNT_ONE_HALF_PRICE", _truthy(cnt) & (cnt >= 2))
            .when(code == "DISCOUNT_BUNDLE", F.lit(True))
            .when(code == "DISCOUNT_BUNDLE_MIXED", _truthy(pct) & (bundle_base > 0))
            .when(code == "DISCOUNT_OP_IS_OP", _truthy(pct) & (orig > 0))
            .when(code == "DISCOUNT_TIERED_PERCENT", _truthy(pct) & (orig > 0))
            .when(code == "DISCOUNT_WEIGHT", _truthy(cnt) & _truthy(price) & (cnt > 0))
            .when(code == "DISCOUNT_TIERED_PRICE", _truthy(cnt) & _truthy(price) & (cnt > 0))
            .when(code == "DISCOUNT_FALLBACK", _truthy(price))
            .when(code == "DISCOUNT_BONUS", F.lit(True))
            .otherwise(F.lit(False))
        )
        val = (
            F.when(code == "DISCOUNT_FIXED_PRICE", price)
            .when(code == "DISCOUNT_PERCENTAGE", pct_eff(orig, pct))
            .when(code == "DISCOUNT_AMOUNT", F.greatest(F.lit(0.0), orig - amt))
            .when(code == "DISCOUNT_X_FOR_Y", price / cnt)
            .when(code == "DISCOUNT_BUNDLE_BULK", pct_eff(bundle_base, pct))
            .when(code == "DISCOUNT_X_PLUS_Y_FREE", orig * cnt / (cnt + free))
            .when(code == "DISCOUNT_ONE_HALF_PRICE", orig * 0.75)
            .when(code == "DISCOUNT_BUNDLE", cur_or_orig)
            .when(code == "DISCOUNT_BUNDLE_MIXED", pct_eff(bundle_base, pct))
            .when(code == "DISCOUNT_OP_IS_OP", pct_eff(orig, pct))
            .when(code == "DISCOUNT_TIERED_PERCENT", pct_eff(orig, pct))
            .when(code == "DISCOUNT_WEIGHT", price)
            .when(code == "DISCOUNT_TIERED_PRICE", price / cnt)
            .when(code == "DISCOUNT_FALLBACK", price)
            .when(code == "DISCOUNT_BONUS", cur_or_orig)
        )
        return cond, val

    init = F.struct(
        F.lit(False).alias("found"), F.lit(None).cast("double").alias("eff")
    )

    def merge(acc: Column, label: Column) -> Column:
        cond, val = case(label)
        hit = F.struct(F.lit(True).alias("found"), val.cast("double").alias("eff"))
        return F.when(acc["found"], acc).otherwise(F.when(cond, hit).otherwise(acc))

    return F.aggregate(F.coalesce(labels, F.array()), init, merge)


def transform(raw: DataFrame) -> DataFrame:
    """P1 projection to pre-template unified columns."""
    exprs = _transform_exprs()
    df = raw.withColumn("_sd", exprs["sd"])
    df = df.withColumn("_transform_err", exprs["err"])
    df = df.withColumns(exprs["stage"])
    return df.select(*exprs["final"])


@cache
def _transform_exprs() -> dict:
    """All transform expressions over the fixed AH schema — built
    once per process."""
    labels = F.col("discountLabels")
    orig = F.coalesce(F.col("priceBeforeBonus"), F.lit(0.0))
    raw_cur = F.col("currentPrice")
    is_promo = F.coalesce(F.col("isBonus"), F.lit(False))

    has_structured_pricing = (
        is_promo
        & labels.isNotNull()
        & F.exists(
            labels,
            lambda l: l["price"].isNotNull()
            | l["percentage"].isNotNull()
            | l["amount"].isNotNull(),
        )
    )

    sd_expr = _structured_discount_agg(labels, orig, raw_cur)
    sd_found = F.col("_sd.found") & is_promo & (F.size(F.coalesce(labels, F.array())) > 0)
    sd_eff = F.col("_sd.eff")

    # error channel (transform-time throws, ah.ts:200-267)
    err = (
        F.when(
            is_promo & ~has_structured_pricing & F.col("priceBeforeBonus").isNull(),
            F.lit("missing_promo_price"),
        )
        .when(
            ~has_structured_pricing
            & (orig <= 0)
            & (raw_cur.isNull() | (raw_cur <= 0)),
            F.lit("no_valid_price"),
        )
    )
    base_cur = F.when(_truthy(raw_cur), raw_cur).otherwise(orig)
    promo_cur = F.when(sd_found & sd_eff.isNotNull(), sd_eff).otherwise(base_cur)
    cur = F.when(is_promo, promo_cur).otherwise(base_cur)
    cur = F.when(cur <= 0, orig).otherwise(cur)

    sus = F.coalesce(F.col("salesUnitSize"), F.lit(""))
    sus = F.when(sus == "", F.lit("per stuk")).otherwise(sus)

    # Stage the multiply-referenced quantity struct / current price as
    # real columns (keeps per-output-column codegen small).
    stage = {"_q": qty_struct(sus), "_cur": cur}
    q, cur = F.col("_q"), F.col("_cur")

    widest = F.aggregate(
        F.coalesce(F.col("images"), F.array()),
        F.get(F.coalesce(F.col("images"), F.array()), 0),
        lambda acc, x: F.when(acc["width"] > x["width"], acc).otherwise(x),
    )
    image_url = F.coalesce(widest["url"], F.lit(""))

    up_rx = r"prijs per (\w+) €(\d+(?:[.,]\d+)?)"
    up_desc = F.col("unitPriceDescription")
    up_matched = up_desc.isNotNull() & (F.regexp_extract(up_desc, up_rx, 0) != "")
    unit_price = F.when(
        up_matched,
        F.regexp_replace(F.regexp_extract(up_desc, up_rx, 2), ",", ".").try_cast(
            "double"
        ),
    ).otherwise(F.lit(0.0))
    unit_price_unit = F.when(
        up_matched, normalize_unit(F.regexp_extract(up_desc, up_rx, 1))
    ).otherwise(F.lit(""))

    mech = F.when(is_promo, F.coalesce(F.col("bonusMechanism"), F.lit(""))).otherwise(
        F.lit("")
    )
    first_label = F.get(F.coalesce(labels, F.array()), 0)
    req_qty = F.when(
        is_promo & _truthy(first_label["count"]) & (first_label["count"] > 1),
        first_label["count"].cast("double"),
    )
    total_price = F.when(
        is_promo & _truthy(first_label["price"]) & _truthy(first_label["count"]),
        first_label["price"],
    )

    disc_ok = is_promo & (orig > 0) & (cur < orig)

    final = [
        F.col("webshopId").cast("string").alias("unified_id"),
        F.lit("AH").alias("shop_type"),
        F.col("title").alias("title"),
        F.coalesce(F.col("mainCategory"), F.lit("")).alias("main_category"),
        F.coalesce(F.col("brand"), F.lit("")).alias("brand"),
        image_url.alias("image_url"),
        sus.alias("sales_unit_size"),
        q["amount"].alias("quantity_amount"),
        q["unit"].alias("quantity_unit"),
        F.lit(1.0).alias("default_quantity_amount"),
        q["unit"].alias("default_quantity_unit"),
        orig.alias("price_before_bonus"),
        cur.alias("current_price"),
        unit_price.alias("unit_price"),
        unit_price_unit.alias("unit_price_unit"),
        is_promo.alias("is_promotion"),
        F.when(is_promo, F.coalesce(F.col("promotionType"), F.lit("DISCOUNT")))
        .otherwise(F.lit(""))
        .alias("promotion_type"),
        mech.alias("promotion_mechanism"),
        F.when(is_promo, F.col("bonusStartDate")).alias("promotion_start_date"),
        F.when(is_promo, F.col("bonusEndDate")).alias("promotion_end_date"),
        F.when(is_promo, cur).alias("parsed_promotion_effective_unit_price"),
        req_qty.alias("parsed_promotion_required_quantity"),
        total_price.alias("parsed_promotion_total_price"),
        F.coalesce(req_qty.isNotNull(), F.lit(False)).alias(
            "parsed_promotion_is_multi_purchase_required"
        ),
        q["amount"].alias("normalized_quantity_amount"),
        q["unit"].alias("normalized_quantity_unit"),
        F.lit(1.0).alias("conversion_factor"),
        unit_price.alias("price_per_standard_unit"),
        unit_price.alias("current_price_per_standard_unit"),
        F.when(disc_ok, orig - cur).alias("discount_absolute"),
        F.when(disc_ok, (orig - cur) / orig * 100.0).alias("discount_percentage"),
        (F.col("orderAvailabilityStatus") == "IN_ASSORTMENT").alias("is_active"),
        F.col("_transform_err"),
    ]
    return {"sd": sd_expr, "err": err, "stage": stage, "final": final}


def pipeline(
    raw: DataFrame, predictions: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Full AH dataflow: skip → transform (+error channel) → category
    cascade → the shared finish (template defaults → calculateFields →
    business-rule split). Returns (unified, errors)."""
    ok, transform_errors = split_transform_errors(transform(skip_filter(raw)))
    ok = normalize_categories(ok, predictions=predictions)
    return finish(ok, transform_errors)
