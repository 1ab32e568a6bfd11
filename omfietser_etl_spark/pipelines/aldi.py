"""Aldi raw → unified pipeline (F3 skip filter, P3 projection: price
parse cascade, promo-detection cascade, deterministic week dates).

Ref: projects/processor/src/processors/aldi.ts — skip :47-71,
transform :77-226, unit price :231-253, promotion date :259-294,
quantity :296-323, price cascade :325-337, promo cascade :339-385,
week dates :390-409 (wall-clock in the reference — made an explicit
`run_date` parameter here, per SURVEY §7.7 determinism note).
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.promotions import parse_promotion_mechanism
from ..functions.quantities import normalize_unit
from ..functions.text import js_parse_float
from ..operators.category import normalize_categories
from .common import finish, split_transform_errors

DEFAULT_RUN_DATE = "2025-09-12"  # reference snapshot date; override per run


def skip_filter(raw: DataFrame) -> DataFrame:
    """F3 (ref: aldi.ts:47-71)."""
    keep = (
        ~F.col("isNotAvailable").eqNullSafe(F.lit(True))
        & ~F.col("isSoldOut").eqNullSafe(F.lit(True))
        & (F.col("mainCategory").isNull() | (F.col("mainCategory") != "cadeaukaarten"))
    )
    return raw.filter(keep)


def _num_str(amount: Column) -> Column:
    """JS number → string: integral values print without '.0'."""
    return F.when(
        amount == F.floor(amount), amount.cast("long").cast("string")
    ).otherwise(amount.cast("string"))


def _parse_price(raw_price: Column, formatted: Column) -> Column:
    """price → priceFormatted → 0.01 floor (ref: aldi.ts:325-337)."""
    p1 = js_parse_float(raw_price)
    p2 = F.regexp_replace(
        F.regexp_replace(formatted, r"[^0-9.,]", ""), ",", "."
    ).try_cast("double")
    return F.coalesce(
        F.when(p1 > 0, p1), F.when(p2 > 0, p2), F.lit(0.01)
    )


def transform(raw: DataFrame, run_date: str = DEFAULT_RUN_DATE) -> DataFrame:
    exprs = _transform_exprs(run_date)
    staged = raw.withColumns(exprs["stage1"])
    staged = staged.withColumn("_cur", exprs["cur"])
    return staged.select(*exprs["final"])


@cache
def _transform_exprs(run_date: str) -> dict:
    """All transform expressions over the fixed ALDI schema — built
    once per (process, run_date)."""
    price = _parse_price(F.col("price"), F.col("priceFormatted"))
    old_raw = F.col("oldPrice")
    orig = F.when(old_raw.isNotNull(), js_parse_float(old_raw)).otherwise(price)

    # promo cascade (aldi.ts:339-385)
    old_num = js_parse_float(old_raw)
    pct = F.round((old_num - price) / old_num * 100).cast("long")
    mech_old = F.when(
        (old_num > 0) & (price > 0) & (old_num > price),
        F.concat(F.lit("-"), pct.cast("string"), F.lit("%")),
    ).otherwise(F.concat(F.lit("Was €"), F.format_string("%.2f", old_num)))
    has_old = old_raw.isNotNull() & (old_raw != "") & ~old_raw.eqNullSafe(F.col("price"))
    has_reduction = F.col("priceReduction").isNotNull() & (F.trim(F.col("priceReduction")) != "")
    has_info = F.col("priceInfo").isNotNull() & (F.trim(F.col("priceInfo")) != "")
    is_discount_cat = F.col("mainCategory").eqNullSafe(F.lit("discount"))

    is_promo = has_old | has_reduction | has_info | is_discount_cat
    promo_type = (
        F.when(has_old, "PRICE_REDUCTION")
        .when(has_reduction, "PRICE_REDUCTION")
        .when(has_info, "PRICE_INFO")
        .when(is_discount_cat, "WEEKLY_OFFER")
        .otherwise("")
    )
    mech = (
        F.when(has_old, mech_old)
        .when(has_reduction, F.col("priceReduction"))
        .when(has_info, F.col("priceInfo"))
        .when(is_discount_cat, F.lit("Weekaanbieding"))
        .otherwise(F.lit(""))
    )

    # promotion dates (aldi.ts:259-294): YYYY-MM-DD passthrough, else
    # unix-ms; missing → current ISO week Mon..Sun when promoted
    pd = F.col("promotionDetails")["promotionDate"]
    ms = pd.try_cast("long")
    explicit_date = F.when(pd.rlike(r"^\d{4}-\d{2}-\d{2}$"), pd).otherwise(
        F.when(
            ms.isNotNull() & (ms > 0),
            F.date_format(F.timestamp_millis(ms), "yyyy-MM-dd"),
        )
    )
    run = F.to_date(F.lit(run_date))
    dow = F.dayofweek(run)  # 1=Sunday..7=Saturday
    monday = F.date_sub(run, F.when(dow == 1, F.lit(6)).otherwise(dow - 2))
    week_start = F.date_format(monday, "yyyy-MM-dd")
    week_end = F.date_format(F.date_add(monday, 6), "yyyy-MM-dd")
    need_week = explicit_date.isNull() & (is_promo | is_discount_cat)
    start_date = F.when(explicit_date.isNotNull(), explicit_date).otherwise(
        F.when(need_week, week_start)
    )
    end_date = F.when(need_week, week_end)

    # category fallback from articleId path prefix (aldi.ts:413-417)
    parts = F.split(F.coalesce(F.col("articleId"), F.lit("")), "/")
    from_article = F.when(
        F.size(parts) > 1,
        F.array_join(F.slice(parts, 1, F.size(parts) - 1), "/"),
    ).otherwise(F.lit("Uncategorized"))
    initial_cat = F.coalesce(F.nullif(F.col("mainCategory"), F.lit("")), from_article)

    # quantity cascade (aldi.ts:296-323)
    su_rx = r"(\d+(?:[.,]\d+)?)\s*(\w+\.?)"
    su = F.col("salesUnit")
    su_hit = su.isNotNull() & (F.regexp_extract(su, su_rx, 0) != "")
    sd = F.col("shortDescription")
    sd_rx = r"(?i)(\d+(?:[.,]\d+)?\s*(ml|g|kg|l))"
    sd_m = F.regexp_extract(sd, sd_rx, 1)
    sd_parts = F.split(sd_m, " ")
    sd_hit = sd.isNotNull() & (sd_m != "") & (F.size(sd_parts) >= 2)
    q_amount = (
        F.when(
            su_hit,
            F.regexp_replace(F.regexp_extract(su, su_rx, 1), ",", ".").try_cast("double"),
        )
        .when(
            sd_hit,
            F.regexp_replace(F.get(sd_parts, 0), ",", ".").try_cast("double"),
        )
        .otherwise(F.lit(1.0))
    )
    q_unit = (
        F.when(su_hit, normalize_unit(F.regexp_extract(su, su_rx, 2)))
        .when(sd_hit, normalize_unit(F.get(sd_parts, 1)))
        .otherwise(F.lit("stuk"))
    )

    # unit price (aldi.ts:231-253)
    bp_ok = (
        F.col("basePriceValue").isNotNull()
        & (F.col("basePriceValue") != 0)
        & F.col("basePriceFormatted").isNotNull()
        & (F.col("basePriceFormatted") != "")
    )
    bp_unit_raw = F.regexp_extract(F.col("basePriceFormatted"), r"/([a-zA-Z]+)", 1)
    unit_price = F.when(bp_ok, F.col("basePriceValue"))
    unit_price_unit = F.when(bp_ok & (bp_unit_raw != ""), normalize_unit(bp_unit_raw))

    # Stage heavy, multiply-referenced expressions as real columns so
    # CollapseProject does NOT inline one copy of the (large) unit/
    # promo-parser trees per consuming output column — keeps generated
    # code small enough for a default-heap driver.
    stage1 = {
        "_orig": orig,
        "_mech": mech,
        "_is_promo": is_promo,
        "_promo_type": promo_type,
        "_start": start_date,
        "_end": end_date,
        "_initial_cat": initial_cat,
        "_q_amount": q_amount,
        "_q_unit": q_unit,
        "_unit_price": unit_price,
        "_unit_price_unit": unit_price_unit,
    }
    o, m = F.col("_orig"), F.col("_mech")
    parsed_eff = parse_promotion_mechanism(m, o, o)["effective_unit_price"]
    cur_expr = F.when(
        (m != "") & parsed_eff.isNotNull() & (parsed_eff != 0), parsed_eff
    ).otherwise(o)

    cur = F.col("_cur")
    q_amount, q_unit = F.col("_q_amount"), F.col("_q_unit")
    disc_ok = (cur < o) & (o > 0)

    final = [
        F.col("articleNumber").alias("unified_id"),
        F.lit("ALDI").alias("shop_type"),
        F.col("title").alias("title"),
        F.col("_initial_cat").alias("main_category"),
        F.when(
            F.col("brandName").isNotNull() & (F.col("brandName") != ""),
            F.trim(F.col("brandName")),
        )
        .otherwise(F.lit(""))
        .alias("brand"),
        F.coalesce(F.col("primaryImage")["baseUrl"], F.lit("")).alias("image_url"),
        F.coalesce(
            F.nullif(su, F.lit("")),
            F.concat(_num_str(q_amount), F.lit(" "), q_unit),
        ).alias("sales_unit_size"),
        q_amount.alias("quantity_amount"),
        q_unit.alias("quantity_unit"),
        F.lit(1.0).alias("default_quantity_amount"),
        q_unit.alias("default_quantity_unit"),
        o.alias("price_before_bonus"),
        cur.alias("current_price"),
        F.col("_unit_price").alias("unit_price"),
        F.col("_unit_price_unit").alias("unit_price_unit"),
        F.col("_is_promo").alias("is_promotion"),
        F.col("_promo_type").alias("promotion_type"),
        m.alias("promotion_mechanism"),
        F.col("_start").alias("promotion_start_date"),
        F.col("_end").alias("promotion_end_date"),
        F.when(cur < o, cur).alias("parsed_promotion_effective_unit_price"),
        F.lit(None).cast("double").alias("parsed_promotion_required_quantity"),
        F.lit(None).cast("double").alias("parsed_promotion_total_price"),
        F.lit(False).alias("parsed_promotion_is_multi_purchase_required"),
        q_amount.alias("normalized_quantity_amount"),
        q_unit.alias("normalized_quantity_unit"),
        F.lit(1.0).alias("conversion_factor"),
        F.col("_unit_price").alias("price_per_standard_unit"),
        F.col("_unit_price").alias("current_price_per_standard_unit"),
        F.when(disc_ok, o - cur).alias("discount_absolute"),
        F.when(disc_ok, (o - cur) / o * 100.0).alias("discount_percentage"),
        (
            ~F.col("isNotAvailable").eqNullSafe(F.lit(True))
            & ~F.col("isSoldOut").eqNullSafe(F.lit(True))
        ).alias("is_active"),
        # the reference transform never throws: no transform errors
        F.lit(None).cast("string").alias("_transform_err"),
    ]
    return {"stage1": stage1, "cur": cur_expr, "final": final}


def pipeline(
    raw: DataFrame,
    predictions: DataFrame | None = None,
    run_date: str = DEFAULT_RUN_DATE,
) -> tuple[DataFrame, DataFrame]:
    ok, transform_errors = split_transform_errors(
        transform(skip_filter(raw), run_date=run_date)
    )
    ok = normalize_categories(ok, predictions=predictions)
    return finish(ok, transform_errors)
