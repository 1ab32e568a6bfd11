"""Plus raw → unified pipeline (F4 skip filter, P4 projection:
required-field validation, quantity cascade, computed unit price).

Ref: projects/processor/src/processors/plus.ts — skip :59-80,
transform :86-255, required fields :269-289, quantity cascade
:291-341, unit price :343-380.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.promotions import parse_promotion_mechanism
from ..functions.quantities import normalize_unit
from ..functions.text import js_parse_float
from ..operators.category import normalize_categories
from .common import finish, split_transform_errors

_SENTINEL = "1900-01-01"


def skip_filter(raw: DataFrame) -> DataFrame:
    """F4 (ref: plus.ts:59-80)."""
    p = F.col("PLP_Str")
    return raw.filter(p.isNotNull() & p["IsAvailable"].eqNullSafe(F.lit(True)))


def transform(raw: DataFrame) -> DataFrame:
    exprs = _transform_exprs()
    staged = raw.withColumns(exprs["stage1"])
    staged = staged.withColumn("_cur", exprs["cur"])
    return staged.select(*exprs["final"])


@cache
def _transform_exprs() -> dict:
    """All transform expressions over the fixed PLUS schema / staged
    column names — built once per process: the tree is
    thousands of Py4J calls and identical on every invocation."""
    p = F.col("PLP_Str")

    # required-field validation → error channel (plus.ts:269-289; JS
    # falsy check: missing, null, or empty string)
    def missing(c) -> F.Column:
        return c.isNull() | (c.cast("string") == "")

    err = F.when(
        missing(p["SKU"])
        | missing(p["Name"])
        | missing(p["OriginalPrice"])
        | p["Categories"].isNull(),
        F.lit("missing_required_fields"),
    )

    title = p["Name"]
    initial_cat = F.get(F.coalesce(p["Categories"]["List"], F.array()), 0)["Name"]
    brand = F.coalesce(
        F.nullif(p["Brand"], F.lit("")), F.get(F.split(title, " "), 0)
    )

    # quantity cascade: subtitle → slug → packaging (plus.ts:291-341)
    sub = p["Product_Subtitle"]
    sub_rx = r"(?i)Per\s+(\d+(?:[.,]\d+)?)\s*(\w+)"
    sub_hit = sub.isNotNull() & (F.regexp_extract(sub, sub_rx, 0) != "")
    slug = p["Slug"]
    slug_rx = r"-(\d+(?:[.,]\d+)?)-([a-zA-Z]+)"
    slug_hit = slug.isNotNull() & (F.regexp_extract(slug, slug_rx, 0) != "")
    pack = p["Packging"]
    q_amount = (
        F.when(
            sub_hit,
            F.regexp_replace(F.regexp_extract(sub, sub_rx, 1), ",", ".").try_cast("double"),
        )
        .when(
            slug_hit,
            F.regexp_replace(F.regexp_extract(slug, slug_rx, 1), ",", ".").try_cast("double"),
        )
        .otherwise(F.lit(1.0))
    )
    q_unit = (
        F.when(sub_hit, normalize_unit(F.regexp_extract(sub, sub_rx, 2)))
        .when(slug_hit, normalize_unit(F.regexp_extract(slug, slug_rx, 2)))
        .when(pack.isNotNull() & (pack != ""), normalize_unit(pack))
        .otherwise(F.lit("stuk"))
    )

    amount_str = F.when(
        q_amount == F.floor(q_amount), q_amount.cast("long").cast("string")
    ).otherwise(q_amount.cast("string"))
    sales_unit_size = F.when(
        sub.isNotNull() & (F.length(F.trim(sub)) > 0),
        F.regexp_replace(sub, r"(?i)^Per\s+", ""),
    ).otherwise(F.concat(amount_str, F.lit(" "), q_unit))

    orig = F.coalesce(js_parse_float(p["OriginalPrice"]), F.lit(0.0))
    new_price = js_parse_float(p["NewPrice"])
    initial_cur = F.when(
        p["NewPrice"].isNotNull() & new_price.isNotNull() & (new_price > 0), new_price
    ).otherwise(orig)
    initial_cur = F.when((initial_cur == 0) & (orig > 0), orig).otherwise(initial_cur)

    is_promo = (
        p["PromotionLabel"].isNotNull()
        & ~p["PromotionStartDate"].eqNullSafe(F.lit(_SENTINEL))
        & ~p["PromotionEndDate"].eqNullSafe(F.lit(_SENTINEL))
    )
    mech = F.when(is_promo, F.coalesce(p["PromotionLabel"], F.lit(""))).otherwise(
        F.lit("")
    )

    # Stage heavy, multiply-referenced expressions as real columns so
    # CollapseProject does NOT inline a copy of the unit/promo-parser
    # trees per consuming output column (keeps codegen small on a
    # default-heap driver).
    stage1 = {
        "_orig": orig,
        "_initial_cur": initial_cur,
        "_is_promo": is_promo,
        "_mech": mech,
        "_q_amount": q_amount,
        "_q_unit": q_unit,
        "_sales_unit_size": sales_unit_size,
        "_err": err,
    }
    o, m = F.col("_orig"), F.col("_mech")
    is_promo = F.col("_is_promo")
    q_amount, q_unit = F.col("_q_amount"), F.col("_q_unit")
    parsed_eff = parse_promotion_mechanism(m, o, F.col("_initial_cur"))[
        "effective_unit_price"
    ]
    cur_expr = F.when(
        is_promo & (m != "") & parsed_eff.isNotNull() & (parsed_eff != 0),
        parsed_eff,
    ).otherwise(F.col("_initial_cur"))
    cur = F.col("_cur")

    # computed unit price per kg/l ×1000 (plus.ts:343-380)
    up_valid = (o > 0) & (q_amount > 0) & ~((q_amount == 1) & (q_unit == "stuk"))
    up_price = (
        F.when(q_unit.isin("g", "gram", "grams"), o / q_amount * 1000.0)
        .when(q_unit.isin("ml", "milliliter", "milliliters"), o / q_amount * 1000.0)
        .otherwise(o / q_amount)
    )
    up_unit = (
        F.when(q_unit.isin("g", "gram", "grams"), F.lit("kg"))
        .when(q_unit.isin("ml", "milliliter", "milliliters"), F.lit("l"))
        .otherwise(q_unit)
    )
    unit_price = F.when(up_valid, F.round(up_price, 2))
    unit_price_unit = F.when(up_valid, up_unit)

    disc_ok = (cur < o) & (o > 0)

    final = [
        p["SKU"].alias("unified_id"),
        F.lit("PLUS").alias("shop_type"),
        title.alias("title"),
        initial_cat.alias("main_category"),
        brand.alias("brand"),
        F.coalesce(p["ImageURL"], F.lit("")).alias("image_url"),
        F.col("_sales_unit_size").alias("sales_unit_size"),
        q_amount.alias("quantity_amount"),
        q_unit.alias("quantity_unit"),
        F.lit(1.0).alias("default_quantity_amount"),
        q_unit.alias("default_quantity_unit"),
        o.alias("price_before_bonus"),
        cur.alias("current_price"),
        unit_price.alias("unit_price"),
        unit_price_unit.alias("unit_price_unit"),
        is_promo.alias("is_promotion"),
        F.when(is_promo, F.lit("DISCOUNT")).otherwise(F.lit("")).alias("promotion_type"),
        m.alias("promotion_mechanism"),
        F.when(is_promo, p["PromotionStartDate"]).alias("promotion_start_date"),
        F.when(is_promo, p["PromotionEndDate"]).alias("promotion_end_date"),
        F.when(cur < o, cur).alias("parsed_promotion_effective_unit_price"),
        F.lit(None).cast("double").alias("parsed_promotion_required_quantity"),
        F.lit(None).cast("double").alias("parsed_promotion_total_price"),
        F.lit(False).alias("parsed_promotion_is_multi_purchase_required"),
        q_amount.alias("normalized_quantity_amount"),
        q_unit.alias("normalized_quantity_unit"),
        F.lit(1.0).alias("conversion_factor"),
        unit_price.alias("price_per_standard_unit"),
        unit_price.alias("current_price_per_standard_unit"),
        F.when(disc_ok, o - cur).alias("discount_absolute"),
        F.when(disc_ok, (o - cur) / o * 100.0).alias("discount_percentage"),
        p["IsAvailable"].alias("is_active"),
        F.col("_err").alias("_transform_err"),
    ]
    return {"stage1": stage1, "cur": cur_expr, "final": final}


def pipeline(
    raw: DataFrame, predictions: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    ok, transform_errors = split_transform_errors(transform(skip_filter(raw)))
    # Plus only normalizes when an initial category exists
    # (plus.ts:95-104); null categories stay null
    ok = normalize_categories(ok, predictions=predictions, output_col="_cat")
    ok = ok.withColumn(
        "main_category", F.when(F.col("main_category").isNotNull(), F.col("_cat"))
    ).drop("_cat")
    return finish(ok, transform_errors)
