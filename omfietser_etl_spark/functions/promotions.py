"""Promotion-mechanism parser as a compiled Column expression (D1).

Re-expresses the reference's text-based promotion parsing
(ref: projects/processor/src/utils/calculate-fields.ts:128-227 parse
flow; src/config/promotions.ts:16-164 ordered patterns, :194-303
detail extraction; AH structured bypass calculate-fields.ts:31-48)
as one ordered `when` chain — first matching pattern wins, evaluated
entirely JVM-side (no UDF).

All arithmetic is ANSI-safe: try_cast for lenient number parsing
(JS parseFloat semantics) and guarded divisions.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config.promotions import PROMOTION_PATTERNS

PARSED_FIELDS = (
    "promo_type",
    "effective_unit_price",
    "required_quantity",
    "total_price",
    "is_multi_purchase_required",
)


def _num(s: Column) -> Column:
    """Lenient decimal parse: ','→'.' then try_cast (≈ JS parseFloat)."""
    return (F.regexp_replace(s, ",", ".")).try_cast("double")


def _int(s: Column) -> Column:
    return (s).try_cast("long")


def _result(
    promo_type,
    eff: Column,
    req: Column | None = None,
    total: Column | None = None,
    multi: Column | bool = False,
    current_price: Column | None = None,
    round_eff: bool = True,
) -> Column:
    """Assemble the parsed-promotion struct with the reference's
    defaults: required→1, total→current_price, multi→false
    (ref: calculate-fields.ts:50-66)."""
    eff_out = F.round(eff, 2) if round_eff else eff
    total_out = F.round(total, 2) if total is not None else current_price
    return F.struct(
        F.lit(promo_type).alias("promo_type"),
        eff_out.cast("double").alias("effective_unit_price"),
        (F.lit(1.0) if req is None else req.cast("double")).alias("required_quantity"),
        total_out.cast("double").alias("total_price"),
        (F.lit(multi) if isinstance(multi, bool) else multi).alias(
            "is_multi_purchase_required"
        ),
    )


def parse_promotion_segment(seg: Column, orig: Column, cur: Column) -> Column:
    """Parse ONE lowercased, whitespace-normalized segment.

    Returns the parsed struct; the chain preserves the reference's
    pattern precedence (promotions.ts array order).
    """
    pat = dict((pid, rx) for pid, _, rx in PROMOTION_PATTERNS)

    def g(pid: str, idx: int) -> Column:
        return F.regexp_extract(seg, pat[pid], idx)

    fixed = _num(g("fixed_price", 1))

    xfy_q = _int(g("x_for_y", 1))
    xfy_t = _num(g("x_for_y", 2))
    xfy_eff = F.when(xfy_q > 0, xfy_t / xfy_q).otherwise(orig)

    xpy_b = _int(g("x_plus_y_free", 1))
    xpy_f = _int(g("x_plus_y_free", 2))
    xpy_eff = F.when(
        (xpy_b > 0) & (xpy_f > 0), orig * xpy_b / (xpy_b + xpy_f)
    ).otherwise(orig)

    # alternation `(\d+)\s*%\s*korting|-(\d+)%`: whichever group matched
    pct = _int(
        F.coalesce(
            F.nullif(g("percentage_discount", 1), F.lit("")),
            F.nullif(g("percentage_discount", 2), F.lit("")),
        )
    )
    pct_eff = F.when((pct > 0) & (pct <= 100), orig * (1 - pct / 100.0)).otherwise(orig)

    fdisc = _num(g("fixed_discount", 1))

    pack_pct = _int(g("pack_discount", 1))
    pack_eff = F.when((pack_pct > 0) & (pack_pct < 100), orig * (1 - pack_pct / 100.0)).otherwise(orig)
    vol_pct = _int(g("volume_discount", 1))
    vol_eff = F.when((vol_pct > 0) & (vol_pct < 100), orig * (1 - vol_pct / 100.0)).otherwise(orig)

    def m(pid: str) -> Column:
        return seg.rlike(pat[pid])

    return (
        F.when(m("fixed_price"), _result("FIXED_PRICE", fixed, current_price=cur))
        .when(
            m("x_for_y"),
            _result("X_FOR_Y", xfy_eff, req=xfy_q, total=xfy_t, multi=True, current_price=cur),
        )
        .when(
            m("x_plus_y_free"),
            _result(
                "X_PLUS_Y_FREE", xpy_eff,
                req=(xpy_b + xpy_f), total=orig * xpy_b, multi=True, current_price=cur,
            ),
        )
        .when(m("percentage_discount"), _result("PERCENTAGE_DISCOUNT", pct_eff, current_price=cur))
        .when(
            m("second_half_price"),
            _result(
                "SECOND_HALF_PRICE", orig * 0.75,
                req=F.lit(2), total=orig * 1.5, multi=True, current_price=cur,
            ),
        )
        .when(
            m("second_free"),
            _result(
                "SECOND_FREE", orig * 0.5,
                req=F.lit(2), total=orig * 1.0, multi=True, current_price=cur,
            ),
        )
        .when(
            m("fixed_discount"),
            _result("FIXED_DISCOUNT", F.greatest(F.lit(0.0), orig - fdisc), current_price=cur),
        )
        .when(m("pack_discount"), _result("PACK_DISCOUNT", pack_eff, current_price=cur))
        .when(m("volume_discount"), _result("VOLUME_DISCOUNT", vol_eff, current_price=cur))
        .when(
            m("conditional_buy"),
            _result("CONDITIONAL_BUY", orig, multi=True, current_price=cur),
        )
        .when(m("conditional_spend"), _result("CONDITIONAL_SPEND", orig, current_price=cur))
        .when(m("delivery_promo"), _result("DELIVERY_PROMO", orig, current_price=cur))
        .when(m("kies_mix"), _result("KIES_MIX", orig, current_price=cur))
        .otherwise(_result("UNKNOWN", cur, current_price=cur, round_eff=False))
    )


def parse_promotion_mechanism(mechanism: Column, orig: Column, cur: Column) -> Column:
    """Full mechanism parse: normalize → split segments on [;,] →
    single segment parses, multiple segments ⇒ MULTI_PROMO with
    fallback fields (ref: calculate-fields.ts:149-227)."""
    normalized = F.trim(F.regexp_replace(F.lower(mechanism), r"\s+", " "))
    segments = F.split(normalized, "[;,]")
    first_seg = F.trim(F.get(segments, 0))
    single = parse_promotion_segment(first_seg, orig, cur)
    multi = _result("MULTI_PROMO", cur, current_price=cur, round_eff=False)
    return F.when(F.size(segments) > 1, multi).otherwise(single)


def structured_discount(cur: Column) -> Column:
    """AH bypass: structured labels already priced the discount —
    no text parsing (ref: calculate-fields.ts:31-48)."""
    return _result("STRUCTURED_DISCOUNT", cur, current_price=cur, round_eff=False)


@cache
def standard_parsed_promo() -> Column:
    """The full promotion-parse expression over the FIXED unified
    column names — built once per process: the tree is ~2500 JVM calls
    to build (≈0.9 s of Py4J latency) and identical on every
    invocation, so the pipelines reuse one unresolved instance."""
    mech = F.col("promotion_mechanism")
    # JS truthiness: any non-empty mechanism (including the 'none'
    # template default) enters the parser (ref: calculate-fields.ts:27)
    applicable = F.col("is_promotion") & mech.isNotNull() & (mech != "")
    return F.when(
        applicable,
        F.when(
            F.col("shop_type") == "AH", structured_discount(F.col("current_price"))
        ).otherwise(
            parse_promotion_mechanism(
                mech, F.col("price_before_bonus"), F.col("current_price")
            )
        ),
    )
