"""File-mode run orchestration (SURVEY §3.1): the reference's CLI
lifecycle re-expressed as one declarative plan per shop plus one
report pass over all shops.

Ref: src/index.ts:150-412 — config/shops arg parsing, per-shop
processor execution, per-shop + rollup summary counters (A1).

Each shop is a single declarative DAG (scan → skip filter → transform
→ category cascade → enrich → dedupe/split → sinks) that Catalyst
plans end-to-end; its writes carry their row counts as Observations.
One read of all shops' unified output then feeds every report.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipelines import ah, aldi, generic, jumbo, plus
from .schemas import UNIFIED_SCHEMA
from .sinks.files import (
    write_errors,
    write_reports,
    write_stats_report,
)
from .sources.files import input_filename, read_shop_json

PIPELINES = {
    "ah": ah.pipeline,
    "jumbo": jumbo.pipeline,
    "aldi": aldi.pipeline,
    "plus": plus.pipeline,
}

# shops without a typed processor take the generic DB-mode path
# (NDJSON landing: one raw product JSON per line)
GENERIC_SHOPS = ("kruidvat",)


@dataclass
class ShopRunResult:
    shop: str
    n_unified: int
    n_errors: int
    n_corrupt: int


def run_file_mode(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    shops: list[str] | None = None,
    predictions: DataFrame | None = None,
) -> dict:
    """Process every shop input file present in ``input_dir``.

    Returns the A1-style summary: per-shop counters + overall rollup
    (ref: index.ts:363-412)."""
    shops = shops or [*PIPELINES, *GENERIC_SHOPS]
    results: list[ShopRunResult] = []
    for shop in shops:
        path = os.path.join(input_dir, input_filename(shop))
        if not os.path.exists(path):
            continue
        t0 = time.perf_counter()
        if shop in GENERIC_SHOPS:
            raw = spark.read.text(path).select(F.col("value").alias("raw_data"))
            corrupt = raw.filter(F.lit(False))
            unified, errors = generic.pipeline(
                raw, shop=shop, predictions=predictions
            )
        else:
            good, corrupt = read_shop_json(spark, path, shop)
            unified, errors = PIPELINES[shop](good, predictions=predictions)
        # Count the unified and error rows on the SAME jobs that write
        # them (Observations ride the writes) — a separate count()
        # re-executed the whole scan→transform→split lineage per shop
        # (review round-6 finding; sinks/audit.py is the same pattern).
        unified_obs = Observation()
        unified.observe(unified_obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(output_dir, "unified", shop))
        n_unified = int(unified_obs.get["n"])
        err_obs = Observation()
        write_errors(
            errors.observe(err_obs, F.count(F.lit(1)).alias("n")),
            os.path.join(output_dir, "errors", shop),
        )
        n_errors = int(err_obs.get["n"])
        n_corrupt = corrupt.count()
        # reference-shaped stats report (base.ts:669-705): run_ts
        # keyed to the job epilogue, not the oracle gate, so wall
        # clock is fine here
        write_stats_report(
            os.path.join(output_dir, "reports"),
            shop,
            total=n_unified + n_errors + n_corrupt,
            success=n_unified,
            failed=n_errors,
            skipped=n_corrupt,
            duration_s=time.perf_counter() - t0,
            run_ts=time.strftime("%Y-%m-%dT%H:%M:%S"),
        )
        results.append(
            ShopRunResult(
                shop=shop,
                n_unified=n_unified,
                n_errors=n_errors,
                n_corrupt=n_corrupt,
            )
        )
    # free the last shop's cached JSON parse and split batch (the
    # per-shop scopes only release on the NEXT call)
    from .cacheutil import release

    release("sources.read_shop_json")
    release("pipelines.split_errors")
    if results:
        # the known schema spares an inference job; the reports group
        # by shop (visualization: visualize-data.ts:11-95)
        from .sinks.visualize import write_visualization

        unified = spark.read.schema(UNIFIED_SCHEMA).parquet(
            *[os.path.join(output_dir, "unified", r.shop) for r in results]
        )
        write_reports(
            unified,
            os.path.join(output_dir, "reports"),
            [r.shop for r in results],
        )
        write_visualization(unified, os.path.join(output_dir, "visualization"))
    return {
        "shops": {
            r.shop: {
                "unified": r.n_unified,
                "errors": r.n_errors,
                "corrupt": r.n_corrupt,
            }
            for r in results
        },
        "total_unified": sum(r.n_unified for r in results),
        "total_errors": sum(r.n_errors for r in results),
    }
