"""File sinks (SURVEY K1, K4, K6): unified output, dead-letter
errors, and small-result reports.

Ref: infrastructure/storage/writer.ts:147-179 + core/services/
output.ts:47-76 (unified_<shop>_products.json with timestamped
backups), postgres-adapter.ts:856-919 (error sink),
processors/base.ts:626-716 (reports).

Parquet partitioned by shop_type is the engine-native sink (predicate
pruning on the 5-value shop column); the pretty-JSON single file
exists for parity with the reference's output contract only — it
coalesces to one task and must never be used at scale.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.quality import completeness_report, quality_report


def write_unified_parquet(df: DataFrame, path: str) -> None:
    """Engine-native unified sink: parquet partitioned by shop_type."""
    df.write.mode("overwrite").partitionBy("shop_type").parquet(path)


#: Hard cap on the parity JSON sink's driver-side collect. The sink
#: exists only to replay the reference's single-file output contract
#: on parity-sized runs; at scale the engine-native sink is
#: write_unified_parquet. A misuse on a corpus-sized frame must fail
#: loudly HERE, not OOM the driver mid-collect (round-9 verdict #6).
UNIFIED_JSON_MAX_ROWS = 250_000


def write_unified_json(df: DataFrame, out_dir: str, shop: str, run_ts: str) -> str:
    """Reference-parity JSON file `unified_<shop>_products.json`,
    previous file renamed to a run-stamped backup (writer.ts:147-179).
    run_ts is an explicit parameter — no wall clock (determinism).

    Bounded by contract: refuses frames above UNIFIED_JSON_MAX_ROWS.
    The bound is enforced IN the single collecting pass
    (toLocalIterator + in-loop cap), not by a separate limit+1 probe:
    a probe executes the upstream frame twice, and on a
    nondeterministic frame (e.g. sampled) the probe could pass while
    the real collect exceeds the cap (round-10 ADVICE). One pass,
    driver memory bounded by one partition + the capped row list."""
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for r in df.toJSON().toLocalIterator():
        if len(rows) >= UNIFIED_JSON_MAX_ROWS:
            raise ValueError(
                f"write_unified_json is the parity-only single-file sink "
                f"(> {UNIFIED_JSON_MAX_ROWS} rows collected to the driver); "
                "use write_unified_parquet for scale output"
            )
        rows.append(json.loads(r))
    final = os.path.join(out_dir, f"unified_{shop}_products.json")
    if os.path.exists(final):
        os.replace(final, os.path.join(out_dir, f"unified_{shop}_products.{run_ts}.bak.json"))
    with open(final, "w") as f:
        json.dump(rows, f, indent=2, sort_keys=True)
    return final


def write_errors(errors: DataFrame, path: str) -> None:
    """K4 dead-letter sink: one shop's error rows, overwriting the
    previous run's (re-running a day leaves the same rows)."""
    errors.write.mode("overwrite").parquet(path)


def write_reports(unified: DataFrame, out_dir: str, shops: list[str]) -> None:
    """K6: every shop's quality + completeness report from one collect
    of each, grouped by ``shop_type`` (small collects by construction —
    aggregates, not fact data). A shop without unified rows gets an
    empty quality list and null completeness figures."""
    os.makedirs(out_dir, exist_ok=True)
    quality = {r.shop_type: [r.asDict()] for r in quality_report(unified).collect()}
    completeness = completeness_report(unified)
    bp = {r.shop_type: r.asDict() for r in completeness.collect()}
    for shop in shops:
        c = bp.get(shop.upper(), dict.fromkeys(completeness.columns))
        del c["shop_type"]
        report = {
            "shop": shop,
            "quality": quality.get(shop.upper(), []),
            "completeness_bp": c,
        }
        with open(os.path.join(out_dir, f"{shop}_quality_report.json"), "w") as f:
            json.dump(report, f, indent=2, sort_keys=True)


def write_stats_report(
    out_dir: str,
    shop: str,
    total: int,
    success: int,
    failed: int,
    skipped: int,
    duration_s: float,
    run_ts: str,
) -> dict:
    """Reference-shaped per-shop stats report (K6 companion):
    mirrors `processors/base.ts:669-705` writeStatsReport — rates as
    two-decimal percent strings, processingRate as rounded items/sec,
    duration as a two-decimal seconds string. ``run_ts`` is an
    explicit parameter (same no-wall-clock discipline as
    write_unified_json). Engine mapping of the reference counters:
    success = unified rows, failed = dead-letter rows, skipped =
    corrupt/unparseable input rows."""
    os.makedirs(out_dir, exist_ok=True)
    denom = max(1, total)
    report = {
        "shopType": shop,
        "timestamp": run_ts,
        "processingDuration": f"{duration_s:.2f} seconds",
        "metrics": {
            "totalProcessed": total,
            "success": success,
            "failed": failed,
            "skipped": skipped,
            # the reference counts in-run dedup drops (base.ts:680);
            # 0 in file mode, where the engine has no dedup stage
            "deduped": 0,
            "successRate": f"{success * 100 / denom:.2f}%",
            "failureRate": f"{failed * 100 / denom:.2f}%",
            "skipRate": f"{skipped * 100 / denom:.2f}%",
            "processingRate": f"{round(total / max(duration_s, 1e-9))} items/sec",
            "skippedDetails": {"count": skipped, "reasons": {"parseFailed": skipped}},
        },
    }
    with open(os.path.join(out_dir, f"{shop}-stats.json"), "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
    return report
