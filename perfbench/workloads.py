"""The benchmark's workloads. Each is a single client in a closed loop:
the next operation starts when the previous one has returned and its
output has been checked. Only the operation itself is timed.

The product runs as a daily batch job in a fresh JVM, so a run measures
what such a job pays: every workload starts from a fresh session and
its first operations include the JVM's warm-up (JIT and code
generation). A run keeps starting operations until ``seconds`` have
passed and always completes at least one (daily_merge: MIN_BATCHES).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, gen
from .trace import Tracer, op_breakdown

#: input sizes; every operation's cost is dominated by fixed per-job
#: overhead at these sizes, so larger inputs mostly lengthen the run
SCRAPE_PER_SHOP = 200
STATE_PER_SHOP = 600
#: daily_merge: set-up folds WARMUP_BATCHES batches after seeding the
#: store; the later batches still speed up, so the median is taken over
#: a fixed minimum number of them
WARMUP_BATCHES = 2
MIN_BATCHES = 5

#: per-layer metrics (name, unit), filled by the traced run. A layer a
#: workload does not enter reports 0.
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.read_shop_json_s", "s"),
    ("sources.parse_tasks", "count"),
    ("pipelines.pipeline_s", "s"),
    ("operators.normalize_categories_s", "s"),
    ("operators.quality_report_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.reports_s", "s"),
    ("sinks.visualize_s", "s"),
    ("sinks.bytes_per_input_byte", "ratio"),
    ("runner.self_s", "s"),
    ("runner.spark_jobs", "count"),
    ("runner.spark_tasks", "count"),
    ("streaming.hash_skip_s", "s"),
    ("streaming.merge_batch_s", "s"),
    ("streaming.read_state_s", "s"),
    ("streaming.merge_spark_jobs", "count"),
    ("streaming.rows_written_per_changed_row", "ratio"),
    ("streaming.state_bytes_per_live_row", "B"),
    ("streaming.state_files", "count"),
    ("textops.minhash_lsh_pairs_s", "s"),
    ("textops.connected_components_s", "s"),
    ("textops.candidates_per_verified_pair", "ratio"),
    ("textops.spark_jobs", "count"),
    ("sources.self_s", "s"),
    ("pipelines.self_s", "s"),
    ("operators.self_s", "s"),
    ("sinks.self_s", "s"),
    ("streaming.self_s", "s"),
    ("textops.self_s", "s"),
    ("trace.op_s", "s"),
    ("trace.overhead_s", "s"),
)
LAYER_UNITS = dict(PER_LAYER)


class Run:
    """What one workload run needs and records."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer: Tracer | None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latencies: list[float] = []
        self.layers: list[dict] = []  # per traced operation
        self.setup_work_s = 0.0
        self.info: dict = {}

    def record(self, latency: float, errs: list[str]) -> None:
        self.attempted += 1
        self.latencies.append(latency)
        if errs:
            self.failed += 1
            self.errors += errs

    def more(self, t0: float, min_ops: int = 1) -> bool:
        return len(self.latencies) < min_ops or time.perf_counter() - t0 < self.seconds

    def add_layers(self, bd: dict, latency: float, overhead0: float, values: dict) -> None:
        """Store one traced operation's per-layer values, with the
        layers' self times (from its op_breakdown ``bd``), the
        operation's traced latency and the time the tracer itself spent
        during it."""
        self.layers.append({
            **{f"{layer}.self_s": v for layer, v in bd["layer_self_s"].items()
               if f"{layer}.self_s" in LAYER_UNITS},
            **values,
            "trace.op_s": latency,
            "trace.overhead_s": self.tracer.overhead_s - overhead0,
        })

    def op_span(self, name: str):
        """A root span for one operation in a traced run."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def layer_metrics(run: Run, session_s: float) -> dict:
    """Per-layer values of a traced run: the median over its traced
    operations, plus the session's start and set-up work."""
    keys = {k for d in run.layers for k in d}
    out = {k: float(statistics.median(d.get(k, 0) for d in run.layers)) for k in keys}
    out["session.start_s"] = session_s
    out["session.warmup_s"] = run.setup_work_s
    return out


def _named(bd: dict, *names: str, field: str = "total_s") -> float:
    return sum(bd["names"].get(n, {}).get(field, 0) for n in names)


# ------------------------------------------------------------------ #
# full_scrape
# ------------------------------------------------------------------ #


def _scrape_targets():
    from omfietser_etl_spark import runner
    from pyspark.sql.readwriter import DataFrameWriter

    pipeline_mods = [f"omfietser_etl_spark.pipelines.{s}" for s in ("ah", "jumbo", "aldi", "plus", "generic")]
    return [
        (runner, "read_shop_json", "sources.read_shop_json", "scan"),
        *[(runner.PIPELINES, s, f"pipelines.{s}", "cache") for s in runner.PIPELINES],
        ("omfietser_etl_spark.pipelines.generic", "pipeline", "pipelines.generic", "cache"),
        *[(m, "normalize_categories", "operators.normalize_categories", "cache") for m in pipeline_mods],
        ("omfietser_etl_spark.sinks.files", "quality_report", "operators.quality_report", "cache"),
        (DataFrameWriter, "parquet", "sinks.write_parquet", None),
        (runner, "write_errors", "sinks.write_errors", None),
        (runner, "write_reports", "sinks.write_reports", None),
        (runner, "write_stats_report", "sinks.write_stats_report", None),
        ("omfietser_etl_spark.sinks.visualize", "write_visualization", "sinks.write_visualization", None),
    ]


def _scrape_digest(spark, out: str) -> tuple[dict, int]:
    """Per shop: row count, price checksum and id checksum of the
    unified parquet; and the visualization summary's product total."""
    import json

    shop_of = {v: k for k, v in gen.SHOP_TYPE.items()}
    unified = spark.read.parquet(*[os.path.join(out, "unified", s) for s in gen.SHOPS])
    digest = {
        shop_of[r[0]]: {"rows": r[1], "price_cents": r[2], "id_crc": r[3]}
        for r in unified.groupBy("shop_type").agg(
            F.count("*"),
            F.sum(F.round(F.col("current_price") * 100).cast("long")),
            F.sum(F.crc32("unified_id")),
        ).collect()
    }
    with open(os.path.join(out, "visualization", "summary.json")) as f:
        total = json.load(f)["total"]
    return digest, total


def _match(spark, out: str, tracer: Tracer | None) -> list:
    """Group the scrape's unified products across shops:
    minhash_lsh_pairs -> connected_components over their titles.
    Returns the collected (product, component) rows."""
    from omfietser_etl_spark.textops import dedup

    products = spark.read.parquet(*[os.path.join(out, "unified", s) for s in gen.SHOPS]).select(
        F.concat("shop_type", F.lit(":"), "unified_id").alias("product"), "title")
    if tracer is None:
        pairs = dedup.minhash_lsh_pairs(products, "product", "title")
        return dedup.connected_components(pairs).collect()
    with tracer.patched([(dedup, "lsh_candidate_pairs", "textops.lsh_candidate_pairs", "cache")]):
        pairs = tracer.wrap(dedup.minhash_lsh_pairs, "textops.minhash_lsh_pairs", "cache")(
            products, "product", "title")
    with tracer.span("textops.connected_components"):
        return dedup.connected_components(pairs).collect()


def full_scrape(run: Run) -> dict:
    """One operation: the five shop files through run_file_mode, then
    the unified products matched across shops."""
    from omfietser_etl_spark.runner import run_file_mode
    from omfietser_etl_spark.textops.constants import JACCARD_THRESHOLD

    inputs = gen.scrape_inputs(run.seed, SCRAPE_PER_SHOP)
    in_dir = os.path.join(run.work, "in")
    in_bytes = gen.write_scrape_inputs(inputs, in_dir)
    n_products = sum(len(d["records"]) for d in inputs["shops"].values())
    t = run.tracer
    t0 = time.perf_counter()
    i = 0
    while run.more(t0):
        out = os.path.join(run.work, f"out{i}")
        ov0 = t.overhead_s if t else 0.0
        with run.op_span("op.full_scrape") as root:
            start = time.perf_counter()
            if t is None:
                summary = run_file_mode(run.spark, in_dir, out)
            else:
                with t.patched(_scrape_targets()):
                    with t.span("runner.run_file_mode"):
                        summary = run_file_mode(run.spark, in_dir, out)
            comps = _match(run.spark, out, t)
            latency = time.perf_counter() - start
        digest, viz_total = _scrape_digest(run.spark, out)
        run.record(latency, checks.scrape(summary, digest, viz_total, inputs["shops"])
                   + checks.match([tuple(r) for r in comps], inputs["titles"],
                                  inputs["groups"], JACCARD_THRESHOLD, run.seed + i))
        if t is not None:
            t.release()
            bd = op_breakdown(t.spans, root)
            out_bytes, _ = _dir_bytes(out)
            cand = bd["names"]["textops.lsh_candidate_pairs"]["rows"]
            verified = bd["names"]["textops.minhash_lsh_pairs"]["rows"]
            run.add_layers(bd, latency, ov0, {
                "sources.read_shop_json_s": _named(bd, "sources.read_shop_json"),
                "sources.parse_tasks": _named(bd, "sources.read_shop_json", field="tasks"),
                "pipelines.pipeline_s": sum(v["total_s"] for k, v in bd["names"].items()
                                            if k.startswith("pipelines.")),
                "operators.normalize_categories_s": _named(bd, "operators.normalize_categories"),
                "operators.quality_report_s": _named(bd, "operators.quality_report"),
                "sinks.write_s": _named(bd, "sinks.write_parquet", "sinks.write_errors", field="self_s"),
                "sinks.reports_s": _named(bd, "sinks.write_reports", "sinks.write_stats_report"),
                "sinks.visualize_s": _named(bd, "sinks.write_visualization"),
                "sinks.bytes_per_input_byte": out_bytes / in_bytes,
                "runner.spark_jobs": _named(bd, "runner.run_file_mode", field="incl_jobs"),
                "runner.spark_tasks": _named(bd, "runner.run_file_mode", field="incl_tasks"),
                "textops.minhash_lsh_pairs_s": _named(bd, "textops.minhash_lsh_pairs"),
                "textops.connected_components_s": _named(bd, "textops.connected_components"),
                "textops.candidates_per_verified_pair": cand / max(1, verified),
                "textops.spark_jobs": sum(v["jobs"] for n, v in bd["names"].items()
                                          if n.startswith("textops.")),
            })
        shutil.rmtree(out, ignore_errors=True)
        i += 1
    lat = statistics.median(run.latencies)
    run.info = {"products_per_s": n_products / lat, "products": n_products,
                "groups": len(inputs["groups"])}
    return {"items_per_s": n_products / lat, "op_p50_s": lat}


# ------------------------------------------------------------------ #
# daily_merge
# ------------------------------------------------------------------ #

_ARROW = {"string": pa.string(), "double": pa.float64(), "bool": pa.bool_()}
STATE_SCHEMA = pa.schema(
    [(n, _ARROW[t]) for n, t in gen.UNIFIED_COLUMNS] + [(gen.ORDER_COL, pa.int64())]
)


def _write_batch(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=STATE_SCHEMA), path)


def _merge(spark, tracer: Tracer | None, path: str, state: str) -> None:
    """One batch through hash -> skip -> merge, committed to ``state``."""
    from omfietser_etl_spark.streaming import incremental as inc

    keys = list(gen.KEYS)
    batch = spark.read.parquet(path)
    if tracer is None:
        changed = inc.skip_unchanged(inc.with_content_hash(batch, *gen.PAYLOAD), state, keys)
        inc.merge_batch(changed, state, keys, gen.ORDER_COL)
        return
    with tracer.patched([(inc, "read_state", "streaming.read_state", None)]):
        hashed = tracer.wrap(inc.with_content_hash, "streaming.with_content_hash", "cache")(
            batch, *gen.PAYLOAD)
        changed = tracer.wrap(inc.skip_unchanged, "streaming.skip_unchanged", "cache")(
            hashed, state, keys)
        tracer.wrap(inc.merge_batch, "streaming.merge_batch")(changed, state, keys, gen.ORDER_COL)


def _state_digest(spark, state: str, shop_type: str) -> dict:
    from omfietser_etl_spark.streaming.incremental import read_state

    r = read_state(spark, state).filter(F.col("shop_type") == shop_type).agg(
        F.count("*"),
        F.sum(F.round(F.col("current_price") * 100).cast("long")),
        F.sum(gen.ORDER_COL),
        F.sum(F.crc32("unified_id")),
    ).first()
    return {"rows": r[0], "price_cents": r[1] or 0, "days": r[2] or 0, "id_crc": r[3] or 0}


def _live_state(state: str) -> tuple[int, int]:
    """(bytes, data files) in the version dirs the manifest points to."""
    import json

    with open(os.path.join(state, "_CURRENT")) as f:
        parts = json.load(f)["partitions"]
    size = files = 0
    for shop, ver in parts.items():
        b, n = _dir_bytes(os.path.join(state, ver, f"shop_type={shop}"))
        size, files = size + b, files + n
    return size, files


def daily_merge(run: Run) -> dict:
    from omfietser_etl_spark.streaming.incremental import read_state

    model = gen.StateModel(run.seed, STATE_PER_SHOP)
    state = os.path.join(run.work, "state")
    seed_path = os.path.join(run.work, "seed.parquet")
    _write_batch(model.initial, seed_path)
    start = time.perf_counter()
    _merge(run.spark, None, seed_path, state)
    model.apply(model.initial)
    k = 0
    # the first batches of a fresh session compile the merge path:
    # warm-up, part of set-up
    for _ in range(WARMUP_BATCHES):
        _, batch = model.rescrape(k)
        path = os.path.join(run.work, f"batch{k}.parquet")
        _write_batch(batch, path)
        _merge(run.spark, None, path, state)
        model.apply(batch)
        k += 1
    run.setup_work_s = time.perf_counter() - start
    rows_total = 0
    t0 = time.perf_counter()
    while run.more(t0, MIN_BATCHES):
        shop, batch = model.rescrape(k)
        path = os.path.join(run.work, f"batch{k}.parquet")
        _write_batch(batch, path)
        ov0 = run.tracer.overhead_s if run.tracer else 0.0
        with run.op_span("op.daily_merge") as root:
            start = time.perf_counter()
            _merge(run.spark, run.tracer, path, state)
            latency = time.perf_counter() - start
        model.apply(batch)
        st = gen.SHOP_TYPE[shop]
        run.record(latency, checks.merged_shop(_state_digest(run.spark, state, st), model, st))
        rows_total += len(batch)
        if run.tracer is not None:
            run.tracer.release()
            bd = op_breakdown(run.tracer.spans, root)
            changed = bd["names"]["streaming.skip_unchanged"]["rows"]
            live_bytes, live_files = _live_state(state)
            written = read_state(run.spark, state).filter(F.col("shop_type") == st).count()
            run.add_layers(bd, latency, ov0, {
                "streaming.hash_skip_s": _named(bd, "streaming.with_content_hash", "streaming.skip_unchanged"),
                "streaming.merge_batch_s": _named(bd, "streaming.merge_batch"),
                "streaming.read_state_s": _named(bd, "streaming.read_state"),
                "streaming.merge_spark_jobs": _named(bd, "streaming.merge_batch", field="incl_jobs"),
                "streaming.rows_written_per_changed_row": written / max(1, changed),
                "streaming.state_bytes_per_live_row": live_bytes / len(model.rows),
                "streaming.state_files": live_files,
            })
        os.remove(path)
        k += 1
    rows = read_state(run.spark, state).select(
        "shop_type", "unified_id", "current_price", gen.ORDER_COL).collect()
    errs = checks.final_state([tuple(r) for r in rows], model)
    if errs:
        run.errors += errs
        if run.failed < run.attempted:
            run.failed += 1
    lat = statistics.median(run.latencies)
    total = sum(run.latencies)
    run.info = {"merge_batch_p50_s": lat, "merged_rows_per_s": rows_total / total}
    return {"items_per_s": rows_total / total, "op_p50_s": lat}


WORKLOADS = {
    "full_scrape": full_scrape,
    "daily_merge": daily_merge,
}
