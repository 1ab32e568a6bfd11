"""Incremental / streaming semantics (SURVEY §2.13) on Structured
Streaming.

The reference is micro-batch incremental: scrapers land JSON under a
job id, the processor consumes bounded slices, upserts latest state
per (shop_type, external_id, schema_version), skips unchanged
payloads via content hash, and emits progress events
(ref: api/services/job-manager.ts:148-416 job loop;
postgres-adapter.ts:172-251 staging upsert, :637-788 processed
upsert; 01-init.sql:17,26 content_hash; job progress events
job-manager.ts:278-348).

Spark mapping:
- landing zone → ``spark.readStream`` file source (Auto-Loader-style
  incremental listing; ``maxFilesPerTrigger`` bounds a micro-batch
  like the reference's LIMIT 10000 job slices),
- upsert state → ``foreachBatch`` + MERGE. With Delta unavailable in
  this container, ``merge_batch`` is a parquet-backed read-union-
  dedupe-rewrite partitioned by ``shop_type``; on a real cluster swap
  its body for ``DeltaTable.merge`` and the call sites don't change.
  Partition pruning on shop_type bounds the rewrite to the shops a
  batch touches (SURVEY §7.7 risk 5). Key bucketing is NOT
  implemented: each touched shop partition is rewritten whole (see
  ROADMAP.md, "One merge core that rewrites only what changed").
- change detection → xxhash64 content hash compared against current
  state (ST4) — unchanged rows never rewrite state,
- watermark + tumbling windows over late events (ST6) for the
  price-history rollup capability.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import content_hash


def read_landing_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1/ST1: incremental scan of a landing directory."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def with_content_hash(df: DataFrame, *cols: str) -> DataFrame:
    """ST4/D7: deterministic change-detection hash over payload cols."""
    return df.withColumn("content_hash", content_hash(*[F.col(c) for c in cols]))


# ------------------------------------------------------------------ #
# Versioned parquet state store with an atomic manifest commit.
#
# Layout:  <state_dir>/_CURRENT            JSON manifest (the pointer)
#          <state_dir>/v<N>/...            immutable version dirs
#
# The manifest maps each shop_type partition (or "" for unpartitioned
# states) to the version dir holding its live data, and holds the
# schema of the store's data files ("schema", StructType JSON, without
# the partition column). Readers resolve the schema from the manifest
# instead of inferring it from the files, the way Delta Lake and
# Iceberg keep it in their commit logs: inference costs one Spark job
# per partition path on every read, and partitions written in
# different versions could disagree on their columns. The schema only
# grows: a merge reads the state with the full schema, unions the batch
# by name, and commits the union's schema, so partitions written
# before a column existed read it as null. A column's type may not
# change: the untouched partitions' files would not hold the new type,
# so a batch that retypes one is refused before anything is written.
# A merge writes a brand-new version dir, then commits by
# fsync+os.replace() of the manifest — POSIX-atomic, so a crash at ANY
# point leaves readers on the previous complete state (the reference's
# transactional INSERT..ON CONFLICT guarantee,
# postgres-adapter.ts:637-788). Partial version dirs from a crashed
# run are overwritten by the next merge (same version number,
# mode=overwrite) and never referenced. Single-writer per state_dir,
# like the job loop it models.
# ------------------------------------------------------------------ #

_MANIFEST = "_CURRENT"


def _read_manifest(state_dir: str) -> dict | None:
    path = os.path.join(state_dir, _MANIFEST)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def atomic_write(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: write-fsync a temp file
    beside it, then os.replace() it onto ``path``. Readers see the old
    content or the new one, never a torn write. The tmp name is
    per-writer-unique (pid+uuid): a FIXED tmp name lets two concurrent
    committers interleave on the same tmp file — one renames the
    other's tmp away and the surviving file can carry the wrong
    writer's bytes (tests/test_export.py's two-process race). The
    state store's ``_CURRENT`` and the export sink's pointers both
    commit through here."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # only on a failed replace
            try:
                os.unlink(tmp)
            except OSError:
                pass


def _gc_versions(state_dir: str, manifest: dict) -> None:
    """Best-effort removal of version dirs no longer referenced by the
    committed manifest (superseded states + crashed-run residue).

    The immediately-superseded version is RETAINED one extra cycle: a
    reader that resolved the old manifest just before this commit may
    still be scanning its files (single-writer ≠ zero-reader); it is
    collected by the next merge's GC, by which point any such scan
    has long finished — the export sink's keep_versions=2 contract."""
    live = set(manifest["partitions"].values())
    grace = {f"v{manifest['version'] - 1}"}
    for name in os.listdir(state_dir):
        if name.startswith("v") and name not in live and name not in grace:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Read the committed state (None if nothing committed yet).

    Partitioned states are stitched from the per-partition version
    pointers; each partition path is read directly (5 shops — the
    stitch is a trivial union) with the partition column restored.
    Every path is read through one reader carrying the manifest's
    schema, so the read launches no Spark job.

    A dir holding data files but no manifest was not written by this
    store: ValueError, rather than reading files no manifest vouches
    for or reporting the store empty (the next commit would then
    orphan those rows). Bare ``v<N>`` dirs without a manifest are a
    crashed first merge and read as empty. A manifest without a
    schema was not written by this store either: ValueError."""
    m = _read_manifest(state_dir)
    if m is None:
        names = os.listdir(state_dir) if os.path.isdir(state_dir) else []
        stray = [
            n for n in names
            if not n.startswith(("_", ".")) and not (n[:1] == "v" and n[1:].isdigit())
        ]
        if stray:
            raise ValueError(
                f"state dir {state_dir!r} holds {sorted(stray)} but no "
                f"{_MANIFEST} manifest; it is not a versioned state store"
            )
        return None
    if "schema" not in m:
        raise ValueError(
            f"state dir {state_dir!r} has a {_MANIFEST} manifest without "
            "a schema; it was not written by this store"
        )
    parts = m["partitions"]
    reader = spark.read.schema(T.StructType.fromJson(m["schema"]))
    if set(parts) == {""}:
        return reader.parquet(os.path.join(state_dir, parts[""]))
    out = None
    for shop, ver in sorted(parts.items()):
        p = os.path.join(state_dir, ver, f"shop_type={shop}")
        df = reader.parquet(p).withColumn("shop_type", F.lit(shop))
        out = df if out is None else out.unionByName(df)
    return out


def skip_unchanged(batch: DataFrame, state_dir: str, keys: list[str]) -> DataFrame:
    """ST4: drop batch rows whose content_hash equals current state.

    Left-anti join on (keys, content_hash) — an unchanged payload
    never touches the sink, mirroring the reference's hash check
    before upsert.
    """
    spark = batch.sparkSession
    state = read_state(spark, state_dir)
    if state is None:
        return batch
    state = state.select(*keys, "content_hash")
    return batch.join(state, on=[*keys, "content_hash"], how="left_anti")


def merge_batch(
    batch: DataFrame,
    state_dir: str,
    keys: list[str],
    order_col: str,
) -> None:
    """Public batch-incremental MERGE: fold one micro-batch into the
    versioned parquet state store (latest row per key wins by
    ``order_col``; ties → the incoming batch). This IS
    :func:`upsert_stream`'s foreachBatch core — exposed directly for
    callers that drive the batch loop themselves, the reference's
    sequential job-loop shape (`postgres-adapter.ts:637-788`'s MERGE
    without the stream wrapper). Determinism contract for oracle-gated
    use: at most ONE row per key per batch (the tie order among
    same-key same-``order_col`` rows WITHIN a batch is unspecified,
    exactly like SQL MERGE's multiple-matched-rows error case).

    Crash-safe versioned commit (see the module-section comment
    above). Only partitions (shop_type values) present in the batch
    are rewritten — the pruning a Delta MERGE would get from
    partition filters; untouched partitions keep their old version
    pointers, so the manifest swap is the ONLY globally visible step.
    The same manifest write records the store's schema: the state's
    columns plus any the batch adds, so the schema only grows.
    A null or empty shop_type has no partition path the manifest
    could name, and a column whose type differs from the store's has
    no type the untouched partitions' files hold: such a batch raises
    ValueError before anything is written."""
    spark = batch.sparkSession
    os.makedirs(state_dir, exist_ok=True)
    manifest = _read_manifest(state_dir)
    version = (manifest["version"] + 1) if manifest else 1
    vdir = f"v{version}"

    partitioned = "shop_type" in keys
    shops = (
        [r[0] for r in batch.select("shop_type").distinct().collect()]
        if partitioned
        else []
    )
    if any(s in (None, "") for s in shops):
        raise ValueError(
            f"batch for {state_dir!r} has a null or empty shop_type"
        )

    batch = batch.withColumn("_src", F.lit(1))
    state = read_state(spark, state_dir)
    if state is not None:
        # the state's schema comes from the manifest: no Spark job
        held = {f.name: f.dataType.simpleString() for f in state.schema}
        for f in batch.schema:
            if f.name in held and f.dataType.simpleString() != held[f.name]:
                raise ValueError(
                    f"batch for {state_dir!r} has column {f.name!r} as "
                    f"{f.dataType.simpleString()}; the store holds {held[f.name]}"
                )
        state = state.withColumn("_src", F.lit(0))
        if partitioned:
            state = state.filter(F.col("shop_type").isin(shops))
        merged = state.unionByName(batch, allowMissingColumns=True)
    else:
        merged = batch
    w = (
        "row_number() OVER (PARTITION BY "
        + ", ".join(keys)
        + f" ORDER BY {order_col} DESC, _src DESC)"
    )
    latest = (
        merged.withColumn("_rn", F.expr(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    writer = latest.write.mode("overwrite")
    if partitioned:
        writer = writer.partitionBy("shop_type")
    writer.parquet(os.path.join(state_dir, vdir))

    old_parts = manifest["partitions"] if manifest else {}
    new_parts = (
        {**old_parts, **{s: vdir for s in shops}} if partitioned else {"": vdir}
    )
    # the data files' schema as a reader sees it: no partition column,
    # every top-level field nullable
    schema = T.StructType([
        T.StructField(f.name, f.dataType, True, f.metadata)
        for f in latest.schema if not (partitioned and f.name == "shop_type")
    ])
    new_manifest = {
        "version": version,
        "partitions": new_parts,
        "schema": schema.jsonValue(),
    }
    atomic_write(os.path.join(state_dir, _MANIFEST), json.dumps(new_manifest))
    _gc_versions(state_dir, new_manifest)


def upsert_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str = "scraped_at",
    hash_cols: list[str] | None = None,
    skip_unchanged_batches: bool = False,
):
    """K2/K3/ST3: foreachBatch latest-wins MERGE of a landing stream
    into the state store, with content hashing for ST4 semantics.

    Every non-empty batch merges IN FULL by default: content-unchanged
    rows must still advance ``order_col`` in state, or a later
    out-of-order row with an older order but different content beats
    the stale stored order and overwrites newer state (review round-6
    finding — the old behavior dropped unchanged rows before the
    merge). ``skip_unchanged_batches=True`` restores the
    reference-parity no-op optimization (a batch where NOTHING
    changed skips the version write entirely); safe only when batches
    arrive in order per key, e.g. the reference's sequential job
    loop, because a wholly-unchanged batch then leaves the stored
    order stale.

    Returns the started StreamingQuery (availableNow trigger: drain
    everything currently in the landing zone, then stop — the batch-
    incremental shape the reference's job loop has)."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if hash_cols:
            batch = with_content_hash(batch, *hash_cols)
            if (
                skip_unchanged_batches
                and skip_unchanged(batch, state_dir, keys).isEmpty()
            ):
                return
        if batch.isEmpty():
            return
        merge_batch(batch, state_dir, keys, order_col)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with the
    right-side events of the same key that follow it within
    ``within`` (e.g. scrape → purchase attribution, price-change →
    promotion-start correlation).

    Scale mechanics: both sides are watermarked and the join
    condition carries an explicit event-time RANGE, so Spark plans a
    StreamingSymmetricHashJoin whose per-key buffered state is
    bounded — rows older than (watermark + within) are provably
    unmatchable and evicted. Without the time bound the state grows
    forever; that variant is rejected by Spark for good reason.

    Works identically on batch frames (plain interval equi-join) —
    the test asserts streaming output == batch output.
    """
    lt = left.withColumn(
        "_lt", F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
    ).select(
        F.col(key).alias("_lk"),
        "_lt",
        F.col("event_id").alias("left_event_id"),
    )
    rt = right.withColumn(
        "_rt", F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
    ).select(
        F.col(key).alias("_rk"),
        "_rt",
        F.col("event_id").alias("right_event_id"),
    )
    if lt.isStreaming:
        lt = lt.withWatermark("_lt", watermark)
    if rt.isStreaming:
        rt = rt.withWatermark("_rt", watermark)
    joined = lt.join(
        rt,
        (F.col("_lk") == F.col("_rk"))
        & (F.col("_rt") > F.col("_lt"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        F.col("_lk").alias(key),
        "left_event_id",
        "right_event_id",
        F.unix_micros(F.col("_lt")).alias("left_ts_us"),
        F.unix_micros(F.col("_rt")).alias("right_ts_us"),
    )


def idempotent_foreach_batch(handle, ledger_dir: str):
    """Wrap a foreachBatch handler with a processed-batch ledger so
    side effects are EXACTLY-ONCE under retries.

    Structured Streaming guarantees foreachBatch is called
    at-least-once per (checkpoint, batchId): after a crash between
    the sink write and the checkpoint commit, the SAME batchId is
    re-delivered. Any non-transactional sink (parquet merge, JDBC
    staging load, the aggstate rollup fold — anything that is not
    idempotent by key) must therefore dedup on batchId. The ledger
    is a marker file per batchId written AFTER the handler succeeds
    (the write is atomic-enough: a torn run re-executes the handler,
    which is the at-least-once contract we started with — never
    less).

    Scale note: the ledger is one tiny file per micro-batch in one
    directory — list cost is bounded by retention; prune old markers
    with the checkpoint. Delta/Iceberg users get this from
    txnAppId/txnVersion instead; call sites unchanged.
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def wrapped(batch: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{epoch_id}.done")
        if os.path.exists(marker):
            return  # replayed batch — side effect already applied
        handle(batch, epoch_id)
        with open(marker, "w") as f:
            f.write("")

    return wrapped


def session_window_stats(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-merged session aggregation via Spark's native
    ``session_window`` — the streaming twin of
    `operators/sessions.py::session_stats` (whose batch window-sum
    formulation this is unit-checked against).

    On a stream, session state lives in the state store and a session
    CLOSES (emits, evicts) once the watermark passes its end — true
    incremental sessionization, no reprocessing of prior batches. On
    a batch frame the same expression computes all sessions in one
    pass. Boundary semantics: a new event at exactly ``gap`` after
    the previous one starts a NEW session (window end is exclusive).

    The events table stores epoch-nanos; converted to µs-precision
    timestamps here (same convention as windowed_event_counts).
    """
    with_ts = events.withColumn(
        "_event_time", F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
    )
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("_event_time", watermark)
    return (
        with_ts.groupBy(
            F.session_window("_event_time", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "user_id",
            "n_events",
            "sum_value_cents",
        )
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
) -> DataFrame:
    """ST6: watermarked tumbling-window counts per event type.

    Works on a stream (late rows beyond the watermark are dropped and
    state is evicted) and on a batch frame (same expression). The
    events table stores epoch-nanos; convert to timestamp first.
    """
    with_ts = events.withColumn(
        "_event_time", F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
    )
    if with_ts.isStreaming:
        with_ts = with_ts.withWatermark("_event_time", watermark)
    return (
        with_ts.groupBy(
            F.window("_event_time", window_len).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum — order-independent across micro-batches
            # and partial aggregates (see functions/exact.py).
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value_cents",
        )
    )
