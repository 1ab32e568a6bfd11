"""Structured Streaming incremental semantics: landing-zone drain,
latest-wins upsert, change-detection skip, watermark windows."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omfietser_etl_spark.streaming.incremental import (
    merge_batch,
    read_landing_stream,
    read_state,
    session_window_stats,
    upsert_stream,
    windowed_event_counts,
    with_content_hash,
)

LANDING_SCHEMA = T.StructType(
    [
        T.StructField("shop_type", T.StringType()),
        T.StructField("external_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("current_price", T.DoubleType()),
        T.StructField("scraped_at", T.LongType()),
    ]
)


def _land(path: str, name: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_drain(spark, landing, state, ckpt, **kw):
    stream = read_landing_stream(spark, landing, LANDING_SCHEMA)
    q = upsert_stream(
        stream,
        state,
        ckpt,
        keys=["shop_type", "external_id"],
        order_col="scraped_at",
        hash_cols=["title", "current_price"],
        **kw,
    )
    q.awaitTermination(120)


def test_upsert_stream_latest_wins_and_skips_unchanged(spark, tmp_path):
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _land(landing, "batch1.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 2.0, "scraped_at": 100},
        {"shop_type": "AH", "external_id": "2", "title": "Sap",
         "current_price": 3.0, "scraped_at": 100},
        {"shop_type": "JUMBO", "external_id": "1", "title": "Thee",
         "current_price": 4.0, "scraped_at": 100},
    ])
    _run_drain(spark, landing, state, ckpt)

    got = {
        (r.shop_type, r.external_id): (r.title, r.current_price, r.scraped_at)
        for r in read_state(spark, state).collect()
    }
    assert got == {
        ("AH", "1"): ("Cola", 2.0, 100),
        ("AH", "2"): ("Sap", 3.0, 100),
        ("JUMBO", "1"): ("Thee", 4.0, 100),
    }

    # batch 2: price change for AH/1, unchanged AH/2 (content kept but
    # scraped_at ADVANCES to 200 — late-arrival protection: a stale
    # stored order would let an older out-of-order row with different
    # content overwrite newer state), new PLUS/9
    _land(landing, "batch2.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 1.5, "scraped_at": 200},
        {"shop_type": "AH", "external_id": "2", "title": "Sap",
         "current_price": 3.0, "scraped_at": 200},
        {"shop_type": "PLUS", "external_id": "9", "title": "Koek",
         "current_price": 1.0, "scraped_at": 200},
    ])
    _run_drain(spark, landing, state, ckpt)

    got = {
        (r.shop_type, r.external_id): (r.title, r.current_price, r.scraped_at)
        for r in read_state(spark, state).collect()
    }
    assert got == {
        ("AH", "1"): ("Cola", 1.5, 200),
        ("AH", "2"): ("Sap", 3.0, 200),  # unchanged content, order advanced
        ("JUMBO", "1"): ("Thee", 4.0, 100),
        ("PLUS", "9"): ("Koek", 1.0, 200),
    }

    # Partition pruning held through the versioned commit: JUMBO was
    # absent from batch 2, so its pointer still names the v1 dir.
    import json

    with open(os.path.join(state, "_CURRENT")) as f:
        manifest = json.load(f)
    assert manifest["partitions"]["JUMBO"] == "v1"
    assert manifest["partitions"]["AH"] == "v2"


def test_merge_crash_before_commit_preserves_state(spark, tmp_path):
    """Kill-mid-merge: a merge that dies AFTER writing the new version
    dir but BEFORE the manifest swap must leave readers on the old
    complete state, and the next merge must succeed and converge."""
    state = str(tmp_path / "state")
    keys = ["shop_type", "external_id"]

    b1 = spark.createDataFrame(
        [("AH", "1", "Cola", 2.0, 100)],
        "shop_type string, external_id string, title string, "
        "current_price double, scraped_at long",
    )
    merge_batch(b1, state, keys, "scraped_at")

    # Simulate the torn run: write the would-be v2 dir by hand (full
    # data present on disk!) without touching the manifest.
    b2 = spark.createDataFrame(
        [("AH", "1", "Cola", 9.9, 200)],
        "shop_type string, external_id string, title string, "
        "current_price double, scraped_at long",
    )
    b2.write.mode("overwrite").partitionBy("shop_type").parquet(
        os.path.join(state, "v2")
    )

    # Readers are untouched by the uncommitted dir.
    got = {(r.shop_type, r.external_id): r.current_price
           for r in read_state(spark, state).collect()}
    assert got == {("AH", "1"): 2.0}

    # The retried merge (at-least-once redelivery) reuses version 2,
    # overwrites the residue, and commits atomically.
    merge_batch(b2, state, keys, "scraped_at")
    got = {(r.shop_type, r.external_id): (r.current_price, r.scraped_at)
           for r in read_state(spark, state).collect()}
    assert got == {("AH", "1"): (9.9, 200)}


def test_merge_rejects_null_or_empty_shop_type(spark, tmp_path):
    """A null or empty shop_type has no partition path the manifest
    could point at (Spark writes such rows under
    __HIVE_DEFAULT_PARTITION__): the merge must refuse the batch before
    writing, leaving the committed state readable and unchanged."""
    state = str(tmp_path / "state")
    keys = ["shop_type", "external_id"]
    schema = "shop_type string, external_id string, current_price double, scraped_at long"
    merge_batch(spark.createDataFrame([("AH", "1", 2.0, 100)], schema),
                state, keys, "scraped_at")
    with open(os.path.join(state, "_CURRENT")) as f:
        before = json.load(f)

    for bad in (None, ""):
        batch = spark.createDataFrame([(bad, "2", 3.0, 200)], schema)
        with pytest.raises(ValueError, match="shop_type"):
            merge_batch(batch, state, keys, "scraped_at")

    with open(os.path.join(state, "_CURRENT")) as f:
        assert json.load(f) == before
    got = {(r.shop_type, r.external_id): r.current_price
           for r in read_state(spark, state).collect()}
    assert got == {("AH", "1"): 2.0}


def test_manifestless_state_dir_is_refused(spark, tmp_path):
    """Partitioned parquet under a state dir with no _CURRENT manifest
    was not written by the versioned store: reading it or merging into
    it raises ValueError naming the dir, and the files stay as they
    were (reading them, or treating the store as empty, would let the
    next commit orphan those rows)."""
    state = str(tmp_path / "state")
    df = spark.createDataFrame(
        [("AH", "1", 2.0, 100), ("JUMBO", "7", 4.0, 100)],
        "shop_type string, external_id string, current_price double, scraped_at long",
    )
    df.write.partitionBy("shop_type").parquet(state)

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(d, f), state),
             os.path.getsize(os.path.join(d, f)))
            for d, _, files in os.walk(state) for f in files
        )

    before = listing()
    with pytest.raises(ValueError, match=re.escape(state)):
        read_state(spark, state)
    batch = spark.createDataFrame(
        [("AH", "2", 3.0, 200)],
        "shop_type string, external_id string, current_price double, scraped_at long",
    )
    with pytest.raises(ValueError, match=re.escape(state)):
        merge_batch(batch, state, ["shop_type", "external_id"], "scraped_at")
    assert listing() == before


def test_content_hash_stable_and_sensitive(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0)], ["t", "p"]
    )
    h = with_content_hash(df, "t", "p").select("content_hash").collect()
    assert h[0].content_hash == h[1].content_hash
    assert h[0].content_hash != h[2].content_hash


def test_windowed_event_counts_streaming_matches_batch(spark, tmp_path, sf_dir):
    from omfietser_etl_spark.session import load

    events = load(spark, sf_dir, "events")
    batch_out = windowed_event_counts(events).orderBy("window_start", "event_type")
    expected = [tuple(r) for r in batch_out.collect()]
    assert len(expected) > 0

    # same computation over a stream of the same rows (one file drop)
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .orderBy("window_start", "event_type")
        .collect()
    ]
    # append mode only emits windows closed by the watermark; all rows
    # arrive in one batch so the final (max-ts) window stays open
    assert len(got) > 0
    assert set(got) <= set(expected)
    missing = set(expected) - set(got)
    if missing:
        max_start = max(w for w, *_ in expected)
        assert all(w == max_start for w, *_ in missing)


def test_idempotent_foreach_batch_suppresses_replay(spark, tmp_path):
    from omfietser_etl_spark.streaming.incremental import idempotent_foreach_batch

    applied = []

    def handle(batch, epoch_id):
        applied.append((epoch_id, batch.count()))

    wrapped = idempotent_foreach_batch(handle, str(tmp_path / "ledger"))
    b = spark.range(3)
    wrapped(b, 7)
    wrapped(b, 7)  # at-least-once re-delivery of the same batchId
    wrapped(b, 8)
    assert applied == [(7, 3), (8, 3)]


def test_session_window_matches_batch_sessionizer(spark, sf_dir):
    from pyspark.sql import Window

    from omfietser_etl_spark.operators.sessions import session_stats
    from omfietser_etl_spark.session import load

    gap_us = 3_600_000_000
    events = load(spark, sf_dir, "events")
    ev = events.withColumn("tus", F.expr("ts div 1000"))

    # precondition for exact equivalence: the two formulations differ
    # only at delta == gap (sessionize: same session; session_window:
    # new session) — assert the data has no such tie
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ties = (
        ev.withColumn("_delta", F.col("tus") - F.lag("tus").over(w))
        .filter(F.col("_delta") == gap_us)
        .count()
    )
    assert ties == 0

    ss = session_stats(ev, ts_col="tus", gap=gap_us)
    sw = session_window_stats(events, gap="1 hour")

    def per_user(df, n_col):
        out = {}
        for r in df.collect():
            out.setdefault(r.user_id, []).append((r[n_col], r.sum_value_cents))
        return {u: sorted(v) for u, v in out.items()}

    assert per_user(ss, "n_events") == per_user(sw, "n_events")


def test_session_window_streaming_smoke(spark, tmp_path, sf_dir):
    from omfietser_etl_spark.session import load

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "ev_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out_dir = str(tmp_path / "sw_out")
    q = (
        session_window_stats(stream, gap="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us, r.n_events, r.sum_value_cents)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.user_id, r.session_start_us, r.n_events, r.sum_value_cents)
        for r in session_window_stats(events, gap="1 hour").collect()
    }
    # append mode emits only watermark-closed sessions; all emitted
    # rows must match the batch computation exactly
    assert len(got) > 0
    assert got <= batch


def test_stream_stream_interval_join_matches_batch(spark, tmp_path, sf_dir):
    from omfietser_etl_spark.session import load
    from omfietser_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    events = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    batch = {
        tuple(r)
        for r in stream_stream_interval_join(clicks, purchases).collect()
    }
    assert len(batch) > 0

    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    s_clicks = stream.filter(F.col("event_type") == "click")
    s_purch = stream.filter(F.col("event_type") == "purchase")
    out_dir = str(tmp_path / "ssj_out")
    q = (
        stream_stream_interval_join(s_clicks, s_purch)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    # inner stream-stream join emits matches as both sides arrive —
    # with one availableNow pass the full batch result must appear
    assert got == batch


def test_late_older_changed_row_cannot_overwrite_newer_state(spark, tmp_path):
    """Out-of-order delivery: after a newer-but-unchanged observation
    advanced the stored order, a late older row with DIFFERENT content
    must lose the merge (review round-6 finding: the old skip kept the
    stale order, letting the late row win)."""
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _land(landing, "b1.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 2.0, "scraped_at": 100},
    ])
    _run_drain(spark, landing, state, ckpt)
    # newer, content-unchanged → order must advance to 500
    _land(landing, "b2.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 2.0, "scraped_at": 500},
    ])
    _run_drain(spark, landing, state, ckpt)
    # late re-delivery: older order, different content → must lose
    _land(landing, "b3.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 9.9, "scraped_at": 300},
    ])
    _run_drain(spark, landing, state, ckpt)
    row = read_state(spark, state).collect()[0]
    assert (row.current_price, row.scraped_at) == (2.0, 500)


def test_fully_unchanged_batch_skips_version_bump(spark, tmp_path):
    """The opt-in ST4 no-op save: with skip_unchanged_batches=True a
    batch where NOTHING changed must not write a new state version
    (the default is the always-merge late-arrival-safe mode)."""
    import json as _json

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _land(landing, "b1.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 2.0, "scraped_at": 100},
    ])
    _run_drain(spark, landing, state, ckpt)
    with open(os.path.join(state, "_CURRENT")) as f:
        v1 = _json.load(f)["version"]
    _land(landing, "b2.json", [
        {"shop_type": "AH", "external_id": "1", "title": "Cola",
         "current_price": 2.0, "scraped_at": 100},
    ])
    _run_drain(spark, landing, state, ckpt, skip_unchanged_batches=True)
    with open(os.path.join(state, "_CURRENT")) as f:
        assert _json.load(f)["version"] == v1


def test_gc_retains_superseded_version_one_cycle(spark, tmp_path):
    """Reader grace: the immediately-superseded version dir survives
    one merge cycle (a reader that resolved the old manifest may
    still be scanning it) and is collected by the following merge."""
    state = str(tmp_path / "state")
    schema = "shop_type string, external_id string, current_price double, scraped_at long"
    for i, price in enumerate([1.0, 2.0, 3.0], start=1):
        batch = spark.createDataFrame([("AH", "1", price, i * 100)], schema)
        merge_batch(batch, state, ["shop_type", "external_id"], "scraped_at")
        dirs = {d for d in os.listdir(state) if d.startswith("v")}
        if i == 2:
            assert dirs == {"v1", "v2"}  # v1 in grace
    assert {d for d in os.listdir(state) if d.startswith("v")} == {"v2", "v3"}


def test_read_state_launches_no_spark_job(spark, tmp_path):
    """The manifest carries the store's schema, so reading a committed
    state only lists files: no schema-inference job per partition
    path, for a partitioned store and for an unpartitioned one."""
    parted = str(tmp_path / "parted")
    merge_batch(
        spark.createDataFrame(
            [("AH", "1", 2.0, 100), ("JUMBO", "7", 4.0, 100)],
            "shop_type string, external_id string, current_price double, scraped_at long",
        ),
        parted, ["shop_type", "external_id"], "scraped_at",
    )
    flat = str(tmp_path / "flat")
    merge_batch(
        spark.createDataFrame([(1, "a", "2024-01-01")], "key long, v string, ord string"),
        flat, ["key"], "ord",
    )
    tracker = spark.sparkContext.statusTracker()
    for state, n in ((parted, 2), (flat, 1)):
        before = set(tracker.getJobIdsForGroup())
        df = read_state(spark, state)
        assert set(tracker.getJobIdsForGroup()) == before, "read_state started a job"
        assert df.count() == n


def test_merge_grows_schema_across_shops(spark, tmp_path):
    """A batch that adds a column widens the store's schema; partitions
    written before it read the new column as null, and the store stays
    readable and mergeable (an inferred per-partition read would fail
    to union AH's 4 columns with JUMBO's 5)."""
    state = str(tmp_path / "state")
    keys = ["shop_type", "external_id"]
    base = "shop_type string, external_id string, current_price double, scraped_at long"
    merge_batch(spark.createDataFrame([("AH", "1", 2.0, 100)], base),
                state, keys, "scraped_at")
    merge_batch(
        spark.createDataFrame([("JUMBO", "7", 4.0, 100, "Jumbo")], base + ", brand string"),
        state, keys, "scraped_at",
    )

    def rows():
        return {(r.shop_type, r.external_id): (r.current_price, r.brand)
                for r in read_state(spark, state).collect()}

    assert rows() == {("AH", "1"): (2.0, None), ("JUMBO", "7"): (4.0, "Jumbo")}
    merge_batch(spark.createDataFrame([("AH", "2", 3.0, 200)], base),
                state, keys, "scraped_at")
    assert rows() == {
        ("AH", "1"): (2.0, None),
        ("AH", "2"): (3.0, None),
        ("JUMBO", "7"): (4.0, "Jumbo"),
    }


def test_non_nullable_batch_reads_back_equal(spark, tmp_path):
    """A batch whose fields are declared non-nullable reads back equal:
    the manifest records the schema as Spark wrote the files, every
    top-level field nullable."""
    state = str(tmp_path / "state")
    schema = T.StructType([
        T.StructField("shop_type", T.StringType(), False),
        T.StructField("external_id", T.StringType(), False),
        T.StructField("current_price", T.DoubleType(), False),
        T.StructField("scraped_at", T.LongType(), False),
    ])
    rows = [("AH", "1", 2.0, 100), ("JUMBO", "7", 4.0, 100)]
    merge_batch(spark.createDataFrame(rows, schema), state,
                ["shop_type", "external_id"], "scraped_at")
    with open(os.path.join(state, "_CURRENT")) as f:
        assert all(fld["nullable"] for fld in json.load(f)["schema"]["fields"])
    got = {(r.shop_type, r.external_id, r.current_price, r.scraped_at)
           for r in read_state(spark, state).collect()}
    assert got == set(rows)


def test_merge_rejects_a_retyped_column(spark, tmp_path):
    """A column's type may not change: JUMBO's batch brings scraped_at
    as a string after AH committed it as a long. AH's untouched files
    hold a long, so the merge must refuse the batch before writing,
    naming the dir and the column, and the store stays readable."""
    state = str(tmp_path / "state")
    keys = ["shop_type", "external_id"]
    merge_batch(
        spark.createDataFrame([("AH", "1", 2.0, 100)],
                              "shop_type string, external_id string, "
                              "current_price double, scraped_at long"),
        state, keys, "scraped_at",
    )
    with open(os.path.join(state, "_CURRENT")) as f:
        before = json.load(f)

    batch = spark.createDataFrame(
        [("JUMBO", "7", 4.0, "2024-01-01")],
        "shop_type string, external_id string, current_price double, scraped_at string",
    )
    with pytest.raises(ValueError, match=rf"{re.escape(state)}.*'scraped_at'"):
        merge_batch(batch, state, keys, "scraped_at")

    with open(os.path.join(state, "_CURRENT")) as f:
        assert json.load(f) == before
    got = {(r.shop_type, r.external_id): r.scraped_at
           for r in read_state(spark, state).collect()}
    assert got == {("AH", "1"): 100}


def test_ev4_anomaly_flags_exact_predicate(spark):
    """Engineered outlier: 9 days at n=10 plus one spike day n=100.
    μ=19, var=729 ⇒ |z|=81/27=3 exactly — NOT > 3 (strict), flagged
    at t=2; the flat days sit at |z|=1/3, never flagged. A constant
    series (rhs=0) flags nothing at any t. All decided in exact
    integer cross-multiplication — no sqrt anywhere."""
    from omfietser_etl_spark.catalog.streaming import anomaly_flags

    rows = [(d, "a", 10) for d in range(9)] + [(9, "a", 100)]
    rows += [(d, "b", 7) for d in range(10)]
    daily = spark.createDataFrame(rows, "day long, event_type string, n long")

    out = {(r.event_type, r.day): r.is_outlier
           for r in anomaly_flags(daily, 2).collect()}
    assert out[("a", 9)] is True
    assert all(not v for k, v in out.items() if k != ("a", 9))

    out3 = {(r.event_type, r.day): r.is_outlier
            for r in anomaly_flags(daily, 3).collect()}
    assert out3[("a", 9)] is False  # z == 3 exactly: strict inequality


def test_ev5_cusum_closed_form_equals_recursion(spark):
    """The window closed form S⁺=C−min(0,min C), S⁻=max(0,max C)−C
    must equal the textbook recursion S_t = max(0, S_{t-1} ± y_t)
    computed in plain Python over an engineered level-shift series
    (flat 10s, then a +5 shift — the slow drift ev4's pointwise test
    is blind to)."""
    from omfietser_etl_spark.catalog.streaming import cusum_flags

    ns = [10] * 8 + [15] * 8
    rows = [(d, "a", n) for d, n in enumerate(ns)]
    daily = spark.createDataFrame(rows, "day long, event_type string, n long")

    n_days, s = len(ns), sum(ns)
    sp = sn = 0
    expect = {}
    for d, n in enumerate(ns):
        y = n * n_days - s
        sp = max(0, sp + y)
        sn = max(0, sn - y)
        expect[d] = (sp, sn)

    # threshold = s exactly (num=den=1): the one-day deviation |y|=40
    # stays under 200, the accumulated drift (320 by each tail) crosses
    got = {r.day: (r.s_pos, r.s_neg, r.is_change)
           for r in cusum_flags(daily, 1, 1).collect()}
    assert {d: (p, q) for d, (p, q, _) in got.items()} == expect
    # the drift accumulates: late days flag, the first day does not
    assert got[15][2] is True and got[0][2] is False
