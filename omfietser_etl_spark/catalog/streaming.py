"""Incremental / time-series operator queries (SURVEY §2.13, J7, U4).

Batch-expressible views of the streaming semantics; the true
Structured Streaming paths (watermark + window, foreachBatch merge)
are exercised in tests/test_streaming.py — same transformations, so
the oracle here covers their logic.

The events.ts column is read as epoch-nanos LongType (see
session.load); the DuckDB oracle uses epoch_ns(ts) for identical
integer arithmetic — no float or timestamp-precision hazards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load
from . import QuerySpec


def j7_asof_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """As-of / previous-observation join via lag() — price-history
    delta semantics (ref: products.price_history + first_seen,
    init-processor-schema.sql:36-38)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            # scale-0 round of a deterministic double is cross-engine
            # safe; round(·, 2) is not (see functions/exact.py).
            F.round((F.col("value") - F.col("prev_value")) * 100, 0)
            .cast("long")
            .alias("delta_cents"),
        )
    )


J7_ORACLE = """
SELECT event_id, user_id, event_type,
       CAST(round((value - prev_value) * 100, 0) AS BIGINT) AS delta_cents
FROM (
  SELECT *, lag(value) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_value
  FROM events
) WHERE prev_value IS NOT NULL
"""


def st4_changed_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Change detection: keep only rows whose value changed vs the
    previous observation of the same key (ref: content_hash skip,
    01-init.sql:17,26; transform-products-for-db.js:29-41)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_props", F.lag("props").over(w))
        .filter(F.col("prev_props").isNotNull() & (F.col("props") != F.col("prev_props")))
        .select("event_id", "user_id", "event_type")
    )


ST4_ORACLE = """
SELECT event_id, user_id, event_type
FROM (
  SELECT *, lag(props) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_props
  FROM events
) WHERE prev_props IS NOT NULL AND props <> prev_props
"""


def st6_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window rollup on event time (ref: ST6 — capability the
    reference lacks; streaming variant
    `streaming/incremental.py::windowed_event_counts` uses
    window()+watermark with identical bucketing)."""
    ev = load(spark, sf, "events")
    hour_bucket = F.expr("ts div 3600000000000").alias("hour_bucket")
    return (
        ev.groupBy(hour_bucket, "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_value_cents"),
        )
    )


ST6_ORACLE = """
SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
       count(*) AS cnt,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def u4_new_keys_between_halves(spark: SparkSession, sf: str) -> DataFrame:
    """New vs disappeared keys between two consecutive scrape batches
    (ref: is_new, init-processor-schema.sql:37-39). Batches modeled as
    the two halves of the event time range."""
    ev = load(spark, sf, "events")
    mid = ev.agg(F.expr("(min(ts) div 2) + (max(ts) div 2)").alias("mid"))
    with_half = ev.crossJoin(F.broadcast(mid)).withColumn(
        "half", F.when(F.col("ts") < F.col("mid"), 1).otherwise(2)
    )
    keys = with_half.select("half", "user_id", "event_type").distinct()
    h1 = keys.filter(F.col("half") == 1).drop("half")
    h2 = keys.filter(F.col("half") == 2).drop("half")
    new_keys = h2.join(h1, ["user_id", "event_type"], "left_anti").withColumn(
        "status", F.lit("new")
    )
    gone_keys = h1.join(h2, ["user_id", "event_type"], "left_anti").withColumn(
        "status", F.lit("disappeared")
    )
    return new_keys.unionByName(gone_keys)


U4H_ORACLE = """
WITH bounds AS (
  SELECT (min(epoch_ns(ts)) // 2) + (max(epoch_ns(ts)) // 2) AS mid FROM events
),
keys AS (
  SELECT DISTINCT CASE WHEN epoch_ns(ts) < (SELECT mid FROM bounds) THEN 1 ELSE 2 END AS half,
         user_id, event_type
  FROM events
),
h1 AS (SELECT user_id, event_type FROM keys WHERE half = 1),
h2 AS (SELECT user_id, event_type FROM keys WHERE half = 2)
SELECT user_id, event_type, 'new' AS status FROM h2
WHERE NOT EXISTS (SELECT 1 FROM h1
                  WHERE h1.user_id = h2.user_id AND h1.event_type = h2.event_type)
UNION ALL
SELECT user_id, event_type, 'disappeared' AS status FROM h1
WHERE NOT EXISTS (SELECT 1 FROM h2
                  WHERE h2.user_id = h1.user_id AND h2.event_type = h1.event_type)
"""


def a10_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Structure-drift report: per-field presence counts across
    semi-structured payloads (ref: structure-validator.ts:128-150).
    Fields pulled from the JSON props column, then unpivoted."""
    ev = load(spark, sf, "events")
    parsed = ev.select(
        F.get_json_object("props", "$.k").alias("k"),
        F.get_json_object("props", "$.missing_field").alias("missing_field"),
    )
    return (
        parsed.select(
            F.expr(
                "stack(2, 'k', k IS NOT NULL, 'missing_field', missing_field IS NOT NULL) "
                "AS (field, present)"
            )
        )
        .groupBy("field")
        .agg(
            F.sum(F.when(F.col("present"), 1).otherwise(0)).alias("present_cnt"),
            F.sum(F.when(~F.col("present"), 1).otherwise(0)).alias("missing_cnt"),
        )
    )


A10_ORACLE = """
WITH parsed AS (
  SELECT json_extract_string(props, '$.k') AS k,
         json_extract_string(props, '$.missing_field') AS missing_field
  FROM events
), unpivoted AS (
  SELECT 'k' AS field, k IS NOT NULL AS present FROM parsed
  UNION ALL
  SELECT 'missing_field' AS field, missing_field IS NOT NULL AS present FROM parsed
)
SELECT field,
       CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS present_cnt,
       CAST(sum(CASE WHEN NOT present THEN 1 ELSE 0 END) AS BIGINT) AS missing_cnt
FROM unpivoted GROUP BY field
"""


def st7_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (operators/sessions.py): sessions per
    user with a 1-hour inactivity gap, one row per session. The
    boundary-flag + running-sum + aggregate all share one hash
    partitioning on user_id — a single shuffle end to end. Streaming
    twin: session state via applyInPandasWithState
    (streaming/stateful.py).

    Event time is truncated to epoch-µs first: Spark reads the
    parquet timestamps as raw nanos while DuckDB's TIMESTAMP carries
    µs — raw-ts outputs must agree on the coarser unit (same hazard
    class as the double-sum rounding ties; see catalog docstring)."""
    from omfietser_etl_spark.operators.sessions import session_stats

    ev = load(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    return session_stats(ev, ts_col="tus")


ST7_ORACLE = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
b AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL THEN 1
                 WHEN tus - lag(tus) OVER w > 3600000000 THEN 1
                 ELSE 0 END AS nb
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (
  SELECT *, CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY tus, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM b)
SELECT user_id, session_idx, count(*) AS n_events,
       CAST(min(tus) AS BIGINT) AS start_ts,
       CAST(max(tus) AS BIGINT) AS end_ts,
       CAST(max(tus) - min(tus) AS BIGINT) AS duration,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM s GROUP BY 1, 2
"""


def s10_variant_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured scan via VariantType (Spark 4): `parse_json`
    decodes the payload ONCE into a binary-encoded variant, and every
    `variant_get` after that is cheap path navigation — the upgrade
    over per-path `get_json_object` re-parsing (cf. a10, and the
    json_tuple one-parse fix in pipelines/generic.py). At rest,
    parquet can SHRED variant columns so common paths read columnar
    with stats. Ref scan: raw.products.raw_data JSONB payloads
    (postgres-adapter.ts:431-500 filters on extracted fields)."""
    ev = load(spark, sf, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_k"),
            F.max("k").alias("max_k"),
        )
    )


S10_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def h1_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 interval history (operators/history.py): collapse each
    customer's order-status log into type-2 validity runs. The
    reference's upsert keeps only the latest state
    (postgres-adapter.ts:637-788, first_seen/last_updated at
    init-processor-schema.sql:36-38); this reconstructs the full
    history — one shuffle on the key, all three windows share it."""
    from omfietser_etl_spark.operators.history import scd2_intervals

    o = load(spark, sf, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    runs = scd2_intervals(
        o, "o_custkey", "o_orderdate", ["o_orderstatus"], order_col="o_orderkey"
    )
    return runs.select(
        "o_custkey",
        "o_orderstatus",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("is_current").cast("int").alias("is_current"),
    )


H1_ORACLE = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n_key,
         (lag(o_orderdate) OVER w IS NULL
          OR o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w) AS b
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
starts AS (SELECT * FROM ordered WHERE b)
SELECT o_custkey, o_orderstatus,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(lead(o_orderdate) OVER ws, '%Y-%m-%d') AS valid_to,
       CAST(COALESCE(lead(rn) OVER ws, n_key + 1) - rn AS BIGINT) AS n_rows,
       CAST(CASE WHEN lead(o_orderdate) OVER ws IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS is_current
FROM starts
WINDOW ws AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------- #
# ev1 — event funnel (view → click → purchase)
# ---------------------------------------------------------------- #

def ev1_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel conversion: users with a view, then a click
    strictly after their first view, then a purchase strictly after
    that first qualifying click.

    Three user-keyed min-aggregates chained by filters. Scale shape:
    every stage aggregates and joins on the SAME key (user_id) and no
    stage widens the data (each carries user_id + one timestamp).
    The v and c stage outputs are PERSISTED (user-keyed two-column
    frames, bounded by distinct converting users): each feeds both
    the next funnel stage and its own final count, and AQE does not
    canonicalize the duplicated agg subtrees across those references
    (the td28 class — round-10 audit measured events scanned 5x here,
    the v subtree executing three times). With the persists, each
    stage's filtered events scan runs exactly once."""
    from ..cacheutil import persist_replannable

    ev = load(spark, sf, "events").select("user_id", "event_type", "ts")
    v = persist_replannable(
        "catalog.ev1.v",
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
    )
    c = persist_replannable(
        "catalog.ev1.c",
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after")))
    )


EV1_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND epoch_ns(e.ts) > epoch_ns(v.t1)
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > epoch_ns(c.t2)
      GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_after,
       (SELECT count(*) FROM p) AS n_purchase_after
"""


#: one week in epoch-nanos (cohort/retention bucketing).
WEEK_NS = 604_800_000_000_000


def ev2_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by signup week, distinct
    active users per (cohort_week, weeks_since) cell.

    Two user-keyed aggregates: the cohort assignment (min signup ts
    per user) joins back to activity on user_id — the same
    partitioning both times, so the join adds no exchange beyond the
    aggs' own — then one (cohort, offset)-keyed count-distinct. The
    matrix is small (weeks²) however large the fact side grows."""
    ev = load(spark, sf, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.expr(f"min(ts) div {WEEK_NS}").alias("cohort_week"))
    )
    act = ev.select("user_id", F.expr(f"ts div {WEEK_NS}").alias("act_week"))
    return (
        act.join(cohort, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.col("act_week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


EV2_ORACLE = f"""
WITH c AS (SELECT user_id, min(epoch_ns(ts)) // {WEEK_NS} AS cohort_week
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
a AS (SELECT user_id, epoch_ns(ts) // {WEEK_NS} AS act_week FROM events)
SELECT cohort_week, act_week - cohort_week AS weeks_since,
       count(DISTINCT a.user_id) AS n_users
FROM a JOIN c USING (user_id)
WHERE act_week >= cohort_week
GROUP BY 1, 2
"""


#: one day in epoch-nanos.
DAY_NS = 86_400_000_000_000


def ev3_moving_sum(spark: SparkSession, sf: str) -> DataFrame:
    """7-day moving totals per event type over daily rollups: a
    RANGE-framed window (value-based bounds, not row counts) over the
    pre-aggregated daily frame.

    Scale shape: the expensive pass is ONE (day, type) hash agg over
    the facts; the moving window then runs on the tiny rollup
    (days × types rows) partitioned by type — the window never sees
    fact rows. Sums are exact integer cents, so the frame arithmetic
    is order-independent."""
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        F.expr(f"ts div {DAY_NS}").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "event_type",
        "n",
        "cents",
        F.sum("n").over(w).alias("n_7d"),
        F.sum("cents").over(w).alias("cents_7d"),
    )


EV3_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ns(ts) // {DAY_NS} AS day, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2)
SELECT day, event_type, n, cents,
       CAST(sum(n) OVER w AS BIGINT) AS n_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------- #
# h2 — time-spine gap fill (resample with zero-fill)
# ---------------------------------------------------------------- #

def h2_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly resample with gap filling: a generated time spine
    (min..max hour) × event types, left-joined to the hourly counts,
    empty buckets zero-filled — the continuous-aggregate/hypertable
    rollup shape, and the precondition for any interpolation.

    The spine is generated from ONE tiny agg (two longs) and the
    type dimension is a distinct over a low-cardinality column: both
    broadcast. The facts aggregate once on (bucket, type) — the
    spine join adds no fact shuffle."""
    ev = load(spark, sf, "events")
    hb = F.expr("ts div 3600000000000")
    hourly = ev.groupBy(
        hb.alias("hour_bucket"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.min(hb).alias("lo"), F.max(hb).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("hour_bucket")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return (
        grid.join(F.broadcast(hourly), ["hour_bucket", "event_type"], "left")
        .select(
            "hour_bucket",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("was_gap"),
        )
    )


H2_ORACLE = """
WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS hb, event_type FROM events),
hourly AS (SELECT hb, event_type, count(*) AS n FROM e GROUP BY 1, 2),
b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM e),
spine AS (SELECT unnest(generate_series(lo, hi)) AS hour_bucket FROM b),
types AS (SELECT DISTINCT event_type FROM e)
SELECT s.hour_bucket, t.event_type,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n,
       CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS was_gap
FROM spine s CROSS JOIN types t
LEFT JOIN hourly h ON h.hb = s.hour_bucket AND h.event_type = t.event_type
"""


# ---------------------------------------------------------------- #
# ev4 — exact-integer volume anomaly flags (3-sigma, no sqrt)
# ---------------------------------------------------------------- #

#: sigma multiplier for the ev4 outlier test. 2 (not the classic 3):
#: the synthetic events table's daily volumes are near-uniform (max
#: observed |z| ~ 2.7 at sf0.01), so T=2 exercises BOTH flag branches
#: under the gate while T=3 would certify an all-false column.
EV4_T = 2


def ev4_daily_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(event_type, day) volume-anomaly flags: a day is an
    outlier when its count deviates from the type's population mean
    by more than EV4_T standard deviations — decided ENTIRELY in
    integer arithmetic by cross-multiplying the variance test,

        (n·N − S)²  >  T² · (N·Q − S²)      with S=Σn, Q=Σn², N=#days,

    so no sqrt, no float, and bit-identical replay in DuckDB (the
    monitoring-alert shape of the reference's job statistics, ref
    db-client.ts getJobStatistics). Internal products are staged as
    DECIMAL(38,0)/HUGEINT: at 100 TB a hot type's daily n reaches
    ~1e7, making N·Q ~ 1e19 overflow int64 — the output columns stay
    BIGINT-safe.

    Scale shape: one (day, type) hash agg over the facts; the stats
    pass and the flag join then run on the tiny daily rollup with the
    k-row per-type stats frame broadcast — the facts shuffle exactly
    once."""
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        F.expr(f"ts div {DAY_NS}").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    return anomaly_flags(daily, EV4_T)


def anomaly_flags(daily: DataFrame, t: int) -> DataFrame:
    """The ev4 flag pass over a pre-aggregated (day, event_type, n)
    frame — split out so the exact-integer predicate is unit-testable
    on engineered counts (tests/test_streaming.py)."""
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s"),
        F.sum(F.expr("n * n")).alias("q"),
    )
    d38 = "decimal(38,0)"
    lhs = F.expr(
        f"cast(n as {d38}) * cast(n_days as {d38}) - cast(s as {d38})"
    )
    rhs = F.expr(
        f"cast(n_days as {d38}) * cast(q as {d38})"
        f" - cast(s as {d38}) * cast(s as {d38})"
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            "n_days",
            (lhs * lhs > F.lit(t * t).cast(d38) * rhs)
            .alias("is_outlier"),
        )
    )


EV4_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ns(ts) // {DAY_NS} AS day, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS q
  FROM daily GROUP BY event_type)
SELECT d.event_type, d.day, d.n, st.n_days,
       (CAST(d.n AS HUGEINT) * st.n_days - st.s)
         * (CAST(d.n AS HUGEINT) * st.n_days - st.s)
       > {EV4_T * EV4_T} * (CAST(st.n_days AS HUGEINT) * st.q
                            - CAST(st.s AS HUGEINT) * st.s)
       AS is_outlier
FROM daily d JOIN stats st USING (event_type)
"""


# ---------------------------------------------------------------- #
# ev5 — two-sided CUSUM changepoint flags (window closed form)
# ---------------------------------------------------------------- #

#: CUSUM decision threshold as a fraction of the type's total volume:
#: a day is flagged once the accumulated deviation mass |Σ(nᵢ·N − S)|
#: (in N·count units) exceeds S · EV5_NUM / EV5_DEN. 1/8 is calibrated
#: the same way as EV4_T: at sf0.01 the synthetic daily volumes make
#: both flag branches populated, so the gate certifies a real decision
#: boundary rather than an all-false column.
EV5_NUM = 1
EV5_DEN = 8


def ev5_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(event_type, day) CUSUM changepoint flags (Page 1954) over
    daily event volumes — the sequential drift detector monitoring
    pipelines run where ev4's pointwise sigma test misses slow level
    shifts.

    The textbook statistic is a recursion, S⁺_t = max(0, S⁺_{t-1} +
    y_t), which no window function expresses directly. But it has an
    exact closed form: with C_t = Σ_{i≤t} y_i (and C_0 = 0),

        S⁺_t = C_t − min(0, min_{j≤t} C_j)
        S⁻_t = max(0, max_{j≤t} C_j) − C_t

    so BOTH one-sided statistics are two cumulative windows over the
    same (event_type, day) ordering — no recursion, no iteration, no
    driver loop. Deviations are exact integers via the ev4 trick:
    y_t = n_t·N − S (N=#days, S=Σn per type), so Σy = 0 and every
    value replays bit-identically in DuckDB. A day is a changepoint
    when either side's statistic exceeds S·EV5_NUM/EV5_DEN
    (cross-multiplied — no division anywhere).

    Scale shape: one (day, type) hash agg over the facts; the per-type
    (N, S) stats broadcast back; then TWO window passes sharing ONE
    partitioning (Spark plans consecutive WindowExecs over the same
    partition/order spec behind a single exchange). The windows run on
    the days×types rollup, partitioned by type — never on fact rows,
    and never through a single task."""
    ev = load(spark, sf, "events")
    daily = ev.groupBy(
        F.expr(f"ts div {DAY_NS}").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    return cusum_flags(daily, EV5_NUM, EV5_DEN)


def cusum_flags(daily: DataFrame, num: int, den: int) -> DataFrame:
    """The ev5 CUSUM pass over a pre-aggregated (day, event_type, n)
    frame — split out so the closed form can be unit-tested against
    the textbook max(0, ·) recursion on engineered series
    (tests/test_streaming.py)."""
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"), F.sum("n").alias("s")
    )
    cum = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = daily.join(F.broadcast(stats), "event_type").withColumn(
        "y", F.col("n") * F.col("n_days") - F.col("s")
    )
    d = d.withColumn("c", F.sum("y").over(cum))
    d = d.withColumn(
        "s_pos", F.col("c") - F.least(F.lit(0), F.min("c").over(cum))
    ).withColumn(
        "s_neg", F.greatest(F.lit(0), F.max("c").over(cum)) - F.col("c")
    )
    thresh = F.col("s") * num
    return d.select(
        "event_type",
        "day",
        "n",
        "s_pos",
        "s_neg",
        (
            (F.col("s_pos") * den > thresh)
            | (F.col("s_neg") * den > thresh)
        ).alias("is_change"),
    )


EV5_ORACLE = f"""
WITH daily AS (
  SELECT epoch_ns(ts) // {DAY_NS} AS day, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS s
  FROM daily GROUP BY event_type),
dev AS (
  SELECT d.event_type, d.day, d.n, st.n_days, st.s,
         d.n * st.n_days - st.s AS y
  FROM daily d JOIN stats st USING (event_type)),
csum AS (
  SELECT event_type, day, n, s,
         sum(y) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM dev),
cum AS (
  SELECT event_type, day, n, s, c,
         min(c) OVER w AS run_min,
         max(c) OVER w AS run_max
  FROM csum
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, n,
       CAST(c - least(0, run_min) AS BIGINT) AS s_pos,
       CAST(greatest(0, run_max) - c AS BIGINT) AS s_neg,
       (c - least(0, run_min)) * {EV5_DEN} > s * {EV5_NUM}
       OR (greatest(0, run_max) - c) * {EV5_DEN} > s * {EV5_NUM}
       AS is_change
FROM cum
"""


def ev6_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count and conditional probability (basis points) of
    each event_type → next-event_type step — the behavioral-modeling
    rollup next to ev1's fixed funnel (every funnel is a path through
    this matrix).

    Exactness: p_bp = (10000·cnt) div Σcnt per from-type — pure
    BIGINT (10000·cnt fits to 9·10^14 transitions per pair). Event
    ordering uses epoch-µs + event_id (the st7/j8 convention: Spark
    reads the parquet timestamps as raw nanos, DuckDB at µs — the
    µs+id key orders identically in both engines).

    Scale shape: ONE user-partitioned window shuffle builds the
    successor column (inevitable for sequence analytics — sessions
    must be co-located); the (from, to) count matrix is a tiny keyed
    agg with map-side combine, and the per-from totals broadcast
    back. Nothing corpus-sized moves twice.
    """
    ev = load(spark, sf, "events").select(
        "user_id",
        F.expr("ts div 1000").alias("tus"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    cnt = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.groupBy("from_type").agg(F.sum("cnt").alias("_tot"))
    return cnt.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "cnt",
        F.expr("CAST((10000 * cnt) div _tot AS BIGINT)").alias("p_bp"),
    )


EV6_ORACLE = """
WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
               AS to_type
      FROM e),
c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, c.cnt,
       CAST((10000 * c.cnt) // t.tot AS BIGINT) AS p_bp
FROM c JOIN t USING (from_type)
"""


def ev7_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of
    users — the classic behavioral-cohort rollup. Each dimension is
    an EXACT global quintile: q = ((rank−1)·5) div n + 1 with rank
    from operators/rank.py::distributed_rank (range-partitioned local
    row_number + offsets — never a partition-less window), ascending
    so q=5 is the most recent / frequent / valuable fifth.

    Exactness: recency is the last event's epoch-µs (BIGINT),
    monetary the exact cents sum (functions/exact.py convention);
    ranks are total orders with user_id tiebreaks, so DuckDB's
    row_number replay is bit-identical.

    Scale shape: one user-keyed agg over the facts, then three
    distributed ranks over the user frame (two thin shuffles each,
    distinct cache scopes so the three repartitioned frames coexist).
    Round 12 (guide §2.4): the user count now rides each rank's OWN
    offset prefix-sum (distributed_rank_n) as a literal instead of a
    broadcast one-row frame — drops three crossJoin broadcast
    subtrees that each re-aggregated the user frame."""
    from omfietser_etl_spark.functions import exact
    from omfietser_etl_spark.operators.rank import distributed_rank_n

    ev = load(spark, sf, "events")
    # deliberately NOT persisted: the user frame feeds all three rank
    # chains, but the events agg is one cheap scan and an A/B showed
    # the persist HURTS (5.2 s -> 21.7 s cold at sf0.1) — the cached
    # frame materializes at static width and, like the CC-family
    # finding in SCALING.md round 6, blocks AQE from re-planning the
    # downstream joins.
    users = ev.groupBy("user_id").agg(
        F.max(F.expr("ts div 1000")).cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        exact.sum_cents("value").cast("long").alias("cents"),
    )
    # Each rank chain reads the USER frame directly (round 13): the
    # old fold ranked `out.select(user_id, metric)` where `out`
    # accumulated the previous quintile joins, so rank N's cache fill
    # re-executed the events agg PLUS N−1 join chains — the metric
    # columns come from `users` unchanged, so ranking from `users`
    # computes the identical quintiles over strictly smaller plans.
    out = users
    for metric, qcol, scope in (
        ("last_us", "r_q", "ev7.r"),
        ("freq", "f_q", "ev7.f"),
        ("cents", "m_q", "ev7.m"),
    ):
        ranked, n_users = distributed_rank_n(
            users.select("user_id", metric),
            [F.col(metric), F.col("user_id")],
            rank_col="_rk",
            scope=scope,
        )
        ranked = ranked.select(
            "user_id",
            F.expr(f"CAST(((_rk - 1) * 5) div {n_users} + 1 AS BIGINT)")
            .alias(qcol),
        )
        out = out.join(ranked, "user_id")
    return out.select(
        "user_id", "last_us", "freq", "cents", "r_q", "f_q", "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("long").alias("segment"),
    )


def ev8_activity_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the standard
    one-number concentration diagnostic (how skewed is activity
    toward power users; the same statistic data-mixture audits run on
    per-source token shares). ONE row: (n_users, total_events,
    gini_x1e6).

    Exactness: with counts ranked ascending (ties broken by user_id —
    any total order over equal values yields the same Σi·x_i sum for
    the tied block... each permutation of equal x contributes the
    same Σ), G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) is a ratio of
    exact integers, DECIMAL-staged (Σ i·x reaches n·total ≈ 10^26 at
    10^12 users) and emitted as floor millionths — non-negative by
    construction, so no div-semantics hazard.

    Scale shape: one user-keyed agg over the facts, one distributed
    exact rank (never a partition-less window), one global agg whose
    exchange carries partial rows."""
    from omfietser_etl_spark.operators.rank import distributed_rank

    dec = "decimal(38,0)"
    ev = load(spark, sf, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ranked = distributed_rank(
        counts, [F.col("cnt"), F.col("user_id")], rank_col="_rk", scope="ev8"
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cnt").cast("long").alias("total_events"),
        F.sum(F.expr(f"CAST(_rk AS {dec}) * cnt")).alias("_six"),
    )
    return sums.select(
        "n_users",
        "total_events",
        F.expr(
            f"CAST((CAST(1000000 AS {dec}) * "
            f"(2 * _six - (n_users + 1) * CAST(total_events AS {dec}))) div "
            f"(CAST(n_users AS {dec}) * total_events) AS BIGINT)"
        ).alias("gini_x1e6"),
    )


EV8_ORACLE = """
WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY user_id),
r AS (SELECT cnt,
             CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT) AS rk
      FROM u),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(cnt) AS BIGINT) AS total_events,
             SUM(CAST(rk AS HUGEINT) * cnt) AS six
      FROM r)
SELECT n_users, total_events,
       CAST((1000000 * (2 * six - (n_users + 1) * CAST(total_events AS HUGEINT)))
            // (CAST(n_users AS HUGEINT) * total_events) AS BIGINT) AS gini_x1e6
FROM s
"""


EV7_ORACLE = """
WITH u AS (SELECT user_id,
                  CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
                  CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY user_id),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
q AS (SELECT user_id, last_us, freq, cents,
             ((row_number() OVER (ORDER BY last_us, user_id) - 1) * 5)
               // n.n + 1 AS r_q,
             ((row_number() OVER (ORDER BY freq, user_id) - 1) * 5)
               // n.n + 1 AS f_q,
             ((row_number() OVER (ORDER BY cents, user_id) - 1) * 5)
               // n.n + 1 AS m_q
      FROM u CROSS JOIN n)
SELECT user_id, last_us, freq, cents,
       CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment
FROM q
"""


#: st12 — the K2/K3 MERGE state machine under the oracle (round-8
#: verdict item 5): fold K deterministic micro-batches through the
#: REAL versioned parquet store and gate the final table. Batches are
#: sliced by o_orderkey % K and reduced to ONE row per key per batch
#: (merge_batch's determinism contract); the sequential fold's result
#: is then SQL-expressible — per key, the row of the batch with the
#: maximum ord, later batch winning ties (the `_src DESC` arrival-
#: order tie-break) ≡ argmax over (ord, batch_index).
ST12_BATCHES = 4


def st12_merge_state(spark: SparkSession, sf: str) -> DataFrame:
    """K2/K3 sequential-MERGE end state (streaming/incremental.py::
    merge_batch, the store's one merge core; reference semantics
    postgres-adapter.ts:637-788): four deterministic micro-batches of
    per-customer order summaries merge latest-wins into the versioned
    parquet state store (real version dirs, manifest swaps, GC), and
    the committed state is the query result. Within-batch payloads
    (max date / max key / count per customer) make each batch one row
    per key, so the fold is exactly the oracle's argmax over
    (ord DESC, batch_index DESC) — ties on ord exercise the merge's
    batch-beats-state rule, not just order comparison. The state dir
    is self-cleaning per invocation (release_then_register's pattern:
    the PREVIOUS call's store dies when the next call starts; a fresh
    uuid dir keeps the returned frame's lazy reads valid meanwhile)."""
    import os
    import shutil
    import uuid

    from ..cacheutil import release_then_register
    from ..streaming.incremental import merge_batch, read_state

    orders = load(spark, sf, "orders")
    batches = orders.groupBy(
        F.col("o_custkey").alias("key"),
        F.pmod(F.col("o_orderkey"), F.lit(ST12_BATCHES)).alias("bi"),
    ).agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("ord"),
        F.max("o_orderkey").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # persisted: each of the K merges actions a filter of this frame
    batches = release_then_register("catalog.st12", batches.persist())
    root = "/tmp/spark_graft_st12"
    shutil.rmtree(root, ignore_errors=True)
    state_dir = os.path.join(root, uuid.uuid4().hex[:8])
    for i in range(ST12_BATCHES):
        merge_batch(
            batches.filter(F.col("bi") == i).drop("bi"),
            state_dir, ["key"], "ord",
        )
    return read_state(spark, state_dir).select("key", "ord", "last_order", "n")


def st13_merge_skip_unchanged(spark: SparkSession, sf: str) -> DataFrame:
    """ST4 ∘ K2: the change-detection skip path composed with the
    sequential MERGE fold. Reference semantics: the skip models the
    INTENDED change-detection design — content_hash is stored "for
    change detection" (`01-init.sql:17,26`, the types.ts comment and
    the hash index) — NOT an actual pre-upsert hash check in the
    adapter: `postgres-adapter.ts:172-251`'s INSERT..ON CONFLICT DO
    UPDATE updates unconditionally, bumping processed_at even for
    unchanged hashes. The skip here is therefore deliberately
    STRICTER than the shipped adapter (an unchanged payload never
    touches the sink, never bumps the stored row), realizing what the
    stored hash exists for (round-10 ADVICE correction).

    Construction: batch ``i`` carries, per customer, the CUMULATIVE
    max order year over slices ``o_orderkey % K <= i`` — monotone, so
    a key's payload repeats in every batch after the slice containing
    its max-year order. skip_unchanged drops those repeats (left-anti
    on (key, content_hash) against the live state), so the stored
    batch index ``bi`` stays at the FIRST batch that attained the
    final year. Without the skip every batch would rewrite every key
    and the committed ``bi`` would be K-1 for all keys — the oracle
    (min slice index among max-year orders) genuinely gates the skip,
    not just the merge. Batches are one row per key by construction
    (merge_batch's determinism contract); the store is the REAL
    versioned parquet state machine (version dirs, manifest swaps,
    GC), same as st12."""
    import os
    import shutil
    import uuid

    from ..cacheutil import release_then_register
    from ..streaming.incremental import (
        merge_batch,
        read_state,
        skip_unchanged,
        with_content_hash,
    )

    k = ST12_BATCHES
    orders = load(spark, sf, "orders")
    per_slice = orders.groupBy(
        F.col("o_custkey").alias("key"),
        F.pmod(F.col("o_orderkey"), F.lit(k)).alias("slice"),
    ).agg(F.max(F.year("o_orderdate")).cast("long").alias("slice_yr"))
    # persisted: each of the K cumulative batches filters this frame
    per_slice = release_then_register("catalog.st13", per_slice.persist())
    root = "/tmp/spark_graft_st13"
    shutil.rmtree(root, ignore_errors=True)
    state_dir = os.path.join(root, uuid.uuid4().hex[:8])
    for i in range(k):
        batch = (
            per_slice.filter(F.col("slice") <= i)
            .groupBy("key")
            .agg(F.max("slice_yr").alias("yr"))
        )
        batch = with_content_hash(batch, "yr")
        batch = skip_unchanged(batch, state_dir, ["key"])
        merge_batch(
            batch.withColumn("bi", F.lit(i).cast("long")),
            state_dir, ["key"], "bi",
        )
    return read_state(spark, state_dir).select("key", "yr", "bi")


ST13_ORACLE = f"""
WITH f AS (
  SELECT o_custkey AS key, CAST(max(year(o_orderdate)) AS BIGINT) AS yr
  FROM orders GROUP BY 1
), m AS (
  SELECT o.o_custkey AS key, CAST(min(o.o_orderkey % {ST12_BATCHES}) AS BIGINT) AS bi
  FROM orders o JOIN f ON o.o_custkey = f.key
   AND year(o.o_orderdate) = f.yr
  GROUP BY 1
)
SELECT f.key, f.yr, m.bi FROM f JOIN m ON f.key = m.key
"""


ST12_ORACLE = f"""
WITH b AS (
  SELECT o_custkey AS key, o_orderkey % {ST12_BATCHES} AS bi,
         strftime(max(o_orderdate), '%Y-%m-%d') AS ord,
         CAST(max(o_orderkey) AS BIGINT) AS last_order,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT key, ord, last_order, n,
         row_number() OVER (PARTITION BY key
             ORDER BY ord DESC, bi DESC) AS rn
  FROM b
)
SELECT key, ord, last_order, n FROM r WHERE rn = 1
"""


SPECS = [
    QuerySpec("j7_asof_lag_delta", j7_asof_lag_delta, J7_ORACLE, "J7 as-of lag"),
    QuerySpec("st12_merge_state", st12_merge_state, ST12_ORACLE,
              "K sequential MERGEs through the real versioned state store"),
    QuerySpec("st13_merge_skip_unchanged", st13_merge_skip_unchanged, ST13_ORACLE,
              "ST4 skip path composed with the MERGE fold: unchanged rows never bump state"),
    QuerySpec("st4_changed_rows", st4_changed_rows, ST4_ORACLE, "ST4 change detection"),
    QuerySpec("st6_window_counts", st6_window_counts, ST6_ORACLE, "ST6 tumbling window"),
    QuerySpec("u4_new_disappeared", u4_new_keys_between_halves, U4H_ORACLE, "U4 new/gone keys"),
    QuerySpec("a10_drift_report", a10_drift_report, A10_ORACLE, "A10 drift report"),
    QuerySpec("st7_sessionize", st7_sessionize, ST7_ORACLE,
              "gap-based sessionization (single-shuffle)"),
    QuerySpec("h1_scd2_history", h1_scd2_history, H1_ORACLE,
              "SCD2 type-2 interval history (gaps-and-islands, one shuffle)"),
    QuerySpec("s10_variant_extract", s10_variant_extract, S10_ORACLE,
              "VariantType semi-structured scan (parse once, navigate cheap)"),
    QuerySpec("ev1_funnel", ev1_funnel, EV1_ORACLE,
              "ordered event funnel (partition-reusing keyed aggs)"),
    QuerySpec("ev2_retention", ev2_retention, EV2_ORACLE,
              "weekly cohort retention matrix"),
    QuerySpec("ev3_moving_sum", ev3_moving_sum, EV3_ORACLE,
              "7-day RANGE-framed moving totals over daily rollup"),
    QuerySpec("h2_gapfill", h2_gapfill, H2_ORACLE,
              "time-spine gap fill (hourly resample, zero-filled)"),
    QuerySpec("ev4_daily_anomaly", ev4_daily_anomaly, EV4_ORACLE,
              "exact-integer 3-sigma volume anomaly flags (no sqrt)"),
    QuerySpec("ev5_cusum_changepoint", ev5_cusum_changepoint, EV5_ORACLE,
              "two-sided CUSUM changepoint flags, window closed form"),
    QuerySpec("ev6_transition_matrix", ev6_transition_matrix, EV6_ORACLE,
              "Markov event-type transition matrix (exact bp probabilities)"),
    QuerySpec("ev7_rfm_segments", ev7_rfm_segments, EV7_ORACLE,
              "RFM quintile segmentation via distributed exact ranks"),
    QuerySpec("ev8_activity_gini", ev8_activity_gini, EV8_ORACLE,
              "exact-integer Gini of per-user activity (power-user skew)"),
]
