"""Event-stream analytics (batch forms; streaming twins in streaming/).

The events table stands in for an append-only stream; these are the batch
(backfill) versions of the windowed aggregations the Structured Streaming
module runs incrementally. Keeping the two paths semantically identical is
the point — same buckets, same aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bayeslite_spark.workload import _t, register

_Q40_ORACLE = """
SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:00:00') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       round(sum(value), 4) / count(*) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


@register("q40_events_hourly", _Q40_ORACLE, tags=("events", "window"))
def q40_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation per event type.

    Scale: map-side partial aggregation on (hour, type); the streaming twin
    (streaming/windows.py) uses watermarked `window()` state with identical
    semantics."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # avg = pre-rounded sum / count with NO outer round: rounding
            # the sum absorbs summation-order ulp noise (identical doubles
            # on both engines; IEEE division is deterministic), and
            # skipping the outer round avoids engine-specific tie-breaking
            # at .xxxxxx5 boundaries (observed at sf0.1: sum/2^k of
            # 2-decimal data lands exactly on one)
            (F.round(F.sum("value"), 4) / F.count(F.lit(1))).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_Q41_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         epoch(ts::TIMESTAMP)
           - epoch(lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
),
flagged AS (
  SELECT user_id, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session
  FROM ordered
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id
"""


@register("q41_sessionization", _Q41_ORACLE, tags=("events", "window"))
def q41_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window.

    Scale: one shuffle on user_id, then per-user in-partition sort — the
    standard sessionization plan; skewed users are bounded by per-user event
    counts. Streaming twin would use applyInPandasWithState."""
    from bayeslite_spark.streaming.sessions import epoch_seconds, require_utc_session

    e = _t(spark, sf_dir, "events")
    require_utc_session(e)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = epoch_seconds(F.col("ts"))
    gap = ts_s - F.lag(ts_s).over(w)
    flagged = e.select(
        "user_id", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_session")
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


# q42_top_users was folded out: the global top-k pattern (pre-aggregate ->
# TakeOrdered / rank pushdown, no full sort) is driver-verified through
# q34_cosine_topk and q45_topk_per_group, and the driver's correctness
# record caps at 50 entries — the slot goes to a non-redundant operator.


_Q48_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(coalesce(value, 0)), 4) AS total_value
FROM sess GROUP BY user_id, sid
"""


@register("q48_sessions", _Q48_ORACLE, tags=("events", "sessions"))
def q48_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full session rows (start/end/count/value) — the batch twin of the
    applyInPandasWithState streaming sessionizer (streaming/sessions.py);
    tests assert stream == batch, this oracle pins the batch side."""
    from bayeslite_spark.streaming.sessions import sessions_batch

    return sessions_batch(_t(spark, sf_dir, "events"))


@register("x38_hll_rollup", None, tags=("events", "sketch", "rows-only"))
def q38_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: hourly HLL user sketches unioned into daily
    distinct-user estimates.

    THE aggregation pattern for 100 TB rollup hierarchies: the expensive
    pass builds small fixed-size sketches at the finest grain once;
    coarser grains merge sketches (hll_union_agg) without rescanning the
    data. Estimates are sketch-accurate (~2% at default lgK), so this
    registers rows-only; accuracy vs exact distinct is asserted in tests."""
    e = _t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"),
             F.count(F.lit(1)).alias("n_events"))
    )
    return (
        hourly.groupBy("day")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("approx_users"),
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Retention cohorts: the classic product-analytics triangle — users
# grouped by first-active week (cohort), activity counted per
# subsequent week, retention as the fraction of the cohort still active.
#
# Scale: ONE distinct over (user_id, week) collapses the event stream to
# user-week grain before anything else (the expensive pass, map-side
# partial); first-week per user is a min-aggregate on the already-tiny
# user-week table; the cohort-size join is |cohorts|-sized and
# broadcast.  retention is an exact integer ratio — no rounding.
# Week truncation -> Monday in both engines (ISO).
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP)::DATE AS wk
  FROM events
), first AS (
  SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id
), act AS (
  SELECT f.cohort, CAST(date_diff('day', f.cohort, uw.wk) / 7 AS INT) AS week_n,
         uw.user_id
  FROM uw JOIN first f USING (user_id)
), cells AS (
  SELECT cohort, week_n, count(*) AS n_active FROM act GROUP BY cohort, week_n
)
SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
       c.week_n,
       CAST(c.n_active AS BIGINT) AS n_active,
       c.n_active / CAST(s.n_active AS DOUBLE) AS retention
FROM cells c JOIN cells s ON c.cohort = s.cohort AND s.week_n = 0
"""


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_week, week_n, n_active, retention): weekly retention
    triangle over the event stream."""
    uw = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = uw.join(first, "user_id").select(
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("int").alias("week_n"),
        "user_id",
    )
    cells = act.groupBy("cohort", "week_n").agg(F.count(F.lit(1)).alias("n_active"))
    sizes = cells.filter(F.col("week_n") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return cells.join(F.broadcast(sizes), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_n",
        F.col("n_active").cast("long").alias("n_active"),
        (F.col("n_active") / F.col("cohort_size").cast("double")).alias("retention"),
    )


@register("q81_retention_cohorts", _RETENTION_ORACLE, tags=("events",))
def q81_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort triangle (first-active week x activity week).
    """
    return retention_cohorts(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Ordered conversion funnel: view -> click -> purchase, a user reaches
# step k when their FIRST occurrence of each step type happens in step
# order (the standard min-timestamp funnel).
#
# Scale: one map-side-combined aggregate collapses the stream to
# (user, first_view, first_click, first_purchase) — |users|-sized; the
# step counts are three conditional sums over that table and the
# conversion ratios are exact integer ratios computed against the step-1
# count via a window over the 3-row result.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")

_EVENT_FUNNEL_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events GROUP BY user_id
), counts AS (
  SELECT 1 AS step, 'view' AS step_name,
         CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_users
  FROM firsts
  UNION ALL
  SELECT 2, 'click',
         CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM firsts
  UNION ALL
  SELECT 3, 'purchase',
         CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM firsts
)
SELECT step, step_name, n_users,
       n_users / CAST(first_value(n_users) OVER (ORDER BY step) AS DOUBLE)
         AS conversion
FROM counts
"""


def event_funnel(events: DataFrame) -> DataFrame:
    """(step, step_name, n_users, conversion): min-timestamp ordered
    funnel over view -> click -> purchase."""
    s1, s2, s3 = _FUNNEL_STEPS
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == s1, F.col("ts"))).alias("t1"),
        F.min(F.when(F.col("event_type") == s2, F.col("ts"))).alias("t2"),
        F.min(F.when(F.col("event_type") == s3, F.col("ts"))).alias("t3"),
    )
    r1 = F.col("t1").isNotNull()
    r2 = r1 & (F.col("t2") > F.col("t1"))
    r3 = r2 & (F.col("t3") > F.col("t2"))
    counts = firsts.agg(
        F.sum(r1.cast("int")).cast("long").alias("n1"),
        F.sum(r2.cast("int")).cast("long").alias("n2"),
        F.sum(r3.cast("int")).cast("long").alias("n3"),
    )
    steps = counts.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("step"), F.lit(s1).alias("step_name"),
                         F.col("n1").alias("n_users")),
                F.struct(F.lit(2).alias("step"), F.lit(s2).alias("step_name"),
                         F.col("n2").alias("n_users")),
                F.struct(F.lit(3).alias("step"), F.lit(s3).alias("step_name"),
                         F.col("n3").alias("n_users")),
            )
        ).alias("s")
    ).select("s.step", "s.step_name", "s.n_users")
    w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, 0)
    return steps.select(
        "step", "step_name", "n_users",
        (F.col("n_users") / F.first("n_users").over(w).cast("double")).alias(
            "conversion"
        ),
    )


@register("q83_event_funnel", _EVENT_FUNNEL_ORACLE, tags=("events",),
          plan_allow={"global_window": (
              "window input is the exploded funnel-step table: a 1-row "
              "aggregate x 3 step literals — exactly 3 rows by "
              "construction")})
def q83_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase).
    """
    return event_funnel(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# q87: semi-structured JSON property extraction.  The reference's only
# JSON surface is the internal bql_json_get kludge (src/bqlfn.py:521-523);
# a real pipeline lands event payloads as JSON strings and extracts typed
# fields at scan time.  get_json_object is JVM-side codegen (Jackson
# parse per row, no Python); the extraction composes with predicate
# pushdown on the outer columns, and the aggregate is all-integer so the
# oracle hash is exact.
# ---------------------------------------------------------------------------

_JSON_EXTRACT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""


@register("q87_json_extract", _JSON_EXTRACT_ORACLE, tags=("events", "json"))
def q87_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed field extraction from a JSON payload column + integer rollup.

    Scale: the parse is per-row JVM work inside whole-stage codegen (no
    shuffle added); aggregation partial-combines map-side on event_type.
    """
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long").alias("k")
    return (
        e.select("event_type", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


# ---------------------------------------------------------------------------
# q88: weekday x event-type PIVOT.  Spark's relational pivot with an
# EXPLICIT value list (no extra distinct-collect job) compiles to one
# map-side-combined aggregate with per-value conditional partials —
# exactly the CASE-sum formulation the oracle spells out.  All counts are
# integers; the one float column is a rounded sum.
# ---------------------------------------------------------------------------

_EVENT_PIVOT_ORACLE = """
SELECT isodow(ts) - 1 AS dow,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 4)
         AS purchase_value
FROM events
GROUP BY 1
"""

_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register("q88_event_pivot", _EVENT_PIVOT_ORACLE, tags=("events", "pivot"))
def q88_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-by-type event matrix via `groupBy().pivot(values)`.

    Scale: the explicit value list keeps pivot to ONE job (no distinct
    pre-scan); partials combine map-side on the 7-row dow key.
    """
    e = _t(spark, sf_dir, "events")
    piv = (
        e.select(F.weekday("ts").alias("dow"), "event_type", "value")
        .groupBy("dow")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v"),
        )
    )
    cols = [F.col("dow")]
    for t in _PIVOT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}"))
    cols.append(
        F.round(F.coalesce(F.col("purchase_v"), F.lit(0.0)), 4).alias("purchase_value")
    )
    return piv.select(*cols)


# ---------------------------------------------------------------------------
# q92: last-touch purchase attribution — each purchase is credited to the
# same user's most recent click within the preceding 30 minutes.  The
# batch form is ONE window pass (last non-null click timestamp over the
# user's event-time order — no self-join, no correlated subquery); the
# streaming twin (streaming/joins.py) is the stream-stream interval join
# with watermarks on both sides.  Keeping both semantically identical is
# the point, as with q40/q41.
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
  FROM events
), purchases AS (
  SELECT user_id, value,
         CASE WHEN last_click IS NOT NULL
                   AND ts - last_click <= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS attributed
  FROM seq WHERE event_type = 'purchase'
)
SELECT CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(attributed) AS BIGINT) AS n_attributed,
       round(sum(CASE WHEN attributed = 1 THEN value ELSE 0 END), 4)
         AS attributed_value,
       round(sum(value), 4) AS total_value
FROM purchases
"""


def attribute_purchases(events: DataFrame) -> DataFrame:
    """1-row (n_purchases, n_attributed, attributed_value, total_value)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    seq = events.withColumn("last_click", last_click)
    # interval arithmetic (not cast-to-long) so both TIMESTAMP and
    # TIMESTAMP_NTZ inputs resolve
    attributed = (
        F.col("last_click").isNotNull()
        & (F.col("ts") <= F.col("last_click") + F.expr("INTERVAL 1800 SECONDS"))
    ).cast("int")
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select("value", attributed.alias("attributed"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("attributed").cast("long").alias("n_attributed"),
            F.round(
                F.sum(F.when(F.col("attributed") == 1, F.col("value")).otherwise(0.0)), 4
            ).alias("attributed_value"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register("q92_attribution", _ATTRIBUTION_ORACLE, tags=("events", "window"))
def q92_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch click->purchase attribution within 30 minutes.

    Scale: one shuffle on user_id for the window pass; the final
    aggregate is a 1-row map-side-combined reduction.
    """
    return attribute_purchases(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# q93: VARIANT-typed semi-structured extraction — the parse-ONCE /
# extract-many sibling of q87.  get_json_object re-parses the JSON string
# per call; projecting `parse_json(props)` once yields a binary VARIANT
# column and each `variant_get` is a cheap typed path read — at 100 TB
# with many extracted fields that is the difference between N parses and
# one.  The histogram output is all-integer (hash-exact oracle).
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT CAST(k // 10 AS BIGINT) AS k_decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY k // 10
"""


@register("q93_variant_extract", _VARIANT_ORACLE, tags=("events", "json"))
def q93_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed VARIANT path extraction (Spark 4 parse_json/variant_get) and
    integer decile rollup.

    Scale: parse_json projects ONCE per row; every variant_get afterwards
    is a path read on the binary, not a re-parse; all-integer aggregate
    partial-combines map-side on the ~11-row decile key.
    """
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.expr("parse_json(props)").alias("pv")
    ).select(
        "event_type", F.expr("variant_get(pv, '$.k', 'long')").alias("k")
    )
    return (
        v.groupBy(F.floor(F.col("k") / 10).cast("long").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# q99: KMV (bottom-k) quantile sketch — the mergeable-quantiles sibling of
# x38's HLL rollup, but DETERMINISTIC and therefore exactly oracle-able.
# The sketch for a group is the k rows with the smallest md5(event_id):
# a uniform hash-sample whose merge is exact (bottom-k of a union == 
# bottom-k of the concatenated bottom-k's), so per-hour sketches roll up
# into per-day/per-type estimates without rescanning — the property the
# mergeability test asserts.  Quantile estimates are nearest-rank picks
# from the sorted sample: actual data values, zero float arithmetic.
#
# Scale: rank <= k compiles to WindowGroupLimit (per-partition truncation
# to k BEFORE the exchange — the shuffle carries at most k rows per
# partition per type, not the stream); the estimate step aggregates
# <= k-row arrays per group.
# ---------------------------------------------------------------------------

KMV_K = 128

_KMV_QS = (0.5, 0.9, 0.99)

_Q99_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(event_id::VARCHAR), event_id) AS rn
  FROM events
),
sample AS (SELECT event_type, value FROM ranked WHERE rn <= {KMV_K}),
ordered AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM sample
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_sample,
       {", ".join(
           f"max(CASE WHEN vr = 1 + CAST(floor({q} * (n - 1)) AS BIGINT) "
           f"THEN value END) AS p{int(q * 100)}_est"
           for q in _KMV_QS)}
FROM ordered GROUP BY event_type
"""


def kmv_sample(df: DataFrame, group_col: str, id_col: str,
               value_col: str, k: int = KMV_K) -> DataFrame:
    """(group, value): per group, the k rows with the smallest
    md5(id) — a deterministic mergeable uniform sample."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        df.select(group_col, id_col, value_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(group_col, id_col, value_col)
    )


def kmv_quantiles(sample: DataFrame, group_col: str, value_col: str,
                  qs: tuple[float, ...] = _KMV_QS) -> DataFrame:
    """Nearest-rank quantile estimates from a KMV sample: element at
    1 + floor(q * (n-1)) of the value-sorted sample (an actual data
    value — no interpolation, no float arithmetic)."""
    agg = (
        sample.groupBy(group_col)
        .agg(F.array_sort(F.collect_list(value_col)).alias("_vs"))
    )
    n = F.size("_vs")
    cols = [F.col(group_col), n.cast("long").alias("n_sample")]
    for q in qs:
        pos = (F.floor(F.lit(q) * (n - 1).cast("double")) + 1).cast("int")
        cols.append(F.element_at("_vs", pos).alias(f"p{int(q * 100)}_est"))
    return agg.select(*cols)


@register("q99_kmv_quantiles", _Q99_ORACLE, tags=("events", "sketch"))
def q99_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p90/p99 estimates from a deterministic
    mergeable bottom-k (KMV) sample of `value`.
    """
    ev = _t(spark, sf_dir, "events")
    return kmv_quantiles(
        kmv_sample(ev, "event_type", "event_id", "value"),
        "event_type", "value")


# ---------------------------------------------------------------------------
# r02: ingestion-gap detection — per event type, find missing hours in
# the stream (data-quality monitoring for an append-only pipeline).
# Spark-first shape: NO calendar spine is generated or joined; observed
# hours sort once per type and lead() measures each gap, so cost is
# O(observed hours), integers end to end.
# ---------------------------------------------------------------------------

_R02_ORACLE = """
WITH hrs AS (
  SELECT DISTINCT event_type,
         CAST(epoch(date_trunc('hour', ts::TIMESTAMP)) AS BIGINT) AS hr
  FROM events
),
gaps AS (
  SELECT event_type, hr,
         (lead(hr) OVER (PARTITION BY event_type ORDER BY hr) - hr) / 3600 - 1
           AS missing_after
  FROM hrs
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours_observed,
       CAST((max(hr) - min(hr)) / 3600 + 1 AS BIGINT) AS n_hours_expected,
       CAST(COALESCE(sum(missing_after), 0) AS BIGINT) AS n_hours_missing,
       CAST(COALESCE(max(missing_after), 0) AS BIGINT) AS max_gap_hours
FROM gaps GROUP BY event_type
"""


def ingestion_gaps(events: DataFrame) -> DataFrame:
    """(event_type, n_hours_observed, n_hours_expected, n_hours_missing,
    max_gap_hours): hour-grain completeness per event type via one
    distinct + one lead() window — no calendar spine materialized."""
    hrs = (
        events.select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long").alias("hr"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    gaps = hrs.withColumn(
        "missing_after", (F.lead("hr").over(w) - F.col("hr")) / 3600 - 1)
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours_observed"),
        ((F.max("hr") - F.min("hr")) / 3600 + 1).cast("long")
        .alias("n_hours_expected"),
        F.coalesce(F.sum("missing_after"), F.lit(0)).cast("long")
        .alias("n_hours_missing"),
        F.coalesce(F.max("missing_after"), F.lit(0)).cast("long")
        .alias("max_gap_hours"),
    )


@register("r02_ingestion_gaps", _R02_ORACLE, tags=("events", "quality"))
def r02_ingestion_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-grain stream-completeness report per event type.
    """
    return ingestion_gaps(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r04: KMV distinct-count estimation — the classic k-minimum-values
# cardinality estimator (Bar-Yossef et al.), q99's sibling: per type,
# map each distinct user hash into [0,1) and estimate |distinct| as
# (k-1)/h_k from the k-th smallest.  Like q99 (and unlike HLL/x38) the
# sketch is DETERMINISTIC, so the estimate itself is exactly
# oracle-able, and its merge (union of bottom-k sets -> bottom-k) is
# exact.  Accuracy vs the true countDistinct is property-tested.
#
# Scale: the per-(type, user) distinct runs first (map-side partial),
# then rank <= k compiles to WindowGroupLimit; state is k doubles per
# group — the mergeable-rollup shape for distinct counts over 100 TB.
# ---------------------------------------------------------------------------

KMV_D_K = 64
_HEX_SCALE = float(16 ** 13)  # first 13 hex chars of md5 -> [0, 1)

_R04_ORACLE = f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT
           / {_HEX_SCALE} AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM uh
),
sk AS (SELECT event_type, h, rn FROM ranked WHERE rn <= {KMV_D_K})
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_in_sketch,
       CASE WHEN count(*) >= {KMV_D_K}
            THEN ({KMV_D_K} - 1) / max(CASE WHEN rn = {KMV_D_K} THEN h END)
            ELSE CAST(count(*) AS DOUBLE) END AS distinct_est
FROM sk GROUP BY event_type
"""


def kmv_distinct(df: DataFrame, group_col: str, id_col: str,
                 k: int = KMV_D_K) -> DataFrame:
    """(group, n_in_sketch, distinct_est): deterministic KMV cardinality
    estimate from ONLY the k smallest distinct hashes per group — exact
    when the group has fewer than k distinct ids (the sketch then IS the
    distinct set), (k-1)/h_k otherwise; nothing outside the sketch is
    counted."""
    uh = (
        df.select(
            group_col,
            (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13),
                    16, 10).cast("double") / _HEX_SCALE).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = uh.select(
        group_col, "h",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= k)
    return ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("_hk"),
    ).select(
        group_col, "n_in_sketch",
        F.when(F.col("n_in_sketch") >= k, (k - 1) / F.col("_hk"))
        .otherwise(F.col("n_in_sketch").cast("double")).alias("distinct_est"),
    )


@register("r04_kmv_distinct", _R04_ORACLE, tags=("events", "sketch"))
def r04_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user estimates from a deterministic KMV sketch.
    """
    return kmv_distinct(_t(spark, sf_dir, "events"), "event_type", "user_id")


# ---------------------------------------------------------------------------
# r06: customer-value decile table (LTV analysis) — per-user purchase
# totals cut into NTILE(10) deciles with per-decile revenue share.  The
# decile assignment orders by (rounded total DESC, user_id) so both
# engines rank the identical key, and ntile's remainder semantics
# (first r groups get the extra row) agree between Spark and DuckDB.
# Shape: one map-side-combined per-user aggregate, ONE window pass over
# the user-grain table, then a 10-row rollup.
# ---------------------------------------------------------------------------

_R06_ORACLE = """
WITH per_user AS (
  SELECT user_id, round(sum(value), 4) AS total
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
cut AS (
  SELECT user_id, total,
         ntile(10) OVER (ORDER BY total DESC, user_id) AS decile
  FROM per_user
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_users,
       round(sum(total), 4) AS revenue,
       round(min(total), 4) AS floor_value
FROM cut GROUP BY decile
"""


def value_deciles(events: DataFrame, n: int = 10) -> DataFrame:
    """(decile, n_users, revenue, floor_value) over per-user purchase
    totals.

    ntile WITHOUT the global window: the per-user table is user-grain —
    data-proportional — so a ``Window.orderBy`` ntile would serialize
    every user through one task's sort (the round-6 verdict's one
    registered scale-killer). Instead rank with the two-pass
    ``distributed_rank`` (range-repartition + per-partition offsets) and
    reproduce ntile's remainder semantics as pure integer arithmetic
    over (rank, total): with base = total div n and rem = total mod n,
    the first rem buckets hold base+1 rows —

        decile(r) = (r-1) div (base+1) + 1                 if r <= rem*(base+1)
                  = rem + (r - rem*(base+1) - 1) div base + 1  otherwise

    which is exactly the front-loaded bucketing Spark's and DuckDB's
    ntile() both implement (NOT floor((r-1)*n/total)+1, which misplaces
    rows once base*n < pivot — e.g. total=8, n=5 puts rank 6 in bucket 4
    where ntile says 3). All longs, so the oracle hash-matches.
    """
    from bayeslite_spark.operators.analytics_queries import distributed_ntile

    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("total"))
    )
    cut = distributed_ntile(
        per_user, [F.col("total").desc(), F.col("user_id")], n, "decile")
    return cut.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("total"), 4).alias("revenue"),
        F.round(F.min("total"), 4).alias("floor_value"),
    )


@register("r06_value_deciles", _R06_ORACLE, tags=("events", "window"))
def r06_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) customer-value decile table over purchase events.

    Scale: per-user aggregate (map-combined), two-pass distributed_rank
    over the user-grain table (range partition, NO global window; the
    total count comes with the ranks, observed by the checkpoint job),
    then a 10-row rollup — every stage data-parallel at any user count.
    """
    return value_deciles(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r18: bot/automation regularity audit — per-user inter-event-gap
# statistics with an exact-integer variance.  Scripted traffic fires on
# near-constant intervals (coefficient of variation << 1) while human
# arrivals are bursty (cv ~ 1): the standard first-pass bot screen a
# log-ingest pipeline runs before events feed training or analytics.
#
# Float recipe: gaps are exact BIGINT microseconds (unix_micros /
# epoch_us); sum and sum-of-squares stay integer-exact (BIGINT /
# HUGEINT::BIGINT), so the variance NUMERATOR n*ss - s^2 is exact and
# order-independent — cv^2 = (n*ss - s^2) / s^2 is ONE double division
# of exact integers, then one IEEE sqrt.  No cross-row float sum
# anywhere.
#
# Scale: ONE shuffle on user_id; lag + the three aggregates share the
# same per-user sort; output is |users| rows.
# ---------------------------------------------------------------------------

_MIN_GAPS = 5
_BOT_CV = 0.3

_R18_ORACLE = f"""
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts::TIMESTAMP) // 1000000)
           - lag(epoch_us(ts::TIMESTAMP) // 1000000)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
), agg AS (
  SELECT user_id,
         count(gap_s)::BIGINT AS n_gaps,
         sum(gap_s)::BIGINT AS s,
         sum(gap_s * gap_s)::BIGINT AS ss
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_gaps,
       (s * 1.0 / n_gaps) AS mean_gap_s,
       sqrt((n_gaps * ss - s * s) * 1.0 / (s * s)) AS gap_cv,
       (sqrt((n_gaps * ss - s * s) * 1.0 / (s * s)) < {_BOT_CV}) AS bot_like
FROM agg WHERE n_gaps >= {_MIN_GAPS} AND s > 0
"""


def bot_regularity(events: DataFrame, min_gaps: int = _MIN_GAPS,
                   bot_cv: float = _BOT_CV) -> DataFrame:
    """(user_id, n_gaps, mean_gap_s, gap_cv, bot_like): per-user
    inter-event regularity; gap_cv << 1 flags scripted traffic.

    Gaps are whole seconds (unix_seconds truncation == epoch_us //
    1000000 for positive epochs), so sums and squares stay integer-exact
    in BIGINT: span-bounded (sum of gaps = user's time span S, hence
    ss <= S^2 ~ 1e15 for a year), no overflow at any user density."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    gaps = events.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap_s"))
    agg = gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("ss"),
    ).filter((F.col("n_gaps") >= min_gaps) & (F.col("s") > 0))
    cv = F.sqrt(
        (F.col("n_gaps") * F.col("ss") - F.col("s") * F.col("s"))
        * F.lit(1.0) / (F.col("s") * F.col("s")))
    return agg.select(
        "user_id", "n_gaps",
        (F.col("s") * F.lit(1.0) / F.col("n_gaps")).alias("mean_gap_s"),
        cv.alias("gap_cv"),
        (cv < bot_cv).alias("bot_like"),
    )


@register("r18_bot_regularity", _R18_ORACLE, tags=("events",))
def r18_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness screen: per-user inter-event-gap regularity.
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return bot_regularity(e)


# ---------------------------------------------------------------------------
# r21: Markov event transitions — the first-order next-event transition
# matrix over per-user event sequences.  The path-analysis primitive
# behind "what do users do after signup?" dashboards and the sequence
# prior a session-simulation / bot-detection model starts from.
#
# Scale: ONE shuffle — the lead() window partitions by user_id (the same
# exchange sessionization uses; AQE coalesces).  The transition groupBy
# is |types|^2-sized, partial-combines map-side, so the second exchange
# is O(types^2 x partitions) regardless of event volume.  Probability is
# a single BIGINT/BIGINT division (IEEE-identical across engines); the
# row total reuses a window over the tiny aggregate, not a second pass
# over events.
# ---------------------------------------------------------------------------

_R21_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_trans
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_trans,
       n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY from_type) AS p_trans
FROM pairs
"""


def event_transitions(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n_trans, p_trans): first-order Markov
    transition counts and row-normalized probabilities over per-user
    event sequences ordered by (ts, event_id).

    p_trans is one division of two exact BIGINTs — bit-identical across
    engines, no cross-row float sum anywhere."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_trans"))
    row = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n_trans",
        (F.col("n_trans") * F.lit(1.0) / F.sum("n_trans").over(row))
        .alias("p_trans"),
    )


@register("r21_event_transitions", _R21_ORACLE, tags=("events", "window"))
def r21_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event transition matrix.
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return event_transitions(e)


# ---------------------------------------------------------------------------
# r22: event-type co-occurrence lift — market-basket association over
# per-user event-type sets: lift(a,b) = P(a,b) / (P(a) P(b)) with the
# user as the basket.  The feature-correlation screen run before
# recommendation / propensity models, and a quick data-quality check
# (lift >> 1 between 'error' and anything is a red flag).
#
# Scale: the distinct (user_id, event_type) projection partial-combines
# map-side and is bounded by |users| x |types| — it, not raw events, is
# what self-joins.  The self-join shuffles once on user_id and each
# user contributes at most |types|^2 pairs, so output is
# O(users x types^2) worst-case and the final aggregate is types^2
# rows.  Per-type user counts are a types-sized broadcast.  lift is
# (BIGINT*BIGINT)*1.0/(BIGINT*BIGINT): integer products stay exact
# (bounded by n_users^2 — overflows BIGINT only past ~3e9 users), then
# one float division — bit-identical across engines.
# ---------------------------------------------------------------------------

_R22_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), tc AS (
  SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY event_type
), tot AS (
  SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM ut
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*)::BIGINT AS n_pair
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_pair,
       ta.n AS n_a, tb.n AS n_b, tot.n_users AS n_users,
       (n_pair * tot.n_users) * 1.0 / (ta.n * tb.n) AS lift
FROM pairs
JOIN tc ta ON ta.event_type = pairs.type_a
JOIN tc tb ON tb.event_type = pairs.type_b
CROSS JOIN tot
"""


def cooccurrence_lift(events: DataFrame) -> DataFrame:
    """(type_a, type_b, n_pair, n_a, n_b, n_users, lift): user-basket
    co-occurrence lift between event-type pairs (type_a < type_b)."""
    ut = events.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = ut.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"))
    a = ut.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    out = (
        pairs
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_a"),
                                    F.col("n").alias("n_a"))), "type_a")
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_b"),
                                    F.col("n").alias("n_b"))), "type_b")
        .join(F.broadcast(tot))
    )
    return out.select(
        "type_a", "type_b", "n_pair", "n_a", "n_b", "n_users",
        ((F.col("n_pair") * F.col("n_users")) * F.lit(1.0)
         / (F.col("n_a") * F.col("n_b"))).alias("lift"),
    )


@register("r22_cooccurrence_lift", _R22_ORACLE, tags=("events",))
def r22_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift over per-user baskets.
    """
    return cooccurrence_lift(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r25: conversion lag — the time-to-convert distribution for the
# view -> purchase funnel: per user, seconds from the FIRST view to the
# first purchase at-or-after it, then the population percentiles every
# growth dashboard plots.  Complements q83 (stage counts) with the
# "how long" axis.
#
# Scale: first-view per user is ONE map-combined conditional aggregate;
# purchases join back on user_id (same key, co-partitioned with the
# aggregate's exchange); the at-or-after filter + min collapse to a
# second map-combined aggregate; the final percentile runs over
# |converted users| rows.  Lag is whole seconds (BIGINT, exact);
# mean = round(sum,6)/count per the float-tie recipe; percentiles are
# interpolated on integers (Spark percentile == DuckDB quantile_cont).
# At 100 TB swap percentile for approx_percentile — same plan shape.
# ---------------------------------------------------------------------------

_R25_ORACLE = """
WITH fv AS (
  SELECT user_id,
         min(epoch_us(ts::TIMESTAMP) // 1000000)
           FILTER (event_type = 'view') AS v_s
  FROM events GROUP BY user_id
), conv AS (
  SELECT e.user_id,
         min(epoch_us(e.ts::TIMESTAMP) // 1000000) - fv.v_s AS lag_s
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND fv.v_s IS NOT NULL
    AND (epoch_us(e.ts::TIMESTAMP) // 1000000) >= fv.v_s
  GROUP BY e.user_id, fv.v_s
)
SELECT count(*)::BIGINT AS n_converted,
       round(sum(lag_s)::BIGINT, 6) / count(*) AS mean_lag_s,
       round(quantile_cont(lag_s, 0.5), 6) AS p50_lag_s,
       round(quantile_cont(lag_s, 0.9), 6) AS p90_lag_s
FROM conv
"""


def conversion_lag(events: DataFrame) -> DataFrame:
    """(n_converted, mean_lag_s, p50_lag_s, p90_lag_s): distribution of
    first-view -> first-subsequent-purchase lag across users."""
    from bayeslite_spark.streaming.sessions import epoch_seconds

    sec = F.floor(epoch_seconds(F.col("ts"))).cast("long")
    fv = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", sec)).alias("v_s"))
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("p_s"))
        .join(fv.filter(F.col("v_s").isNotNull()), "user_id")
        .filter(F.col("p_s") >= F.col("v_s"))
        .groupBy("user_id", "v_s")
        .agg((F.min("p_s") - F.col("v_s")).alias("lag_s"))
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        (F.round(F.sum("lag_s").cast("long"), 6) / F.count(F.lit(1)))
        .alias("mean_lag_s"),
        F.round(F.expr("percentile(lag_s, 0.5)"), 6).alias("p50_lag_s"),
        F.round(F.expr("percentile(lag_s, 0.9)"), 6).alias("p90_lag_s"),
    )


@register("r25_conversion_lag", _R25_ORACLE, tags=("events", "funnel"))
def r25_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert: first view -> first subsequent purchase.
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return conversion_lag(e)


# ---------------------------------------------------------------------------
# r27: peak concurrency — per day, the maximum number of SIMULTANEOUS
# open sessions (30-min-gap sessions, the q48 definition).  The
# capacity-planning number: licenses, connection pools, autoscaling
# floors all key off it.
#
# Scale: the classic +1/-1 interval sweep, but NEVER as one global
# window (a single-partition sort dies at scale).  Two levels instead:
# the running sum partitions BY DAY (each day sorts independently), and
# the cross-midnight state arrives as a per-day CARRY-IN = count of
# sessions spanning the day boundary, computed by exploding each
# session into the days it crosses (bounded by session length, ~1–2
# days at a 30-min gap).  peak(day) = carry_in + max(running, 0) —
# all integer-exact.  Tie order at equal timestamps is (+1 before -1,
# then user_id): a session [T, T] counts at T and boundary-touching
# sessions overlap — the inclusive convention, identical in both
# engines.
# ---------------------------------------------------------------------------

_R27_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, min(ts) AS st, max(ts) AS en
  FROM (SELECT user_id, event_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
  GROUP BY user_id, sid
), deltas AS (
  SELECT user_id, st AS ts, 1 AS delta FROM sess
  UNION ALL
  SELECT user_id, en AS ts, -1 AS delta FROM sess
), swept AS (
  SELECT date_trunc('day', ts) AS day,
         sum(delta) OVER (PARTITION BY date_trunc('day', ts)
                          ORDER BY ts, delta DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM deltas
), mx AS (
  SELECT day, max(running)::BIGINT AS max_running FROM swept GROUP BY day
), carry AS (
  SELECT u.d AS day, count(*)::BIGINT AS carry_in
  FROM sess, UNNEST(generate_series(
         date_trunc('day', st) + INTERVAL 1 DAY,
         date_trunc('day', en), INTERVAL 1 DAY)) AS u(d)
  GROUP BY u.d
)
SELECT coalesce(mx.day, carry.day) AS day,
       coalesce(carry_in, 0)::BIGINT AS carry_in,
       (coalesce(carry_in, 0)
        + greatest(coalesce(max_running, 0), 0))::BIGINT
         AS peak_concurrent
FROM mx FULL OUTER JOIN carry ON mx.day = carry.day
"""


def peak_concurrency(events: DataFrame) -> DataFrame:
    """(day, carry_in, peak_concurrent): daily maximum simultaneous
    30-min-gap sessions via a day-partitioned interval sweep plus
    boundary carry-ins."""
    from bayeslite_spark.streaming.sessions import sessions_batch

    sess = sessions_batch(events).select(
        "user_id",
        F.col("session_start").alias("st"),
        F.col("session_end").alias("en"),
    )
    deltas = sess.select(
        "user_id", F.col("st").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(sess.select(
        "user_id", F.col("en").alias("ts"), F.lit(-1).alias("delta")))
    day = F.date_trunc("day", F.col("ts"))
    w = (
        Window.partitionBy(day)
        .orderBy(F.col("ts"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = deltas.select(day.alias("day"),
                          F.sum("delta").over(w).alias("running"))
    mx = swept.groupBy("day").agg(
        F.max("running").cast("long").alias("max_running"))
    carry = (
        sess.select(
            F.explode(
                # Spark's sequence() throws on start > stop (DuckDB's
                # generate_series returns empty) — guard same-day sessions
                F.when(
                    F.date_trunc("day", F.col("en"))
                    >= F.date_trunc("day", F.col("st"))
                    + F.expr("interval 1 day"),
                    F.sequence(
                        F.date_trunc("day", F.col("st"))
                        + F.expr("interval 1 day"),
                        F.date_trunc("day", F.col("en")),
                        F.expr("interval 1 day"),
                    ),
                ).otherwise(F.array().cast("array<timestamp>"))
            ).alias("day")
        )
        .groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("carry_in"))
    )
    out = mx.join(carry, "day", "full_outer")
    return out.select(
        "day",
        F.coalesce(F.col("carry_in"), F.lit(0)).cast("long").alias("carry_in"),
        (
            F.coalesce(F.col("carry_in"), F.lit(0))
            + F.greatest(F.coalesce(F.col("max_running"), F.lit(0)),
                         F.lit(0))
        ).cast("long").alias("peak_concurrent"),
    )


@register("r27_peak_concurrency", _R27_ORACLE, tags=("events", "sessions"))
def r27_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak simultaneous sessions (capacity-planning sweep).
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return peak_concurrency(e)


# ---------------------------------------------------------------------------
# r28: Mann-Kendall trend audit — for each event type's daily-volume
# series, the MK S statistic: S = sum over day pairs i<j of
# sign(n_j - n_i).  The standard nonparametric "is this metric
# drifting?" test a monitoring pipeline runs over every series; S and
# the pair counts are EXACT integers, so the oracle matches bit-for-bit
# (the normal-approximation z is display-only, rounded).
#
# Scale: the daily rollup is ONE map-combined aggregate (series length =
# days, tiny); the pair comparison self-joins the |types| x |days|
# rollup on event_type — O(days^2) per type, a few thousand rows for a
# year, nothing at any corpus size.  The raw events are touched once.
# ---------------------------------------------------------------------------

_R28_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
                  ELSE 0 END)::BIGINT AS s,
         count(*)::BIGINT AS n_pairs
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
), days AS (
  SELECT event_type, count(*)::BIGINT AS n_days FROM daily GROUP BY 1
)
SELECT p.event_type, s, n_pairs, n_days,
       round(
         CASE WHEN s > 0 THEN (s - 1) WHEN s < 0 THEN (s + 1)
              ELSE 0 END
         / sqrt(n_days * (n_days - 1) * (2 * n_days + 5) / 18.0e0),
         6) AS z_approx
FROM pairs p JOIN days d ON p.event_type = d.event_type
"""


def trend_mann_kendall(events: DataFrame) -> DataFrame:
    """(event_type, s, n_pairs, n_days, z_approx): Mann-Kendall trend
    statistic over each type's daily event-count series.  S and the
    counts are exact integers; z uses the no-ties variance formula
    with the continuity correction (display-only, rounded)."""
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select("event_type", F.col("day").alias("day_a"),
                     F.col("n").alias("n_a"))
    b = daily.select("event_type", F.col("day").alias("day_b"),
                     F.col("n").alias("n_b"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("n_b") > F.col("n_a"), 1)
                .when(F.col("n_b") < F.col("n_a"), -1)
                .otherwise(0)
            ).cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    var = (F.col("n_days") * (F.col("n_days") - 1)
           * (2 * F.col("n_days") + 5) / F.lit(18.0))
    s_corr = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    return (
        pairs.join(F.broadcast(days), "event_type")
        .select("event_type", "s", "n_pairs", "n_days",
                F.round(s_corr / F.sqrt(var), 6).alias("z_approx"))
    )


@register("r28_trend_audit", _R28_ORACLE, tags=("events", "stats"))
def r28_trend_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall drift audit over per-type daily volumes.
    """
    return trend_mann_kendall(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r33: autocorrelation audit — lag-k Pearson autocorrelation of each
# event type's daily-volume series (calendar lag: day t vs day t+k),
# for k = 1 and 7.  High lag-7 vs lag-1 flags weekly seasonality; both
# near zero says the volume is memoryless — the check run before
# anomaly thresholds are tuned.  Complements r28 (monotone trend).
#
# Scale: the daily rollup is ONE map-combined aggregate; lag pairs are
# an equi-join of the rollup with itself shifted by exactly k days
# (calendar join — day gaps drop out, matching the statistical
# definition on an irregular series); all five sufficient statistics
# are exact BIGINTs, and r = (m·Sxy − Sx·Sy) / sqrt((m·Sxx − Sx²) ·
# (m·Syy − Sy²)) touches floats only in the final sqrt/divide —
# deterministic IEEE on exact integers (the r18 variance pattern).
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def _r33_oracle() -> str:
    lags = ", ".join(f"({k})" for k in _ACF_LAGS)
    return f"""
WITH lags(lag) AS (VALUES {lags}),
daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, l.lag, a.n AS x, b.n AS y
  FROM daily a JOIN lags l ON true
  JOIN daily b
    ON a.event_type = b.event_type
   AND b.day = a.day + to_days(l.lag)
), stats AS (
  SELECT event_type, lag,
         count(*)::BIGINT AS m,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag::BIGINT AS lag, m AS n_pairs,
       (m * sxy - sx * sy)
         / sqrt((m * sxx - sx * sx) * 1.0e0 * (m * syy - sy * sy))
         AS r_acf
FROM stats WHERE (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
"""


def autocorrelation(events: DataFrame, lags: tuple = _ACF_LAGS) -> DataFrame:
    """(event_type, lag, n_pairs, r_acf): lag-k Pearson autocorrelation
    of daily counts per event type (calendar lag)."""
    spark = events.sparkSession
    lag_df = spark.createDataFrame([(int(k),) for k in lags], "lag long")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.join(F.broadcast(lag_df))
    b = daily.select("event_type", F.col("day").alias("day_b"),
                     F.col("n").alias("y"))
    pairs = a.join(
        b,
        (a.event_type == b.event_type)
        & (F.col("day_b")
           == F.col("day") + F.col("lag") * F.expr("interval 1 day")),
    ).select(a.event_type, "lag", F.col("n").alias("x"), "y")
    stats = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    varx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        stats.filter((varx > 0) & (vary > 0))
        .select("event_type", "lag", F.col("m").alias("n_pairs"),
                (num / F.sqrt(varx * F.lit(1.0) * vary)).alias("r_acf"))
    )


@register("r33_autocorrelation", _r33_oracle(), tags=("events", "stats"))
def r33_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/lag-7 autocorrelation of per-type daily volumes.
    """
    return autocorrelation(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x80: Poisson bootstrap CI — confidence intervals for per-group means
# in ONE pass over the data.  The classic resample-with-replacement
# bootstrap is undistributable (each replicate needs a global sample);
# the Poisson bootstrap replaces per-replicate sampling with an
# independent Poisson(1) WEIGHT per (row, replicate) — each replicate
# is then just a weighted mean, and all B replicates ride one scan.
#
# Scale: weights come from a deterministic hash (seeded, reproducible —
# no RNG state to coordinate across executors); the (row x B) fan-out
# is a zero-shuffle array projection (the CMS recipe) and w = 0 rows
# (36.8%) drop before the exchange; ONE map-combined groupBy
# (group, replicate) collapses to |groups| x B cells; the CI is a
# percentile over B values per group.  Rows-only by nature (float sums
# in arbitrary order + no DuckDB xxhash64); the test asserts coverage,
# width scaling, and bit-exact determinism across runs.
# ---------------------------------------------------------------------------

_BOOT_B = 100
# Poisson(1) CDF at k = 0..5 (frozen literals; k capped at 6)
_POIS_CDF = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563, 0.9994058151824183]


def bootstrap_mean_ci(df: DataFrame, value_col: str, group_col: str,
                      id_col: str, b: int = _BOOT_B,
                      alpha: float = 0.05) -> DataFrame:
    """(group, n, mean, ci_lo, ci_hi): percentile-bootstrap CI for the
    per-group mean of ``value_col`` via B Poisson(1)-weighted replicates
    keyed on a deterministic hash of (id_col, replicate)."""
    u = ((F.xxhash64(F.col(id_col), F.col("b")) % (1 << 30) + (1 << 30))
         % (1 << 30)) / F.lit(float(1 << 30))
    w = F.when(u < _POIS_CDF[0], 0)
    for k in range(1, len(_POIS_CDF)):
        w = w.when(u < _POIS_CDF[k], k)
    w = w.otherwise(len(_POIS_CDF))

    fanned = (
        df.select(group_col, value_col, id_col,
                  F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("b"))
        .select(group_col, "b", w.alias("w"), F.col(value_col).alias("x"))
        .filter(F.col("w") > 0)
    )
    # rsum/count recipe: rounding the weighted sum absorbs summation-order
    # ulps, so replicate means are identical at any partitioning AND match
    # the streaming twin's drained cells bit-for-bit
    reps = fanned.groupBy(group_col, "b").agg(
        (F.round(F.sum(F.col("w") * F.col("x")), 6) / F.sum("w"))
        .alias("mean_b"))
    ci = reps.groupBy(group_col).agg(
        F.expr(f"percentile(mean_b, {alpha / 2})").alias("ci_lo"),
        F.expr(f"percentile(mean_b, {1 - alpha / 2})").alias("ci_hi"),
    )
    base = df.groupBy(group_col).agg(
        F.count(value_col).cast("long").alias("n"),
        F.avg(value_col).alias("mean"))
    return base.join(ci, group_col).select(
        group_col, "n", "mean", "ci_lo", "ci_hi")


@register("x80_bootstrap_ci", None, tags=("events", "stats", "rows-only"))
def x80_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean(value) per event type.

    Rows-only (hash-seeded replicates, float sums); coverage/width/
    determinism asserted in tests."""
    from bayeslite_spark.workload import round_floats

    e = _t(spark, sf_dir, "events")
    return round_floats(bootstrap_mean_ci(e, "value", "event_type", "event_id"))


# ---------------------------------------------------------------------------
# r34: day-of-week seasonality index — per event type, each weekday's
# volume share vs a flat week.  The additive-decomposition companion to
# r28 (trend) and r33 (autocorrelation): index >> 1 on weekdays with
# lag-7 autocorrelation high says "weekly cycle", and the index IS the
# correction factor an anomaly threshold divides by.
#
# Scale: ONE map-combined aggregate to |types| x 7 cells; totals ride a
# window over that tiny table.  index = (n_dow * 7) / n_total — one
# division of exact BIGINTs (the *7 keeps the numerator integer).
# ---------------------------------------------------------------------------

_R34_ORACLE = """
WITH cells AS (
  SELECT event_type, dayofweek(ts::TIMESTAMP)::BIGINT AS dow,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, dow, n,
       (n * 7) * 1.0 / sum(n) OVER (PARTITION BY event_type) AS dow_index
FROM cells
"""


def dow_seasonality(events: DataFrame) -> DataFrame:
    """(event_type, dow, n, dow_index): weekday volume index per type
    (1.0 = flat week).  DuckDB dayofweek is 0=Sunday..6; Spark's
    dayofweek is 1=Sunday..7 — aligned by subtracting 1."""
    cells = events.groupBy(
        "event_type",
        (F.dayofweek(F.col("ts")) - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("event_type")
    return cells.select(
        "event_type", "dow", "n",
        ((F.col("n") * 7) * F.lit(1.0) / F.sum("n").over(tot))
        .alias("dow_index"),
    )


@register("r34_dow_seasonality", _R34_ORACLE, tags=("events", "stats"))
def r34_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index per event type.
    """
    return dow_seasonality(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r35: new vs returning users per day — THE top-line product metric.
# first-seen day per user is one min-aggregate; each (user, day) active
# pair classifies as new (day == first day) or returning.
#
# Scale: distinct (user, day) collapses the stream first (map-combined);
# first-day is a min over that table; the classify join shuffles on
# user_id ONCE (both sides already keyed on it).  All counts exact.
# ---------------------------------------------------------------------------

_R35_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP) AS day
  FROM events
), fd AS (
  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
)
SELECT strftime(ud.day, '%Y-%m-%d') AS day,
       count(*) FILTER (ud.day = fd.first_day)::BIGINT AS new_users,
       count(*) FILTER (ud.day > fd.first_day)::BIGINT AS returning_users,
       count(*)::BIGINT AS active_users
FROM ud JOIN fd ON ud.user_id = fd.user_id
GROUP BY 1
"""


def new_vs_returning(events: DataFrame) -> DataFrame:
    """(day, new_users, returning_users, active_users) from the distinct
    user-day activity table."""
    ud = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    fd = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(fd, "user_id")
    return j.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1))
        .cast("long").alias("new_users"),
        F.count(F.when(F.col("day") > F.col("first_day"), 1))
        .cast("long").alias("returning_users"),
        F.count(F.lit(1)).cast("long").alias("active_users"),
    )


@register("r35_new_vs_returning", _R35_ORACLE, tags=("events",))
def r35_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning active users.
    """
    return new_vs_returning(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r37: two-proportion z-test — the A/B-testing primitive, run here on a
# natural split: does the per-user-day purchase conversion differ
# between weekdays and weekends?  All four counts (trials/successes per
# arm) are exact integers off the distinct user-day table; the pooled
# z statistic touches floats only in the final sqrt/divide on exact
# integers (the r33 discipline), so the oracle matches bit-for-bit.
#
# Scale: ONE aggregate over events to the (user, day, converted) grain
# (map-combined conditional max), then a 2-row arm rollup; the z is
# arithmetic on 4 scalars.
# ---------------------------------------------------------------------------

_R37_ORACLE = """
WITH ud AS (
  SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1, 2
), arms AS (
  SELECT (dayofweek(day) IN (0, 6)) AS is_weekend,
         count(*)::BIGINT AS n, sum(converted)::BIGINT AS x
  FROM ud GROUP BY 1
), w AS (
  SELECT n AS n1, x AS x1 FROM arms WHERE is_weekend
), d AS (
  SELECT n AS n2, x AS x2 FROM arms WHERE NOT is_weekend
)
SELECT n1, x1, n2, x2,
       x1 * 1.0 / n1 AS p_weekend,
       x2 * 1.0 / n2 AS p_weekday,
       (x1 * n2 - x2 * n1)
         / sqrt((x1 + x2) * 1.0e0 * (n1 + n2 - x1 - x2) * n1 * n2
                / ((n1 + n2) * 1.0e0))
         AS z
FROM w CROSS JOIN d
"""


def ab_proportion_ztest(events: DataFrame) -> DataFrame:
    """(n1, x1, n2, x2, p_weekend, p_weekday, z): pooled two-proportion
    z-test of per-user-day purchase conversion, weekend vs weekday.

    Algebra note: z = (p1 - p2) / sqrt(p_pool (1 - p_pool) (1/n1 + 1/n2))
    is rearranged to (x1 n2 - x2 n1) / sqrt((x1+x2)(n1+n2-x1-x2) n1 n2
    / (n1+n2)) so the numerator is ONE exact BIGINT and the denominator
    one sqrt over products/ratio of exact integers."""
    ud = events.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)).alias("converted"))
    arms = ud.groupBy(
        F.dayofweek("day").isin(1, 7).alias("is_weekend")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"),
          F.sum("converted").cast("long").alias("x"))
    w = arms.filter(F.col("is_weekend")).select(
        F.col("n").alias("n1"), F.col("x").alias("x1"))
    d = arms.filter(~F.col("is_weekend")).select(
        F.col("n").alias("n2"), F.col("x").alias("x2"))
    num = F.col("x1") * F.col("n2") - F.col("x2") * F.col("n1")
    den = F.sqrt(
        (F.col("x1") + F.col("x2")) * F.lit(1.0)
        * (F.col("n1") + F.col("n2") - F.col("x1") - F.col("x2"))
        * F.col("n1") * F.col("n2")
        / ((F.col("n1") + F.col("n2")) * F.lit(1.0)))
    return w.join(d).select(
        "n1", "x1", "n2", "x2",
        (F.col("x1") * F.lit(1.0) / F.col("n1")).alias("p_weekend"),
        (F.col("x2") * F.lit(1.0) / F.col("n2")).alias("p_weekday"),
        (num / den).alias("z"),
    )


@register("r37_ab_proportion", _R37_ORACLE, tags=("events", "stats"))
def r37_ab_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: weekend vs weekday purchase conversion.
    """
    return ab_proportion_ztest(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r38: trimmed mean — the robust location estimate per event type: mean
# of values inside the [5th, 95th] percentile band.  The outlier-proof
# companion to q40's raw averages; a bot burst or a billing glitch moves
# the raw mean, not the trimmed one (and the GAP between them is itself
# the anomaly signal).
#
# Scale: two passes over the same map-combined grouping — percentile
# bounds per type (t-digest at 100 TB, exact here for the oracle), then
# a conditional aggregate inside the bounds.  The band test uses the
# IDENTICAL interpolated bounds in both engines (Spark percentile ==
# DuckDB quantile_cont, bit-for-bit), so membership never disagrees;
# the trimmed mean is rsum/count.
# ---------------------------------------------------------------------------

_TRIM_LO = 0.05
_TRIM_HI = 0.95

_R38_ORACLE = f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, {_TRIM_LO}) AS lo,
         quantile_cont(value, {_TRIM_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*)::BIGINT AS n,
       count(*) FILTER (value >= lo AND value <= hi)::BIGINT AS n_kept,
       round(sum(value), 4) / count(*) AS raw_mean,
       round(sum(value) FILTER (value >= lo AND value <= hi), 4)
         / count(*) FILTER (value >= lo AND value <= hi) AS trimmed_mean
FROM events e JOIN bounds b ON e.event_type = b.event_type
GROUP BY e.event_type
"""


def trimmed_mean(events: DataFrame, lo: float = _TRIM_LO,
                 hi: float = _TRIM_HI) -> DataFrame:
    """(event_type, n, n_kept, raw_mean, trimmed_mean): mean of values
    inside the [lo, hi] percentile band vs the raw mean."""
    bounds = events.groupBy("event_type").agg(
        F.expr(f"percentile(value, {lo})").alias("lo"),
        F.expr(f"percentile(value, {hi})").alias("hi"),
    )
    j = events.join(bounds, "event_type")
    inside = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(inside, 1)).cast("long").alias("n_kept"),
        (F.round(F.sum("value"), 4) / F.count(F.lit(1))).alias("raw_mean"),
        (F.round(F.sum(F.when(inside, F.col("value"))), 4)
         / F.count(F.when(inside, 1))).alias("trimmed_mean"),
    )


@register("r38_trimmed_mean", _R38_ORACLE, tags=("events", "stats"))
def r38_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (5%-trimmed) mean of event values per type.
    """
    return trimmed_mean(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r40: forecast-baseline skill — the seasonal-naive forecast (today =
# same weekday last week) scored against actuals, per event type.  The
# sanity floor every forecasting system must beat, and a drift alarm in
# its own right: a jump in seasonal-naive MAE means the weekly pattern
# broke.  Complements r28 (trend), r33 (ACF), r34 (down-of-week index).
#
# Scale: daily rollup (ONE map-combined aggregate) self-joined at
# exactly 7 calendar days (the r33 shape); errors |n_t − n_{t−7}| are
# exact integers, so MAE and bias are int-sum/count — bit-identical.
# ---------------------------------------------------------------------------

_R40_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.n AS actual, b.n AS forecast
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day = b.day + to_days(7)
)
SELECT event_type,
       count(*)::BIGINT AS n_days,
       sum(abs(actual - forecast))::BIGINT * 1.0 / count(*) AS mae,
       sum(actual - forecast)::BIGINT * 1.0 / count(*) AS bias
FROM pairs GROUP BY event_type
"""


def forecast_baseline_skill(events: DataFrame) -> DataFrame:
    """(event_type, n_days, mae, bias): seasonal-naive (lag-7) forecast
    error over daily volumes — all integer-exact sums over counts."""
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(F.col("event_type").alias("et_a"), "day",
                     F.col("n").alias("actual"))
    b = daily.select(F.col("event_type").alias("et_b"),
                     F.col("day").alias("day_b"),
                     F.col("n").alias("forecast"))
    pairs = a.join(
        b,
        (F.col("et_a") == F.col("et_b"))
        & (F.col("day") == F.col("day_b") + F.expr("interval 7 days")),
    ).select(F.col("et_a").alias("event_type"), "actual", "forecast")
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("long")
         * F.lit(1.0) / F.count(F.lit(1))).alias("mae"),
        (F.sum(F.col("actual") - F.col("forecast")).cast("long")
         * F.lit(1.0) / F.count(F.lit(1))).alias("bias"),
    )


@register("r40_forecast_baseline", _R40_ORACLE, tags=("events", "stats"))
def r40_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast error per event type.
    """
    return forecast_baseline_skill(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r42: changepoint detection (CUSUM) — for each event type's daily
# series, the day where the cumulative deviation from the overall mean
# peaks: argmax_t |sum_{i<=t} n_i·D − t·N| where D = #days and N =
# total events (the mean-centered CUSUM scaled by D so EVERYTHING stays
# an exact BIGINT — no float enters the argmax).  Closes the monitoring
# suite: r28 says IF the series drifts, r42 says WHEN it broke.
#
# Scale: the daily rollup is ONE map-combined aggregate; the running
# sum and the argmax are windows over the |types| x |days| table,
# partitioned by type — never a global sort, never the raw events.
# The normalized peak statistic is one division of exact BIGINTs.
# ---------------------------------------------------------------------------

_R42_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, count(*)::BIGINT AS d, sum(n)::BIGINT AS total
  FROM daily GROUP BY event_type
), cusum AS (
  SELECT daily.event_type, day,
         (sum(n) OVER (PARTITION BY daily.event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) * d
          - row_number() OVER (PARTITION BY daily.event_type ORDER BY day)
            * total)::BIGINT AS s,
         d, total
  FROM daily JOIN tot ON daily.event_type = tot.event_type
), ranked AS (
  SELECT event_type, day, s, d, total,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(s) DESC, day) AS rk
  FROM cusum
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
       s AS peak_cusum_scaled,
       abs(s) * 1.0 / (d * total) AS peak_normalized
FROM ranked WHERE rk = 1
"""


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """(event_type, change_day, peak_cusum_scaled, peak_normalized):
    the argmax-|CUSUM| day per type, all-integer until the final
    normalization division."""
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """CUSUM peak from a (event_type, day, n) daily rollup — the shared
    core of batch r42 and the streaming changepoint twin (the stream
    maintains the rollup as its ONE stateful aggregation; this argmax
    runs downstream over the settled |types| x |days| table, so batch
    and live paths cannot diverge by construction)."""
    # disambiguated key for the self-derived join: a memory-sink view as
    # input otherwise trips "Conflicting attributes" in the analyzer
    tot = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("n").cast("long").alias("total"))
    wrun = (Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0))
    wrow = Window.partitionBy("event_type").orderBy("day")
    cusum = (
        daily.join(F.broadcast(tot), F.col("event_type") == F.col("et"))
        .select(
            "event_type", "day", "d", "total",
            (F.sum("n").over(wrun) * F.col("d")
             - F.row_number().over(wrow) * F.col("total"))
            .cast("long").alias("s"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs("s").desc(),
                                                  F.asc("day"))
    return (
        cusum.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.col("s").alias("peak_cusum_scaled"),
            (F.abs("s") * F.lit(1.0) / (F.col("d") * F.col("total")))
            .alias("peak_normalized"),
        )
    )


@register("r42_changepoint", _R42_ORACLE, tags=("events", "stats"))
def r42_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint day per event type (integer-exact argmax).
    """
    return cusum_changepoint(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r44: Theil-Sen robust trend slope per event type — the companion to
# r28 (Mann-Kendall says IF the daily series drifts, r42 says WHEN it
# broke, Theil-Sen says HOW FAST): the median of all pairwise
# day-to-day slopes, insensitive to outlier days (launch spikes,
# outage holes) that wreck an OLS slope.
#
# Scale: the pairwise join runs on the DAILY ROLLUP, never the raw
# events — |days|^2 per type (~400 rows per type per month) after one
# map-combined aggregate.  Slopes are exact integer ratios; the median
# interpolates on them identically in Spark (percentile) and DuckDB
# (quantile_cont) per the established float recipe.  At a multi-year
# horizon swap percentile for approx_percentile — same plan shape.
# ---------------------------------------------------------------------------

_R44_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), slopes AS (
  SELECT a.event_type,
         (b.n - a.n) * 1.0e0 / date_diff('day', a.day, b.day) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
)
SELECT s.event_type,
       d.n_days,
       count(*)::BIGINT AS n_pairs,
       round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
FROM slopes s
JOIN (SELECT event_type, count(*)::BIGINT AS n_days
      FROM daily GROUP BY 1) d
  ON s.event_type = d.event_type
GROUP BY 1, 2
"""


def theil_sen_slope(events: DataFrame) -> DataFrame:
    """(event_type, n_days, n_pairs, theil_sen_slope): median pairwise
    slope of the daily event-count series per type."""
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(F.col("event_type").alias("et"),
                     F.col("day").alias("day_a"), F.col("n").alias("n_a"))
    b = daily.select(F.col("event_type").alias("et"),
                     F.col("day").alias("day_b"), F.col("n").alias("n_b"))
    slopes = a.join(b, "et").filter(F.col("day_a") < F.col("day_b")).select(
        F.col("et").alias("event_type"),
        ((F.col("n_b") - F.col("n_a")) * F.lit(1.0)
         / F.datediff("day_b", "day_a")).alias("slope"),
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        slopes.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.round(F.expr("percentile(slope, 0.5)"), 6)
             .alias("theil_sen_slope"))
        .join(F.broadcast(days), "event_type")
        .select("event_type", "n_days", "n_pairs", "theil_sen_slope")
    )


@register("r44_theil_sen", _R44_ORACLE, tags=("events", "stats"))
def r44_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-trend slope per event type (median pairwise slope)."""
    return theil_sen_slope(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r49: audience overlap from KMV sketch SET OPERATIONS — for every pair
# of event types, the estimated Jaccard, union, and intersection of
# their distinct-user sets computed ONLY from the r04 bottom-k sketches
# (Beyer et al.'s K-minimum-values estimator: take the bottom-k of the
# two sketches' union; Jaccard ≈ fraction of those present in BOTH
# sketches; intersection ≈ Jaccard x union estimate).  This is the
# query HLL cannot answer (HLL has no intersection) and the reason a
# 100 TB pipeline keeps KMV beside it: audience overlap across
# segments without ever rescanning the stream.
#
# Deterministic by construction (md5 hashing, no RNG), so unlike most
# sketches it is EXACTLY oracle-able.  Scale: sketches are k rows per
# type (WindowGroupLimit truncation); the pair computation touches only
# |types|^2/2 x 2k sketch rows — independent of stream length.
# ---------------------------------------------------------------------------

_R49_ORACLE = f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT
           / {_HEX_SCALE} AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM uh
),
sk AS (SELECT event_type, h FROM ranked WHERE rn <= {KMV_D_K}),
types AS (SELECT DISTINCT event_type FROM sk),
tp AS (SELECT a.event_type AS t0, b.event_type AS t1
       FROM types a JOIN types b ON a.event_type < b.event_type),
uni AS (
  SELECT tp.t0, tp.t1, s.h,
         max(CASE WHEN s.event_type = tp.t0 THEN 1 ELSE 0 END) AS in0,
         max(CASE WHEN s.event_type = tp.t1 THEN 1 ELSE 0 END) AS in1
  FROM tp JOIN sk s ON s.event_type IN (tp.t0, tp.t1)
  GROUP BY 1, 2, 3
),
runi AS (
  SELECT t0, t1, h, in0, in1,
         row_number() OVER (PARTITION BY t0, t1 ORDER BY h) AS rn
  FROM uni
),
kuni AS (SELECT * FROM runi WHERE rn <= {KMV_D_K})
SELECT t0, t1,
       count(*)::BIGINT AS k_union,
       sum(in0 * in1)::BIGINT AS k_both,
       sum(in0 * in1) * 1.0 / count(*) AS jaccard_est,
       CASE WHEN count(*) >= {KMV_D_K}
            THEN ({KMV_D_K} - 1)
                 / max(CASE WHEN rn = {KMV_D_K} THEN h END)
            ELSE count(*) * 1.0 END AS union_est,
       (sum(in0 * in1) * 1.0 / count(*))
         * (CASE WHEN count(*) >= {KMV_D_K}
                 THEN ({KMV_D_K} - 1)
                      / max(CASE WHEN rn = {KMV_D_K} THEN h END)
                 ELSE count(*) * 1.0 END) AS inter_est
FROM kuni GROUP BY t0, t1
"""


def kmv_audience_overlap(df: DataFrame, group_col: str, id_col: str,
                         k: int = KMV_D_K) -> DataFrame:
    """(t0, t1, k_union, k_both, jaccard_est, union_est, inter_est):
    pairwise distinct-id overlap estimates from per-group KMV sketches."""
    uh = df.select(
        group_col,
        (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13),
                16, 10).cast("double") / _HEX_SCALE).alias("h"),
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    sk = (uh.select(group_col, "h", F.row_number().over(w).alias("rn"))
          .filter(F.col("rn") <= k)
          .select(F.col(group_col).alias("t"), "h"))
    return overlap_from_sketches(sk, k)


def overlap_from_sketches(sk: DataFrame, k: int = KMV_D_K) -> DataFrame:
    """Pairwise overlap estimates from a prebuilt (t, h) sketch table —
    shared by batch r49 and the streaming KMV sketch (the stream drains
    its bottom-k state into exactly this shape, so live audience
    overlap is the same plan over the same bits)."""
    sk = sk.localCheckpoint(eager=True)    # sketch table: tiny, read 3x
    types = sk.select(F.col("t").alias("ty")).distinct()
    tp = (types.select(F.col("ty").alias("t0"))
          .join(types.select(F.col("ty").alias("t1")),
                F.col("t0") < F.col("t1")))
    uni = (
        tp.join(sk, (F.col("t") == F.col("t0")) | (F.col("t") == F.col("t1")))
        .groupBy("t0", "t1", "h")
        .agg(F.max(F.when(F.col("t") == F.col("t0"), 1).otherwise(0))
             .alias("in0"),
             F.max(F.when(F.col("t") == F.col("t1"), 1).otherwise(0))
             .alias("in1"))
    )
    wu = Window.partitionBy("t0", "t1").orderBy("h")
    kuni = (uni.select("t0", "t1", "h", "in0", "in1",
                       F.row_number().over(wu).alias("rn"))
            .filter(F.col("rn") <= k))
    jacc = F.sum(F.col("in0") * F.col("in1")) * F.lit(1.0) / F.count(F.lit(1))
    uest = F.when(
        F.count(F.lit(1)) >= k,
        F.lit(k - 1) / F.max(F.when(F.col("rn") == k, F.col("h"))),
    ).otherwise(F.count(F.lit(1)) * F.lit(1.0))
    return kuni.groupBy("t0", "t1").agg(
        F.count(F.lit(1)).cast("long").alias("k_union"),
        F.sum(F.col("in0") * F.col("in1")).cast("long").alias("k_both"),
        jacc.alias("jaccard_est"),
        uest.alias("union_est"),
        (jacc * uest).alias("inter_est"),
    )


@register("r49_audience_overlap", _R49_ORACLE, tags=("events", "sketch"))
def r49_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type audience overlap from KMV sketch set ops."""
    return kmv_audience_overlap(_t(spark, sf_dir, "events"),
                                "event_type", "user_id")


# ---------------------------------------------------------------------------
# r50: hypertable rollup pyramid — the continuous-aggregate chain a
# time-series store (TimescaleDB-style) maintains: hour partials roll
# into days, days into months, WITHOUT rescanning raw events.  Sums
# and counts are algebraic, so sum-of-sums is exact; the avg at every
# level is derived from the rolled-up (rsum, count) pair, never
# averaged-of-averages.  The registered query emits the MONTH level
# computed THROUGH the pyramid and hash-matches a DuckDB oracle that
# aggregates raw events directly — an independent-engine proof that
# the partial-reuse chain loses nothing.
#
# Scale: raw events are touched ONCE (the hour rollup); each further
# level aggregates the previous level's |buckets| rows (~744 hours ->
# 31 days -> 1 month per month of data).  This is the backfill path of
# the streaming hourly twin: hour partials from the stream feed the
# same day/month chain.
# ---------------------------------------------------------------------------

_R50_ORACLE = """
SELECT event_type,
       strftime(date_trunc('month', ts::TIMESTAMP), '%Y-%m') AS month,
       count(*)::BIGINT AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS total_value,
       round(sum(value), 4) / count(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def rollup_pyramid(events: DataFrame):
    """(hour_df, day_df, month_df): each level computed from the
    previous level's partials. Carried partials: n (count) and sv
    (value sum, rounded only at the final emit)."""
    hour = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"),
          F.sum("value").alias("sv"))
    day = hour.groupBy(
        "event_type", F.date_trunc("day", F.col("bucket")).alias("bucket")
    ).agg(F.sum("n").cast("long").alias("n"), F.sum("sv").alias("sv"))
    month = day.groupBy(
        "event_type", F.date_trunc("month", F.col("bucket")).alias("bucket")
    ).agg(F.sum("n").cast("long").alias("n"), F.sum("sv").alias("sv"))
    return hour, day, month


@register("r50_rollup_pyramid", _R50_ORACLE, tags=("events", "temporal"))
def r50_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-level continuous aggregate computed hour -> day -> month
    from partials; oracle aggregates raw events directly."""
    _, _, month = rollup_pyramid(_t(spark, sf_dir, "events"))
    # float discipline: the double sum is ORDER-SENSITIVE in the last
    # ulp, and the pyramid sums in a different order than the oracle's
    # direct pass — round the total at emit (absorbs summation-order
    # noise) and derive avg from the rounded sum (the rsum/count recipe)
    return month.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM").alias("month"),
        F.col("n").alias("n_events"),
        F.round("sv", 4).alias("total_value"),
        (F.round("sv", 4) / F.col("n")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# r55: robust (median/MAD) daily-volume anomaly audit — the outlier
# check that survives the outliers it hunts: q25's z-score uses
# mean/stddev, which a single crazy day inflates until nothing else
# looks anomalous (masking); the median and the median-absolute-
# deviation have a 50% breakdown point, so a corrupted ingest day
# cannot hide itself.  Completes the volume-monitoring trio: z-score
# (q25, parametric), CUSUM (r42, level shifts), MAD (this, spikes under
# contamination).
#
# Scale: ONE map-combined groupBy over the raw events compresses to the
# |types| x |days| daily table; the medians run over THAT (bounded by
# the calendar, not the event count), with |types|-row broadcast joins
# to attach them.  Float discipline: daily counts are exact BIGINTs, so
# median/MAD are (int+int)/2 at worst and every derived column is
# fixed-order IEEE on exact values (the lint's int/int pattern) — no
# rounding needed, bit-identical across engines.  MAD=0 degenerate
# groups (constant series) fall back to a 0.5-count tolerance so an
# all-identical history still flags any change.
# ---------------------------------------------------------------------------

_R55_ORACLE = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, median(n) AS med FROM daily GROUP BY 1
), dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       count(*)::BIGINT AS n_days,
       any_value(d.med) AS med,
       any_value(m.mad) AS mad,
       sum(CASE WHEN d.adev > 3 * greatest(m.mad, 0.5) THEN 1 ELSE 0
           END)::BIGINT AS n_anomalies,
       max(d.adev) AS max_abs_dev
FROM dev d JOIN mad m USING (event_type)
GROUP BY 1
"""


def mad_anomaly_audit(daily: DataFrame, group_col: str = "event_type",
                      value_col: str = "n", k: float = 3.0) -> DataFrame:
    """(group, n_days, med, mad, n_anomalies, max_abs_dev): robust
    outlier summary of a per-group integer series (one row per
    group/period in ``daily``)."""
    # no broadcast hints: med/mad are one row per GROUP — bounded for
    # event types, but this function is generic and a per-user caller
    # would OOM a forced broadcast (the r3-verdict lesson); AQE
    # broadcasts them by measured size when they are actually small
    med = daily.groupBy(group_col).agg(F.median(value_col).alias("med"))
    dev = daily.join(med, group_col).withColumn(
        "adev", F.abs(F.col(value_col) - F.col("med")))
    mad = dev.groupBy(group_col).agg(F.median("adev").alias("mad"))
    return (
        dev.join(mad, group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.sum(
                (F.col("adev")
                 > F.lit(k) * F.greatest("mad", F.lit(0.5))).cast("long")
            ).cast("long").alias("n_anomalies"),
            F.max("adev").alias("max_abs_dev"),
        )
    )


@register("r55_mad_anomaly", _R55_ORACLE, tags=("events", "stats", "quality"))
def r55_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly audit over daily event volumes per type.
    """
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return mad_anomaly_audit(daily)


# ---------------------------------------------------------------------------
# x86: Kaplan-Meier survival curve over user lifetimes — the censoring-
# correct answer to "how long do users stay?".  Naive churn averages
# are biased by exactly the users you care about (the still-active ones
# have no churn date yet); KM handles them as right-censored: they
# count in the at-risk denominator up to their observed lifetime, never
# as deaths.  r81's retention cohorts show survival by calendar cohort;
# this is the pooled lifetime distribution with confidence-free
# estimates a PM can read off directly ("median lifetime", "S(14d)").
#
# Scale: ONE map-combined per-user aggregate (the only data-sized
# shuffle) compresses events to |users| lifetime rows; those compress
# again to |distinct durations| rows (bounded by the calendar span),
# over which the at-risk counts are a cumulative window and the product
# is exp(cumsum(ln)) — metadata-sized.  Iterative-product float by
# nature -> rows-only; exact parity vs a pure-Python KM in tests.
# ---------------------------------------------------------------------------


def km_survival(lifetimes: DataFrame) -> DataFrame:
    """(duration, n_risk, n_churned, n_censored, survival): Kaplan-Meier
    estimate from (duration BIGINT, churned 0/1) rows, one per subject.

    Output has one row per distinct observed duration (event or
    censoring time); ``survival`` is S(t) AFTER the deaths at t."""
    per_t = lifetimes.groupBy("duration").agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum("churned").cast("long").alias("n_churned"),
    ).withColumn("n_censored", (F.col("n_at") - F.col("n_churned"))
                 .cast("long"))
    w_ge = (Window.orderBy(F.desc("duration"))
            .rowsBetween(Window.unboundedPreceding, 0))
    w_le = (Window.orderBy(F.asc("duration"))
            .rowsBetween(Window.unboundedPreceding, 0))
    with_risk = per_t.withColumn(
        "n_risk", F.sum("n_at").over(w_ge).cast("long"))
    return (
        with_risk.withColumn(
            "survival",
            F.round(
                F.exp(F.sum(
                    F.log(1.0 - F.col("n_churned") / F.col("n_risk"))
                ).over(w_le)), 6),
        )
        .select("duration", "n_risk", "n_churned", "n_censored", "survival")
    )


def user_lifetimes(events: DataFrame) -> DataFrame:
    """(user_id, duration, churned) from an event log: duration is the
    observed active span in days; a user still active on the study's
    final day is right-censored."""
    spans = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    end = events.agg(F.max(F.col("ts").cast("date")).alias("study_end"))
    return (
        spans.join(F.broadcast(end))
        .select(
            "user_id",
            F.datediff("d1", "d0").cast("long").alias("duration"),
            (F.col("d1") < F.col("study_end")).cast("long").alias("churned"),
        )
    )


@register("x86_survival_curve", None, tags=("events", "stats", "rows-only"),
          plan_allow={"global_window": (
              "KM windows run over the distinct-duration grain (day "
              "counts, bounded by the calendar span — the per-user table "
              "is already compressed away by the groupBy)")})
def x86_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-lifetime curve over the events table (right-
    censored at the study end).

    Rows-only (cumulative float product); pure-Python KM parity in
    tests/test_operators.py::test_km_survival_matches_reference."""
    return km_survival(user_lifetimes(_t(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# r60: deterministic fixed-size uniform sample per group — bottom-k by
# hash.  q18's stratified sample is FRACTION-based (grows with the
# data); a monitoring/labeling budget wants exactly k ids per group,
# stable across reruns, engines, partitionings, and incremental
# arrivals (a new day's data can only replace entries, never reshuffle
# the survivors' order).  Ordering distinct ids by md5(id) IS a uniform
# draw, and bottom-k of a union = merge of bottom-ks — the property the
# streaming twin exploits as O(k) state per group.
#
# Scale: DISTINCT (group, id) is one map-combined shuffle; the bottom-k
# is a windowed row_number per group that Spark executes as
# WindowGroupLimit (per-partition top-k partial, then merge) — never a
# full sort of the distinct table.  Exactly oracle-able (md5 hex is
# engine-independent).
# ---------------------------------------------------------------------------

HASH_SAMPLE_K = 8

_R60_ORACLE = f"""
SELECT event_type, user_id, rk FROM (
  SELECT event_type, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(user_id AS VARCHAR)), user_id
         )::BIGINT AS rk
  FROM (SELECT DISTINCT event_type, user_id FROM events)
) t WHERE rk <= {HASH_SAMPLE_K}
"""


def hash_sample(df: DataFrame, group_col: str, id_col: str,
                k: int = HASH_SAMPLE_K) -> DataFrame:
    """(group, id, rk): the k distinct ids with the smallest md5(id)
    per group — a deterministic uniform sample."""
    distinct = df.select(group_col, id_col).distinct()
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        distinct.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


@register("r60_hash_sample", _R60_ORACLE, tags=("events", "sampling"))
def r60_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k-by-hash user sample per event type.
    """
    return hash_sample(_t(spark, sf_dir, "events"), "event_type", "user_id")


# ---------------------------------------------------------------------------
# r62: time-weighted average value (TWAP) — the metric that is correct
# when samples arrive IRREGULARLY: a sensor/price/queue-depth reading
# holds until the next one, so a plain avg over readings over-weights
# bursts exactly when they matter least.  Each day's last reading holds
# until midnight, so days compose without gaps or overlaps.
#
# Scale: ONE shuffle on (event_type, day) and one lead() frame inside
# it; the weighted sums are exact integers (cents x whole seconds), so
# the final ratio is the lint's int/int pattern — hash-exact with no
# rounding.  Parallelism is |types| x |days| partitions.
# ---------------------------------------------------------------------------

_R62_ORACLE = """
WITH seq AS (
  SELECT event_type, ts::DATE AS day,
         CAST(round(value * 100) AS BIGINT) AS cents,
         (epoch_us(ts::TIMESTAMP) // 1000000) AS sec,
         lead(epoch_us(ts::TIMESTAMP) // 1000000)
           OVER (PARTITION BY event_type, ts::DATE
                 ORDER BY ts, event_id) AS nxt
  FROM events
), w AS (
  SELECT event_type, day, cents,
         coalesce(nxt, epoch_us((day + INTERVAL 1 DAY)::TIMESTAMP)
                         // 1000000) - sec AS dur_s
  FROM seq
)
SELECT event_type, day,
       count(*)::BIGINT AS n_readings,
       sum(dur_s)::BIGINT AS covered_s,
       sum(cents * dur_s)::BIGINT AS weighted_cents,
       sum(cents * dur_s) * 1.0 / sum(dur_s) / 100.0 AS twap
FROM w GROUP BY event_type, day
"""


def twap(events: DataFrame, group_col: str = "event_type",
         value_col: str = "value") -> DataFrame:
    """(group, day, n_readings, covered_s, weighted_cents, twap):
    hold-until-next time-weighted daily average of ``value_col``."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    day = F.col("ts").cast("date")
    sec = F.unix_timestamp("ts")
    w = Window.partitionBy(group_col, "day").orderBy("ts", "event_id")
    seq = events.select(
        group_col, day.alias("day"), cents.alias("cents"),
        sec.alias("sec"), "ts", "event_id",
    ).withColumn("nxt", F.lead("sec").over(w))
    midnight = F.unix_timestamp(
        F.date_add(F.col("day"), 1).cast("timestamp"))
    dur = (F.coalesce(F.col("nxt"), midnight) - F.col("sec")).alias("dur_s")
    return (
        seq.select(group_col, "day", "cents", dur)
        .groupBy(group_col, "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_readings"),
            F.sum("dur_s").cast("long").alias("covered_s"),
            F.sum(F.col("cents") * F.col("dur_s")).cast("long")
            .alias("weighted_cents"),
            (F.sum(F.col("cents") * F.col("dur_s")) * F.lit(1.0)
             / F.sum("dur_s") / F.lit(100.0)).alias("twap"),
        )
    )


@register("r62_twap", _R62_ORACLE, tags=("events", "temporal", "window"))
def r62_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average event value per type (hold-until-next
    weighting, last reading holds to midnight).
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return twap(e)


# ---------------------------------------------------------------------------
# r63: journey prefixes — the top opening event-type sequences per
# user-day.  r21's transition matrix is memoryless (pairs); the length-3
# prefix keeps sequence CONTEXT: "view>signup" vs "error>signup" are
# the same transition count but opposite product stories.  The standard
# first cut of path analysis before anything sequence-model-shaped.
#
# Scale: ONE shuffle on (user, day); the ordered per-group list builds
# via collect_list + array_sort on (ts, event_id, type) structs —
# map-side combinable and bounded by the per-user-day event count (a
# session-scale constant, never corpus-scale); the prefix slice and the
# final path count are metadata-sized.  Deterministic tie-break
# (ts, event_id) makes the paths engine-exact.
# ---------------------------------------------------------------------------

_R63_PREFIX = 3
_R63_TOPK = 25

_R63_ORACLE = f"""
WITH j AS (
  SELECT user_id, ts::DATE AS day,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{_R63_PREFIX}],
           '>') AS path,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY user_id, ts::DATE
)
SELECT path, count(*)::BIGINT AS n_user_days,
       sum(n_events)::BIGINT AS n_events
FROM j GROUP BY path
ORDER BY n_user_days DESC, path LIMIT {_R63_TOPK}
"""


def journey_prefixes(events: DataFrame, prefix: int = _R63_PREFIX,
                     topk: int = _R63_TOPK) -> DataFrame:
    """(path, n_user_days, n_events): the ``topk`` most common opening
    event-type sequences (length <= ``prefix``) per user-day."""
    per_day = (
        events.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))).alias("seq"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.array_join(
                F.slice(F.transform("seq", lambda s: s["event_type"]),
                        1, prefix), ">").alias("path"),
            "n_events",
        )
    )
    return (
        per_day.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_user_days"),
             F.sum("n_events").cast("long").alias("n_events"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(topk)
    )


@register("r63_journey_prefixes", _R63_ORACLE, tags=("events", "pipeline"))
def r63_journey_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top opening event-type paths per user-day (length-3 prefixes).
    """
    e = _t(spark, sf_dir, "events")
    from bayeslite_spark.streaming.sessions import require_utc_session

    require_utc_session(e)
    return journey_prefixes(e)


# ---------------------------------------------------------------------------
# r64: cohort LTV curve — cumulative value per user by signup cohort
# and week offset.  q81's retention cohorts count WHO comes back; LTV
# weights them by what they're worth, which is the number acquisition
# spend is actually justified against.  Week arithmetic is explicit
# integer (epoch_days // 7) so both engines bucket identically
# (ISO-week and boundary-counting datediff semantics disagree at
# edges).
#
# Scale: per-user first-week is one map-combined agg; the fact rows
# join to it on user_id (the r59 salting target if a user is hot); the
# LTV table is |cohorts| x |offsets| — calendar-bounded — and the
# cumulative sum is a window over THAT.  Exact integer cents end to
# end; ltv_per_user is the int/int lint pattern.
# ---------------------------------------------------------------------------

_R64_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min((ts::DATE - DATE '1970-01-01') // 7)::BIGINT AS w0
  FROM events GROUP BY user_id
), sizes AS (
  SELECT w0, count(*)::BIGINT AS cohort_users FROM firsts GROUP BY w0
), cells AS (
  SELECT f.w0,
         ((e.ts::DATE - DATE '1970-01-01') // 7 - f.w0)::BIGINT AS offset_w,
         count(DISTINCT e.user_id)::BIGINT AS active_users,
         sum(CAST(round(e.value * 100) AS BIGINT))::BIGINT AS cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT c.w0 AS cohort_week, c.offset_w, s.cohort_users, c.active_users,
       sum(c.cents) OVER (PARTITION BY c.w0 ORDER BY c.offset_w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          )::BIGINT AS cum_cents,
       sum(c.cents) OVER (PARTITION BY c.w0 ORDER BY c.offset_w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * 1.0 / s.cohort_users / 100.0 AS ltv_per_user
FROM cells c JOIN sizes s ON c.w0 = s.w0
"""


def cohort_ltv(events: DataFrame) -> DataFrame:
    """(cohort_week, offset_w, cohort_users, active_users, cum_cents,
    ltv_per_user): cumulative per-user value by signup cohort week
    (epoch-week index — timezone-free exact integers)."""
    wk = (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")
                     .cast("date")) / 7).cast("long")
    firsts = events.groupBy("user_id").agg(F.min(wk).alias("w0"))
    sizes = firsts.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users"))
    cents = F.round(F.col("value") * 100).cast("long")
    cells = (
        events.select("user_id", wk.alias("w"), cents.alias("cents"))
        .join(firsts, "user_id")
        .groupBy("w0", (F.col("w") - F.col("w0")).cast("long")
                 .alias("offset_w"))
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"),
             F.sum("cents").cast("long").alias("cents"))
    )
    w = (Window.partitionBy("w0").orderBy("offset_w")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        cells.join(F.broadcast(sizes), "w0")
        .withColumn("cum_cents", F.sum("cents").over(w).cast("long"))
        .select(
            F.col("w0").alias("cohort_week"), "offset_w", "cohort_users",
            "active_users", "cum_cents",
            (F.col("cum_cents") * F.lit(1.0) / F.col("cohort_users")
             / F.lit(100.0)).alias("ltv_per_user"),
        )
    )


@register("r64_cohort_ltv", _R64_ORACLE, tags=("events", "window", "stats"))
def r64_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per user by signup cohort week.
    """
    return cohort_ltv(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# x92: weighted sampling without replacement — Efraimidis-Spirakis
# exponential keys: item i wins a slot iff -ln(u_i)/w_i is among the k
# smallest, which makes inclusion odds proportional to weight.  The
# data-mixing primitive: "select k documents per source, biased toward
# quality" without materializing per-weight strata.  The uniform u_i is
# md5-derived from (id, salt) — deterministic across engines,
# partitionings, and reruns; vary ``salt`` for fresh draws.
#
# Scale: one narrow key projection + the same WindowGroupLimit per-group
# top-k as r60 (per-partition heaps, never a full per-group sort).
# Rows-only (ln/pow float keys); proportionality + determinism tested.
# ---------------------------------------------------------------------------

_W_SAMPLE_SCALE = float(16 ** 13)


def weighted_hash_sample(df: DataFrame, group_col: str, id_col: str,
                         weight_col: str, k: int,
                         salt: int = 0) -> DataFrame:
    """(group, id, weight, rk): k items per group, inclusion odds
    proportional to ``weight_col`` (must be > 0), deterministic given
    ``salt``."""
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(
            "#", F.col(id_col).cast("string"), F.lit(str(salt)))), 1, 13),
            16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(_W_SAMPLE_SCALE)
    key = -F.log(u) / F.col(weight_col)
    w = Window.partitionBy(group_col).orderBy(
        key.asc(), F.col(id_col).asc())
    return (
        df.select(group_col, id_col, weight_col)
        .filter(F.col(weight_col) > 0)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


@register("x92_weighted_sample", None,
          tags=("events", "sampling", "rows-only"))
def x92_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted sample of 5 events per type (Efraimidis-Spirakis
    exponential keys over md5 uniforms).

    Rows-only (float ln/pow keys); proportionality and partitioning
    determinism in tests/test_operators.py."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    return weighted_hash_sample(e, "event_type", "event_id", "value", 5)


# ---------------------------------------------------------------------------
# x94: Holt-Winters (additive, weekly season) per-series forecast — the
# capacity-planning / anomaly-baseline primitive on top of the trend
# (r28) and seasonality (r34) audits: level + trend + 7-day seasonal
# state smoothed over each event type's daily count series, then an
# h-day-ahead forecast.
#
# Distributed shape: the smoothing recursion is inherently sequential
# IN TIME but embarrassingly parallel ACROSS SERIES — and each series
# is CALENDAR-BOUNDED (days in range, not data volume), so
# groupBy(series).applyInPandas is the honest 100 TB plan: a million
# event types = a million tiny independent recursions; the daily-count
# aggregate before it is ONE map-combined groupBy that reduces the data
# volume to |series| x |days| cells.  Rows-only (recursive float state;
# no SQL oracle) — exact parity vs a pure-Python reference in tests.
# ---------------------------------------------------------------------------

HW_ALPHA, HW_BETA, HW_GAMMA = 0.3, 0.1, 0.2
HW_PERIOD = 7
HW_HORIZON = 7


def holt_winters_py(xs: list[float], period: int = HW_PERIOD,
                    horizon: int = HW_HORIZON,
                    alpha: float = HW_ALPHA, beta: float = HW_BETA,
                    gamma: float = HW_GAMMA):
    """Pure-Python additive Holt-Winters (the test reference and the
    exact math the Arrow kernel runs): classic init (level = mean of
    season 1; trend = mean season-over-season step; seasonals = season-1
    residuals), then the standard recursions. Returns (level, trend,
    forecasts[horizon])."""
    m = period
    if len(xs) < 2 * m:
        raise ValueError(f"need >= {2 * m} points, got {len(xs)}")
    mean1 = sum(xs[:m]) / m
    mean2 = sum(xs[m:2 * m]) / m
    level, trend = mean1, (mean2 - mean1) / m
    season = [xs[i] - mean1 for i in range(m)]
    for t, x in enumerate(xs[m:], start=m):
        s = season[t % m]
        new_level = alpha * (x - s) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        season[t % m] = gamma * (x - new_level) + (1 - gamma) * s
        level = new_level
    n = len(xs)
    fc = [level + (h + 1) * trend + season[(n + h) % m]
          for h in range(horizon)]
    return level, trend, fc


def holt_winters_forecast(events: DataFrame, period: int = HW_PERIOD,
                          horizon: int = HW_HORIZON) -> DataFrame:
    """(event_type, level, trend, day_ahead, forecast): additive
    Holt-Winters per event type over its daily count series."""
    import pandas as real_pd

    daily = (events
             .groupBy("event_type",
                      F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))

    def fit(key: tuple, pdf: real_pd.DataFrame) -> real_pd.DataFrame:
        pdf = pdf.sort_values("day")
        xs = [float(v) for v in pdf["n"]]
        try:
            level, trend, fc = holt_winters_py(xs, period, horizon)
        except ValueError:            # series too short: no forecast rows
            return real_pd.DataFrame({
                "event_type": [], "level": [], "trend": [],
                "day_ahead": [], "forecast": []})
        return real_pd.DataFrame({
            "event_type": [key[0]] * horizon,
            "level": [round(level, 6)] * horizon,
            "trend": [round(trend, 6)] * horizon,
            "day_ahead": list(range(1, horizon + 1)),
            "forecast": [round(v, 6) for v in fc],
        })

    return (daily.groupBy("event_type")
            .applyInPandas(fit, "event_type string, level double, "
                                "trend double, day_ahead int, "
                                "forecast double"))


@register("x94_holt_winters", None, tags=("events", "stats", "rows-only"))
def x94_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Holt-Winters forecast per event type (rows-only: recursive
    float smoothing; pure-Python parity + planted-seasonality recovery
    in tests)."""
    return (holt_winters_forecast(_t(spark, sf_dir, "events"))
            .orderBy("event_type", "day_ahead"))


# ---------------------------------------------------------------------------
# r83: SCD2 dimension build — the warehouse slowly-changing-dimension
# (type 2) pattern: per user, the weekly activity TIER (low/mid/high by
# event count) collapsed into validity intervals [valid_from, valid_to)
# with an is_current flag.  This is how a training pipeline snapshots a
# mutable attribute with full history (point-in-time joins read the
# interval covering their as-of date).
#
# Scale: the weekly rollup is ONE map-combined aggregate to
# |users| x |weeks| cells; change detection (lag) and interval close
# (lead) are TWO functions in ONE window partitioned BY USER — never a
# global sort; the island groupBy carries one row per retained change.
# Epoch-day arithmetic (epoch_days div 7) keeps week ids exact integers
# on both engines (the dayofweek parity trap).
# ---------------------------------------------------------------------------

_R83_ORACLE = """
WITH weekly AS (
  SELECT user_id,
         (epoch(date_trunc('day', ts::TIMESTAMP))::BIGINT // 86400) // 7
           AS week_no,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), tiered AS (
  SELECT user_id, week_no,
         CASE WHEN n < 5 THEN 'low' WHEN n < 15 THEN 'mid'
              ELSE 'high' END AS tier
  FROM weekly
), changes AS (
  SELECT user_id, week_no, tier,
         lag(tier) OVER w AS prev_tier
  FROM tiered
  WINDOW w AS (PARTITION BY user_id ORDER BY week_no)
), starts AS (
  SELECT user_id, week_no AS from_week, tier
  FROM changes WHERE prev_tier IS NULL OR tier <> prev_tier
), intervals AS (
  SELECT user_id, tier, from_week,
         lead(from_week) OVER (PARTITION BY user_id ORDER BY from_week)
           AS to_week
  FROM starts
)
SELECT user_id, tier,
       from_week::BIGINT AS from_week,
       to_week::BIGINT AS to_week,
       (to_week IS NULL) AS is_current
FROM intervals
"""


def scd2_user_tiers(events: DataFrame) -> DataFrame:
    """(user_id, tier, from_week, to_week, is_current): type-2 validity
    intervals of each user's weekly activity tier."""
    from pyspark.sql.window import Window as W

    weekly = (events.groupBy(
        "user_id",
        F.expr("(unix_timestamp(date_trunc('day', ts)) "
               "div 86400) div 7").alias("week_no"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tiered = weekly.select(
        "user_id", "week_no",
        F.when(F.col("n") < 5, "low").when(F.col("n") < 15, "mid")
        .otherwise("high").alias("tier"))
    w = W.partitionBy("user_id").orderBy("week_no")
    starts = (tiered
              .withColumn("prev_tier", F.lag("tier").over(w))
              .filter(F.col("prev_tier").isNull()
                      | (F.col("tier") != F.col("prev_tier")))
              .select("user_id", F.col("week_no").alias("from_week"),
                      "tier"))
    w2 = W.partitionBy("user_id").orderBy("from_week")
    return (starts
            .withColumn("to_week", F.lead("from_week").over(w2))
            .select("user_id", "tier",
                    F.col("from_week").cast("long").alias("from_week"),
                    F.col("to_week").cast("long").alias("to_week"),
                    F.col("to_week").isNull().alias("is_current")))


@register("r83_scd2_user_tiers", _R83_ORACLE, tags=("events", "relational"))
def r83_scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension of weekly user activity tiers."""
    return scd2_user_tiers(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r84: point-in-time (PIT) join against the r83 SCD2 dimension — the
# leakage-safe feature lookup: each purchase event joins the tier
# interval COVERING ITS OWN WEEK, never a later one (joining the
# current tier would leak the future — the classic training-data bug
# the SCD2 shape exists to prevent).  Revenue per as-of tier answers
# "what do users spend while they ARE high-activity".
#
# Scale: ONE equi-join on user_id (both sides hash-partition by the
# same key; the interval side is one row per tier CHANGE, far smaller
# than events) + an interval-containment filter; each event matches
# exactly one interval because intervals partition each user's
# timeline.  No window over the fact table, no range-partitioned join.
# ---------------------------------------------------------------------------

_R84_ORACLE = f"""
WITH weekly AS (
  SELECT user_id,
         (epoch(date_trunc('day', ts::TIMESTAMP))::BIGINT // 86400) // 7
           AS week_no,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), tiered AS (
  SELECT user_id, week_no,
         CASE WHEN n < 5 THEN 'low' WHEN n < 15 THEN 'mid'
              ELSE 'high' END AS tier
  FROM weekly
), changes AS (
  SELECT user_id, week_no, tier, lag(tier) OVER w AS prev_tier
  FROM tiered WINDOW w AS (PARTITION BY user_id ORDER BY week_no)
), starts AS (
  SELECT user_id, week_no AS from_week, tier
  FROM changes WHERE prev_tier IS NULL OR tier <> prev_tier
), dim AS (
  SELECT user_id, tier, from_week,
         lead(from_week) OVER (PARTITION BY user_id ORDER BY from_week)
           AS to_week
  FROM starts
), purchases AS (
  SELECT user_id,
         (epoch(date_trunc('day', ts::TIMESTAMP))::BIGINT // 86400) // 7
           AS week_no,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT d.tier AS as_of_tier,
       count(*)::BIGINT AS n_purchases,
       count(DISTINCT p.user_id)::BIGINT AS n_users,
       sum(p.cents)::BIGINT AS revenue_cents
FROM purchases p
JOIN dim d ON d.user_id = p.user_id
  AND p.week_no >= d.from_week
  AND (d.to_week IS NULL OR p.week_no < d.to_week)
GROUP BY 1
"""


def pit_purchase_by_tier(events: DataFrame) -> DataFrame:
    """(as_of_tier, n_purchases, n_users, revenue_cents): purchases
    attributed to the SCD2 tier valid AT purchase time."""
    dim = scd2_user_tiers(events)
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("user_id",
                         F.expr("(unix_timestamp(date_trunc('day', ts)) "
                                "div 86400) div 7").alias("week_no"),
                         F.round(F.col("value") * 100).cast("long")
                         .alias("cents")))
    joined = purchases.join(dim, "user_id").filter(
        (F.col("week_no") >= F.col("from_week"))
        & (F.col("to_week").isNull()
           | (F.col("week_no") < F.col("to_week"))))
    return (joined.groupBy(F.col("tier").alias("as_of_tier"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum("cents").cast("long").alias("revenue_cents")))


@register("r84_pit_join", _R84_ORACLE, tags=("events", "relational"))
def r84_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe point-in-time revenue attribution over the r83
    SCD2 tiers."""
    return pit_purchase_by_tier(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r86: value-based RANGE window frame — each purchase's trailing-7-day
# same-user spend INCLUDING itself: the rolling-exposure feature ROWS
# frames get wrong whenever events are irregularly spaced (a ROWS 10
# PRECEDING frame spans 2 hours for an active user and 3 weeks for an
# idle one; the RANGE frame pins the lookback to TIME).
#
# Scale: ONE window partitioned BY USER ordered by epoch seconds with
# rangeBetween(-7 days, 0) — a single hash shuffle on user_id plus an
# in-partition sort, the same exchange q41/q44 already pay; no self
# join, no per-event range probe.  Money in exact integer cents; the
# frame sum is a BIGINT.
# ---------------------------------------------------------------------------

_R86_WINDOW_S = 7 * 86400

_R86_ORACLE = f"""
WITH purchases AS (
  SELECT event_id, user_id,
         epoch(ts::TIMESTAMP)::BIGINT AS ts_s,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id,
       sum(cents) OVER (
         PARTITION BY user_id ORDER BY ts_s
         RANGE BETWEEN {_R86_WINDOW_S} PRECEDING AND CURRENT ROW
       )::BIGINT AS trailing_7d_cents,
       count(*) OVER (
         PARTITION BY user_id ORDER BY ts_s
         RANGE BETWEEN {_R86_WINDOW_S} PRECEDING AND CURRENT ROW
       )::BIGINT AS trailing_7d_n
FROM purchases
"""


def trailing_range_spend(events: DataFrame,
                         window_s: int = _R86_WINDOW_S) -> DataFrame:
    """(event_id, user_id, trailing_7d_cents, trailing_7d_n): per
    purchase, the same user's spend in the preceding ``window_s``
    seconds inclusive — a RANGE (value-based) frame."""
    from pyspark.sql.window import Window as W

    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id",
                         F.unix_timestamp(F.col("ts")).alias("ts_s"),
                         F.round(F.col("value") * 100).cast("long")
                         .alias("cents")))
    w = (W.partitionBy("user_id").orderBy("ts_s")
         .rangeBetween(-window_s, 0))
    return purchases.select(
        "event_id", "user_id",
        F.sum("cents").over(w).cast("long").alias("trailing_7d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_7d_n"))


@register("r86_trailing_range_frame", _R86_ORACLE,
          tags=("events", "relational"))
def r86_trailing_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day spend per purchase via a value-based RANGE frame."""
    return trailing_range_spend(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r87: STL-lite decomposition — daily counts per event type split into
# TREND (centered 7-day moving average), SEASONAL (day-of-week mean of
# the detrended series), and RESIDUAL; the top |residual| rows are the
# seasonality-adjusted anomalies (a Monday spike is an anomaly only if
# it exceeds the usual Monday effect + trend).  Completes the
# time-series audit family: r28 trend direction, r34 seasonal index,
# r42 changepoints, x94 forecast — this is the decomposition they all
# implicitly assume.
#
# Scale: the daily rollup map-combines to |types| x |days| cells
# (calendar-bounded); trend is ONE window per type over that tiny
# table (ROWS +-3 with a full-window guard so edges emit no trend);
# seasonal means aggregate |types| x 7 cells.  Float recipe: trend =
# exact-int sum / 7 (deterministic); seasonal/residual round at 6 on
# both engines before the ranking, and the top-N orders by the ROUNDED
# value with (type, day) tie-breaks.
# ---------------------------------------------------------------------------

_R87_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), trended AS (
  SELECT event_type, day, n,
         CASE WHEN count(*) OVER w = 7
              THEN sum(n) OVER w / 7.0 END AS trend
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), seasonal AS (
  SELECT event_type, dayofweek(day) AS dow,
         round(avg(n - trend), 6) AS s
  FROM trended WHERE trend IS NOT NULL
  GROUP BY 1, 2
)
SELECT t.event_type,
       strftime(t.day, '%Y-%m-%d') AS day,
       t.n,
       round(t.trend, 6) AS trend,
       s.s AS seasonal,
       round(t.n - t.trend - s.s, 6) AS residual
FROM trended t
JOIN seasonal s
  ON s.event_type = t.event_type AND s.dow = dayofweek(t.day)
WHERE t.trend IS NOT NULL
ORDER BY abs(round(t.n - t.trend - s.s, 6)) DESC, t.event_type, day
LIMIT 40
"""


def stl_decompose(events: DataFrame, top: int = 40) -> DataFrame:
    """(event_type, day, n, trend, seasonal, residual): STL-lite
    decomposition, top-|residual| anomaly rows."""
    from pyspark.sql.window import Window as W

    daily = (events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = (W.partitionBy("event_type").orderBy("day")
         .rowsBetween(-3, 3))
    trended = daily.select(
        "event_type", "day", "n",
        F.when(F.count(F.lit(1)).over(w) == 7,
               F.sum("n").over(w) / 7.0).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    # Spark dayofweek: Sun=1; DuckDB dayofweek: Sun=0 — the classic
    # parity trap; dow is internal only (never emitted), so each engine
    # may use its own numbering as long as it is consistent within
    seasonal = (trended
                .groupBy("event_type",
                         F.dayofweek("day").alias("dow"))
                .agg(F.round(F.avg(F.col("n") - F.col("trend")), 6)
                     .alias("s")))
    joined = trended.join(
        seasonal,
        (trended["event_type"] == seasonal["event_type"])
        & (F.dayofweek(trended["day"]) == seasonal["dow"])).drop(
        seasonal["event_type"])
    resid = F.round(F.col("n") - F.col("trend") - F.col("s"), 6)
    return (joined.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("trend", 6).alias("trend"),
        F.col("s").alias("seasonal"),
        resid.alias("residual"))
        .orderBy(F.abs(F.col("residual")).desc(), "event_type", "day")
        .limit(top))


@register("r87_stl_decompose", _R87_ORACLE, tags=("events", "stats"))
def r87_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly rows from an STL-lite trend/
    seasonal/residual decomposition of daily counts."""
    return stl_decompose(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r91: strict-sequence funnel (MATCH_RECOGNIZE-lite) — users whose
# events contain view -> click -> purchase IN THAT ORDER within a time
# budget, with the earliest-match (greedy) semantics the SQL
# MATCH_RECOGNIZE pattern A B C would bind: first view, first click
# AFTER it, first purchase AFTER that.  q83's funnel counts stage
# membership; this one enforces ORDER — the difference between "did
# all three ever" and "did the journey".
#
# Scale: three map-combined per-user min-aggregates chained by TWO
# user-keyed equi-joins (each join key = user_id, both sides already
# user-grouped); no per-user event array ever materializes, no window
# over the fact table.  Durations are exact integer seconds; the median
# is a BIGINT interpolation ((int+int)/2, the r55 discipline).
# ---------------------------------------------------------------------------

_R91_BUDGET_S = 3600

_R91_ORACLE = f"""
WITH v AS (
  SELECT user_id, min(epoch(ts::TIMESTAMP)::BIGINT) AS tv
  FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, min(epoch(e.ts::TIMESTAMP)::BIGINT) AS tc
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch(e.ts::TIMESTAMP)::BIGINT > v.tv
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(epoch(e.ts::TIMESTAMP)::BIGINT) AS tp
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch(e.ts::TIMESTAMP)::BIGINT > c.tc
  GROUP BY 1
), m AS (
  SELECT v.user_id, p.tp - v.tv AS dur_s
  FROM v JOIN c ON c.user_id = v.user_id
  JOIN p ON p.user_id = v.user_id
  WHERE p.tp - v.tv <= {_R91_BUDGET_S}
)
SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewers,
       (SELECT count(*) FROM m)::BIGINT AS n_journeys,
       (SELECT count(*) FROM m) * 1.0 / (SELECT count(*) FROM v)
         AS journey_rate,
       (SELECT median(dur_s) FROM m) AS median_duration_s
"""


def sequence_funnel(events: DataFrame,
                    budget_s: int = _R91_BUDGET_S) -> DataFrame:
    """(n_viewers, n_journeys, journey_rate, median_duration_s): greedy
    view -> click -> purchase sequence matches within ``budget_s``."""
    ts_s = F.unix_timestamp(F.col("ts"))
    v = (events.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min(ts_s).alias("tv")))
    c = (events.filter(F.col("event_type") == "click")
         .select("user_id", ts_s.alias("t"))
         .join(v, "user_id").filter(F.col("t") > F.col("tv"))
         .groupBy("user_id").agg(F.min("t").alias("tc")))
    p = (events.filter(F.col("event_type") == "purchase")
         .select("user_id", ts_s.alias("t"))
         .join(c, "user_id").filter(F.col("t") > F.col("tc"))
         .groupBy("user_id").agg(F.min("t").alias("tp")))
    m = (v.join(p, "user_id")
         .select((F.col("tp") - F.col("tv")).alias("dur_s"))
         .filter(F.col("dur_s") <= budget_s))
    n_viewers = v.count()
    stats = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_journeys"),
        F.expr("percentile(dur_s, 0.5)").alias("median_duration_s"),
    ).collect()[0]
    return events.sparkSession.createDataFrame(
        [(n_viewers, stats["n_journeys"],
          stats["n_journeys"] / n_viewers if n_viewers else None,
          stats["median_duration_s"])],
        "n_viewers long, n_journeys long, journey_rate double, "
        "median_duration_s double")


@register("r91_sequence_funnel", _R91_ORACLE, tags=("events", "relational"))
def r91_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase journeys within an hour — the
    MATCH_RECOGNIZE-shaped funnel, earliest-match semantics."""
    return sequence_funnel(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r104: clamped running balance — per user, replay the signed event
# flow (purchase/signup credit, click/view/error debit) with the
# balance FLOORED AT ZERO: b_i = max(0, b_{i-1} + delta_i).  The
# prepaid-credit / inventory-stock recurrence LOOKS non-associative
# (the clamp breaks the fold), but the zero-floor recurrence has the
# classical prefix identity
#
#     b_i = S_i - min(0, min_{j<=i} S_j)        (S = prefix sums)
#     clamp at i  <=>  S_i < min(0, min_{j<i} S_j)
#
# so it compiles to ONE user-keyed window pass (running sum + running
# min over the same window spec — one shuffle, one sort) plus a
# map-combined per-user aggregate, fully JVM-side.  A first cut used a
# per-user Python replay; the identity replaces it (and the sequential
# kernel survives as the independent cross-check in tests and as the
# 18th streaming twin's per-key state, where incremental execution is
# the point).  The oracle is an honest WITH RECURSIVE walk — full hash
# equality proves the identity against SQL recursion semantics.
# Integer cents end-to-end.
# ---------------------------------------------------------------------------

_R104_CREDIT = ("purchase", "signup")

_R104_ORACLE = f"""
WITH RECURSIVE seqd AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS seq,
         CASE WHEN event_type IN {_R104_CREDIT!r}
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
  FROM events WHERE value IS NOT NULL
), walk AS (
  SELECT user_id, seq, greatest(delta, 0) AS bal,
         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS clamps
  FROM seqd WHERE seq = 1
  UNION ALL
  SELECT w.user_id, s.seq, greatest(w.bal + s.delta, 0),
         w.clamps + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
  FROM walk w JOIN seqd s
    ON s.user_id = w.user_id AND s.seq = w.seq + 1
)
SELECT user_id, seq::BIGINT AS n_events,
       bal::BIGINT AS final_cents, clamps::BIGINT AS n_clamps
FROM walk
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) = 1
ORDER BY user_id
"""


def signed_delta(credit_types: tuple = _R104_CREDIT):
    """The signed integer-cent flow Column — ONE definition shared by
    the batch replay and the streaming twin (no drift possible)."""
    return F.when(
        F.col("event_type").isin(*credit_types),
        F.round(F.col("value") * 100).cast("long")
    ).otherwise(-F.round(F.col("value") * 100).cast("long"))


def clamped_balance_replay(events: DataFrame,
                           credit_types: tuple = _R104_CREDIT) -> DataFrame:
    """Sequential per-user Python replay — the independent kernel the
    window form is cross-checked against (tests only; the registered
    query uses the window identity)."""
    import pandas as pd

    src = (events.filter(F.col("value").isNotNull())
           .select("user_id", "ts", "event_id",
                   signed_delta(credit_types).alias("delta")))

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal, clamps = 0, 0
        for d in pdf["delta"]:
            nb = bal + int(d)
            if nb < 0:
                clamps += 1
                bal = 0
            else:
                bal = nb
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "final_cents": [bal],
            "n_clamps": [clamps],
        })

    return (src.groupBy("user_id").applyInPandas(
        replay, "user_id long, n_events long, final_cents long, "
                "n_clamps long")
        .orderBy("user_id"))


def clamped_balance(events: DataFrame,
                    credit_types: tuple = _R104_CREDIT) -> DataFrame:
    """(user_id, n_events, final_cents, n_clamps): zero-floored signed
    balance via the prefix-min identity — one window pass, JVM-side."""
    src = (events.filter(F.col("value").isNotNull())
           .select("user_id", "ts", "event_id",
                   signed_delta(credit_types).alias("delta")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wp = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    stepped = (src
               .withColumn("S", F.sum("delta").over(w))
               .withColumn("prev_min", F.min("S").over(wp)))
    clamp = (F.col("S")
             < F.least(F.lit(0), F.coalesce(F.col("prev_min"), F.lit(0))))
    return (stepped
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 (F.expr("max_by(S, struct(ts, event_id))")
                  - F.least(F.lit(0), F.min("S"))).cast("long")
                 .alias("final_cents"),
                 F.sum(clamp.cast("long")).cast("long").alias("n_clamps"))
            .orderBy("user_id"))


@register("r104_clamped_balance", _R104_ORACLE,
          tags=("events", "temporal"))
def r104_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-floored per-user balance replay vs the recursive oracle."""
    return clamped_balance(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r109: A/B test readout — two-proportion z-test on purchase conversion
# between experiment arms (users bucketed by user-id parity — the
# deterministic hash assignment an event pipeline uses).  The analysis
# every experimentation platform batch-computes nightly.  Conversion =
# "any purchase over 95" — a genuinely partial event; the z denominator
# is NULLIF-guarded so a degenerate pool yields NULL, not an error.
# (First cut bucketed arms on max(props.k % 2) and converted on "any
# purchase" — BOTH saturate with ~67 events per user, leaving an empty
# arm / a zero denominator; the full-registry gate caught it.)
#
# Exactness: user arms, exposure counts, and conversion counts are all
# integers; the rate difference, pooled rate, and z statistic are a
# SHORT float chain on those integers in one fixed written order
# (exact-ints-then-one-float-expression, the r93 discipline).
# Scale: two map-combined per-user aggregates + a 2-row rollup; the
# final stats are a 1-row select.
# ---------------------------------------------------------------------------

_R109_ORACLE = """
WITH peruser AS (
  SELECT user_id, user_id % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' AND value > 95
             THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id, user_id % 2
), arms AS (
  SELECT arm, count(*)::BIGINT AS n_users,
         sum(converted)::BIGINT AS n_conv
  FROM peruser GROUP BY arm
), s AS (
  SELECT
    (SELECT n_users FROM arms WHERE arm = 0) AS n0,
    (SELECT n_conv  FROM arms WHERE arm = 0) AS c0,
    (SELECT n_users FROM arms WHERE arm = 1) AS n1,
    (SELECT n_conv  FROM arms WHERE arm = 1) AS c1
)
SELECT n0, c0, n1, c1,
       round(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1, 6)
         AS rate_diff,
       round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
             / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0e0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0e0 / n0 + 1.0e0 / n1)), 0.0e0), 6) AS z
FROM s
"""


@register("r109_ab_test", _R109_ORACLE, tags=("events", "stats"))
def r109_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion across parity arms."""
    e = _t(spark, sf_dir, "events")
    peruser = (e.select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        ((F.col("event_type") == "purchase") & (F.col("value") > 95))
        .cast("int").alias("conv"))
        .groupBy("user_id", "arm")
        .agg(F.max("conv").alias("converted")))
    # Both arms in ONE conditional-aggregation row: filtering into two
    # possibly-empty singletons made a degenerate pool (an arm with zero
    # users) yield ZERO rows from the crossJoin, while the oracle's
    # scalar subqueries yield one row of NULLs — the count_if-style sums
    # below produce that same NULL row shape (round-6 ADVICE).
    is0, is1 = F.col("arm") == 0, F.col("arm") == 1
    s = peruser.agg(
        F.sum(F.when(is0, 1)).cast("long").alias("n0"),
        F.sum(F.when(is0, F.col("converted"))).cast("long").alias("c0"),
        F.sum(F.when(is1, 1)).cast("long").alias("n1"),
        F.sum(F.when(is1, F.col("converted"))).cast("long").alias("c1"))
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1"))
    z = (p0 - p1) / F.nullif(
        F.sqrt(pp * (F.lit(1.0) - pp)
               * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))),
        F.lit(0.0))
    return s.select("n0", "c0", "n1", "c1",
                    F.round(p0 - p1, 6).alias("rate_diff"),
                    F.round(z, 6).alias("z"))


# ---------------------------------------------------------------------------
# r110: incremental rollup maintenance — the materialized-view delta
# pattern: yesterday's daily-revenue aggregate plus today's delta
# partition merged by ONE re-aggregation, proven equal to the full
# recompute (the oracle IS the full recompute — hash equality is the
# maintenance-correctness certificate).  At 100 TB this is the
# difference between scanning one day and scanning three years.
#
# Scale: the "state" side is the calendar-bounded daily table; only the
# delta partition's rows are scanned from the fact table (filter pushed
# to the scan); the merge is a map-combined groupBy over
# state ∪ delta-aggregate.  All integer cents.
# ---------------------------------------------------------------------------

_R110_SPLIT = "2001-06-01"

_R110_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents,
       count(*)::BIGINT AS n_orders
FROM orders GROUP BY day ORDER BY day
"""


def merge_rollup(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a (day, cents, n_orders) aggregate state with a delta
    partition's re-aggregate — associative, so map-combined."""
    return (state.unionByName(delta)
            .groupBy("day")
            .agg(F.sum("cents").cast("long").alias("cents"),
                 F.sum("n_orders").cast("long").alias("n_orders")))


@register("r110_incremental_rollup", _R110_ORACLE,
          tags=("relational", "olap", "temporal"))
def r110_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue maintained as state (< split) + delta (>= split),
    hash-equal to the full recompute."""
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.sum("c").cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"))

    state = agg(o.filter(F.col("day") < F.lit(_R110_SPLIT)))
    delta = agg(o.filter(F.col("day") >= F.lit(_R110_SPLIT)))
    return (merge_rollup(state, delta)
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "cents", "n_orders")
            .orderBy("day"))


# ---------------------------------------------------------------------------
# r115: customer-360 activity feed — interleave two HETEROGENEOUS
# sources (orders and events) into one typed activity stream per
# customer and keep each customer's latest 5 activities: the
# entity-timeline materialization every support/CRM surface reads.
#
# Scale: unionByName of two typed projections (schema reconciled at
# plan time, no per-row work), ONE customer-keyed ranking window
# compiled to WindowGroupLimit — per-partition truncation before the
# sort, so one hyperactive customer cannot pin an executor.
# Deterministic total order: (ts desc, kind, activity_id).
# ---------------------------------------------------------------------------

_R115_KEEP = 5

_R115_ORACLE = f"""
WITH feed AS (
  SELECT o_custkey AS custkey, 'order' AS kind,
         o_orderkey AS activity_id, o_orderdate AS ts,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT user_id, 'event', event_id, ts,
         CAST(round(value * 100) AS BIGINT)
  FROM events
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY custkey
                               ORDER BY ts DESC, kind, activity_id)
            AS rk
  FROM feed
)
SELECT custkey, rk::BIGINT AS rk, kind, activity_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, cents
FROM ranked WHERE rk <= {_R115_KEEP}
ORDER BY custkey, rk
"""


@register("r115_activity_feed", _R115_ORACLE,
          tags=("relational", "events", "window"))
def r115_activity_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest 5 interleaved order/event activities per customer."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.lit("order").alias("kind"),
        F.col("o_orderkey").alias("activity_id"),
        F.col("o_orderdate").alias("ts"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"),
        F.lit("event").alias("kind"),
        F.col("event_id").alias("activity_id"),
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    w = Window.partitionBy("custkey").orderBy(
        F.desc("ts"), "kind", "activity_id")
    return (o.unionByName(e)
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= _R115_KEEP)
            .select("custkey", "rk", "kind", "activity_id",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    "cents")
            .orderBy("custkey", "rk"))


# ---------------------------------------------------------------------------
# r122: RFM segmentation — the classic CRM quintile grid: per purchasing
# user, score Recency (days since last purchase), Frequency (purchase
# count), Monetary (lifetime cents) each into ntile(5), then roll up the
# segment grid.  The canonical "who are my best customers" batch job.
#
# Scale: ONE map-combined per-user aggregate, then THREE passes of
# distributed_ntile (range repartition + per-partition offsets — never a
# global window over the user-grain table; the r06 machinery, reused),
# then a <=125-row rollup.  Every score input is an exact integer
# (days, counts, cents) and every ordering carries user_id as the total-
# order tie-break, so both engines cut identical quintiles.
# ---------------------------------------------------------------------------

_R122_ORACLE = """
WITH pu AS (
  SELECT user_id,
         date_diff('day', max(ts::TIMESTAMP)::DATE,
                   (SELECT max(ts::TIMESTAMP)::DATE FROM events))
           AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), scored AS (
  SELECT user_id, cents,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_score
  FROM pu
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS cents
FROM scored GROUP BY 1, 2, 3
"""


def rfm_segments(events: DataFrame, n: int = 5) -> DataFrame:
    """(r_score, f_score, m_score, n_users, cents): ntile(n) RFM grid
    over purchasing users, global-window-free.

    Round 10 (guide §2.4): the three quintile orders differ only in
    their sort keys, so the three sequential distributed_ntile passes
    (3 range shuffles + 3 localCheckpoints + 3 partition-count collects
    over the user-grain table) fuse into ONE distributed_multi_rank
    range shuffle over a stacked narrow (block, key, user) frame; the
    ntile buckets are then pure integer arithmetic on the recovered
    ranks with the driver-known row count (no broadcast-total
    crossJoin).  DESC orders ride as exact int64 negations.  Identical
    quintiles: same total order per measure, same front-loaded ntile
    arithmetic (oracle hash-checked)."""
    from bayeslite_spark.operators.analytics_queries import (
        distributed_multi_rank, ntile_of_rank)

    study_end = events.agg(
        F.max(F.col("ts").cast("date")).alias("_end"))
    pu = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max(F.col("ts").cast("date")).alias("_last"),
             F.count(F.lit(1)).cast("long").alias("frequency"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
             .cast("long").alias("cents"))
        .crossJoin(F.broadcast(study_end))
        .select("user_id", "frequency", "cents",
                F.datediff("_end", "_last").cast("long")
                .alias("recency_days"))
    )
    ranked, n_users = distributed_multi_rank(
        pu, "user_id",
        {"_rr": [F.col("recency_days")],
         "_fr": [-F.col("frequency")],
         "_mr": [-F.col("cents")]},
        carry=["cents"])
    scored = ranked.select(
        ntile_of_rank("_rr", n, n_users).alias("r_score"),
        ntile_of_rank("_fr", n, n_users).alias("f_score"),
        ntile_of_rank("_mr", n, n_users).alias("m_score"),
        "cents")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register("r122_rfm_segments", _R122_ORACLE, tags=("events", "olap"))
def r122_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quintile grid over purchasing users —
    three distributed_ntile passes, no global window."""
    return rfm_segments(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r123: acquisition-channel attribution — every user's FIRST event type
# is their acquisition channel; purchases then roll up per channel (the
# first-touch attribution report every growth team runs).  min_by over
# the unique (ts, event_id) key makes the "first" deterministic.
#
# Scale: two map-combined per-user aggregates off the same shuffle key
# (first event, purchase rollup) joined at user grain; output = |event
# types| rows.  All integers.
# ---------------------------------------------------------------------------

_R123_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), first_evt AS (
  SELECT user_id, event_type AS channel FROM ranked WHERE rn = 1
), buys AS (
  SELECT user_id, count(*)::BIGINT AS n_purchases,
         sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT f.channel,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(b.user_id) AS BIGINT) AS n_buyers,
       coalesce(sum(b.n_purchases), 0)::BIGINT AS n_purchases,
       coalesce(sum(b.cents), 0)::BIGINT AS cents
FROM first_evt f LEFT JOIN buys b USING (user_id)
GROUP BY 1
"""


@register("r123_first_touch_attribution", _R123_ORACLE,
          tags=("events", "olap"))
def r123_first_touch_attribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Revenue attributed to each user's first-ever event type
    (acquisition channel)."""
    e = _t(spark, sf_dir, "events")
    first_evt = e.groupBy("user_id").agg(
        F.expr("min_by(event_type, struct(ts, event_id))").alias("channel"))
    buys = (e.filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .cast("long").alias("cents")))
    return (
        first_evt.join(buys, "user_id", "left")
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.count(buys.user_id).cast("long").alias("n_buyers"),
             F.coalesce(F.sum("n_purchases"), F.lit(0)).cast("long")
             .alias("n_purchases"),
             F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
             .alias("cents"))
    )


# ---------------------------------------------------------------------------
# r124: inter-purchase gap histogram — the distribution of whole days
# between a user's consecutive purchases, with how many users ever
# exhibit each gap.  The repeat-purchase-cadence table a retention model
# trains on.
#
# Scale: ONE user-keyed window (lag over the user's purchase sequence —
# partitioned, never global) feeding a day-grain histogram bounded by
# the calendar span.  All integers, exact.
# ---------------------------------------------------------------------------

_R124_ORACLE = """
WITH seq AS (
  SELECT user_id, ts::TIMESTAMP::DATE AS d,
         lag(ts::TIMESTAMP::DATE) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_d
  FROM events WHERE event_type = 'purchase'
)
SELECT date_diff('day', prev_d, d)::BIGINT AS gap_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE prev_d IS NOT NULL
GROUP BY 1
"""


@register("r124_purchase_gap_histogram", _R124_ORACLE,
          tags=("events", "temporal", "window"))
def r124_purchase_gap_histogram(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Whole-day gaps between consecutive purchases, as a histogram."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.lag(F.col("ts").cast("date")).over(w).alias("prev_d"))
    return (
        seq.filter(F.col("prev_d").isNotNull())
        .groupBy(F.datediff("d", "prev_d").cast("long").alias("gap_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.countDistinct("user_id").cast("long").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# r128: session conversion by day — of the sessions STARTING each day,
# how many contained a purchase, how long did converting vs bouncing
# sessions run (event counts), and the daily conversion rate.  The
# session-grain KPI table every product dashboard is built on; rides
# q41/q48's gap-sessionization (30-min inactivity).
#
# Scale: one user-keyed shuffle carries BOTH windows (new-session flag +
# running session id share the same (user, ts, event_id) sort), then a
# session-grain aggregate and a calendar-bounded daily rollup.  Counts
# are integers; conversion is ONE int/int division.
# ---------------------------------------------------------------------------

_R128_GAP_S = 1800

_R128_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {_R128_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
per_sess AS (
  SELECT user_id, sid,
         min(ts)::DATE AS day,
         count(*)::BIGINT AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM sess GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(conv) AS BIGINT) AS n_converting,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN conv = 1 THEN n_events ELSE 0 END) AS BIGINT)
         AS conv_events,
       sum(conv) * 1.0 / count(*) AS conversion_rate
FROM per_sess GROUP BY 1
"""


@register("r128_session_conversion", _R128_ORACLE,
          tags=("events", "sessions", "window"))
def r128_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session counts, purchase-converting sessions, and the
    conversion rate, over 30-min-gap sessions."""
    from bayeslite_spark.streaming.sessions import (
        epoch_seconds, require_utc_session,
    )

    e = _t(spark, sf_dir, "events")
    require_utc_session(e)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ts_s = epoch_seconds(F.col("ts"))
    gap = ts_s - F.lag(ts_s).over(w)
    new_s = F.when(gap.isNull() | (gap > _R128_GAP_S), 1).otherwise(0)
    sess = e.select(
        "user_id", "ts", "event_type",
        F.sum(new_s).over(wrun).alias("sid"))
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min(F.col("ts").cast("date")).alias("day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"))
    return (
        per_sess.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
             F.sum("conv").cast("long").alias("n_converting"),
             F.sum("n_events").cast("long").alias("n_events"),
             F.sum(F.when(F.col("conv") == 1, F.col("n_events"))
                   .otherwise(0)).cast("long").alias("conv_events"),
             (F.sum("conv") * F.lit(1.0) / F.count(F.lit(1)))
             .alias("conversion_rate"))
    )


# ---------------------------------------------------------------------------
# r129: time-bounded funnel — view -> click within 1h -> purchase within
# 24h of the click.  q83's ordered funnel has no deadline, so a purchase
# a month after the click still "converts"; real funnel analysis bounds
# each hop.  The correlated "first click after MY first view" subqueries
# decorrelate into a chain of per-user min-aggregates joined back on
# user_id — three map-combined aggregates on ONE shuffle key, no
# per-row re-scans.
#
# Exactness: all timestamps are exact micros; hop deadlines are integer
# second comparisons; the output is integer counts + int/int rates.
# ---------------------------------------------------------------------------

_R129_HOP1_S = 3600       # view -> click deadline
_R129_HOP2_S = 86400      # click -> purchase deadline

_R129_ORACLE = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND epoch(e.ts) - epoch(v.t_view) <= {_R129_HOP1_S}
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND epoch(e.ts) - epoch(c.t_click) <= {_R129_HOP2_S}
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v)::BIGINT AS n_viewers,
       (SELECT count(*) FROM c)::BIGINT AS n_clickers,
       (SELECT count(*) FROM p)::BIGINT AS n_buyers,
       (SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v)
         AS click_rate,
       (SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c)
         AS buy_rate
"""


@register("r129_bounded_funnel", _R129_ORACLE, tags=("events", "temporal"))
def r129_bounded_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click(<=1h) -> purchase(<=24h) funnel with per-hop
    deadlines, decorrelated to per-user min-aggregate chains."""
    from bayeslite_spark.streaming.sessions import epoch_seconds

    e = _t(spark, sf_dir, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("t_view"))
                 & (epoch_seconds(F.col("ts"))
                    - epoch_seconds(F.col("t_view")) <= _R129_HOP1_S))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("t_click"))
                 & (epoch_seconds(F.col("ts"))
                    - epoch_seconds(F.col("t_click")) <= _R129_HOP2_S))
         .groupBy("user_id").agg(F.min("ts").alias("t_buy")))
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_clickers"))
    np_ = p.agg(F.count(F.lit(1)).cast("long").alias("n_buyers"))
    return (nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))
            .select("n_viewers", "n_clickers", "n_buyers",
                    (F.col("n_clickers") * F.lit(1.0) / F.col("n_viewers"))
                    .alias("click_rate"),
                    (F.col("n_buyers") * F.lit(1.0) / F.col("n_clickers"))
                    .alias("buy_rate")))
