"""Beyond-parity analytics operators: window functions, set operations,
as-of (temporal) join, and IVF-style ANN.

The reference has none of these (no window functions or set ops in its
grammar — SURVEY.md §2.2 rows "Set ops"/"Window functions"); they are the
operations a large-scale training-data / analytics pipeline needs, expressed
Spark-first:

- windows: partitioned + framed — never a global sort; the shuffle is on the
  partition key only.
- set ops: Catalyst compiles INTERSECT/EXCEPT to semi/anti hash joins.
- as-of join: union-and-carry-forward (one shuffle on the key, one window
  pass) rather than a per-row range probe — the formulation that survives
  100 TB where a range join would be O(N*M) within key groups.
- IVF ANN: coarse quantizer (centroid assignment) turns top-k search into an
  equi-join on centroid id + in-bucket rerank; probing more lists trades
  recall for cost without changing the plan shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bayeslite_spark.operators.similarity import K, N_QUERIES, _dot, _norm
from bayeslite_spark.workload import _session_plan, _t, fan_out, register

_Q44_ORACLE = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w_all, 2) AS running_spend,
       round(avg(o_totalprice) OVER w_3, 4)   AS avg_last3
FROM orders
WINDOW
  w_all AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_3   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register("q44_window_running", _Q44_ORACLE, tags=("window",))
def q44_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running total + 3-row moving average.

    Scale: one shuffle on o_custkey; frames evaluate inside each partition
    with no further exchange. Deterministic tie-break (o_orderkey) makes the
    running sums bit-identical across engines."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
        .alias("running_spend"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("avg_last3"),
    )


_Q45_ORACLE = """
SELECT n_name, c_custkey, c_acctbal, rk FROM (
  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t WHERE rk <= 3
"""


@register("q45_topk_per_group", _Q45_ORACLE, tags=("window",))
def q45_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per nation: broadcast dim join + windowed
    row_number — per-group top-k without a global sort (PLANS.md rule)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal", F.col("rk").cast("bigint").alias("rk"))
    )


_Q46_ORACLE = """
SELECT custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS custkey FROM orders
  EXCEPT
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000
) t
"""


@register("q46_set_ops", _Q46_ORACLE, tags=("setops",))
def q46_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT chain: BUILDING-segment customers who have orders,
    none above 350k (300k was empty at sf0.001 — the r8 empty-result lint).
    Catalyst plans these as left-semi / left-anti hash joins on the key —
    no materialized distinct sets."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    with_orders = orders.select(F.col("o_custkey").alias("custkey"))
    big = orders.filter(F.col("o_totalprice") > 350000).select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(with_orders).exceptAll(big).distinct()


_Q47_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, e.ts AS last_event_ts
FROM orders o
ASOF LEFT JOIN events e
  ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
"""


@register("q47_asof_join", _Q47_ORACLE, tags=("asof", "temporal"))
def q47_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event of the same user at or
    before the order date.

    Spark-first formulation: union both sides tagged with a side marker,
    ONE shuffle on the key, then last(ts, ignorenulls) over an
    (key, ts)-ordered window carries the most recent event time forward
    into each order row. Cost is sort-within-partition — no per-row range
    probe, no O(orders x events) blowup within a key."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    left = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("timestamp").alias("event_ts"),
    )
    right = events.select(
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("is_order"),
        F.col("ts").alias("event_ts"),
    )
    # events sort before same-instant orders (is_order ascending) so an
    # event at exactly the order timestamp is visible to it (ties included,
    # matching ASOF's <= semantics)
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "is_order")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = left.unionByName(right).withColumn(
        "last_event_ts", F.last("event_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_order") == 1).select(
        "o_orderkey", F.col("key").alias("o_custkey"), "last_event_ts"
    )


N_CENTROIDS = 16
N_PROBE = 4


def nearest_list_udf(cents: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment (normalized dot): the
    ONE definition both the batch index build (ivf_assign) and the
    streaming ingester (streaming/ann.py) use, so an index grown by
    either path is bit-identical."""
    @F.pandas_udf("int")
    def nearest_list(vecs: pd.Series) -> pd.Series:
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(x @ cents.T, axis=1).astype(np.int32))

    return nearest_list


def ivf_assign(spark: SparkSession, emb: DataFrame):
    """One IVF assignment pass: train coarse centroids on a deterministic
    sample and tag every corpus row with its nearest list.

    Returns ``(cents, assigned, q_rows)`` so callers that search the SAME
    corpus at several probe widths (the x76 tuning curve) run this —
    centroid collect, Arrow assignment pass, query collect — exactly once
    instead of once per width."""
    emb = emb.filter(F.col("embedding").isNotNull())
    cent_rows = (
        emb.orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)))
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    cents = np.asarray([r["embedding"] for r in cent_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    nearest_list = nearest_list_udf(cents)
    assigned = emb.select("vec_id", "embedding", nearest_list("embedding").alias("list_id"))
    # queries collected driver-side once (a small fixed set)
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect()
    return cents, assigned, q_rows


def _ivf_search(spark: SparkSession, cents, assigned: DataFrame, q_rows,
                n_probe: int) -> DataFrame:
    """Probe+rerank over a prebuilt IVF assignment (see ivf_assign)."""
    probes = []
    for r in q_rows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        top = np.argsort(-(cents @ qv))[:n_probe]
        probes += [(int(r["vec_id"]), r["embedding"], int(l)) for l in top]
    probe_df = spark.createDataFrame(
        probes, "query_id long, qvec array<float>, list_id int"
    )

    joined = assigned.join(
        F.broadcast(probe_df),
        (assigned.list_id == probe_df.list_id) & (F.col("vec_id") != F.col("query_id")),
    )
    cos = (_dot("embedding", "qvec") / (_norm("embedding") * _norm("qvec"))).alias("cos")
    scored = joined.select("query_id", "vec_id", cos)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "vec_id", F.col("rank").cast("bigint").alias("rank"),
                F.round("cos", 6).alias("cosine"))
    )


def ivf_topk(spark: SparkSession, emb: DataFrame,
             n_probe: int = N_PROBE) -> DataFrame:
    """IVF-style ANN top-k (see x37 docstring): coarse quantizer over
    deterministic sampled centroids, probe the n_probe nearest lists per
    query, exact cosine rerank within candidates.

    Null embeddings are dropped up front (an ingest batch can carry
    encoder failures; they can neither seed centroids nor be searched)."""
    cents, assigned, q_rows = ivf_assign(spark, emb)
    return _ivf_search(spark, cents, assigned, q_rows, n_probe)


@register("x37_ann_ivf", None, tags=("similarity", "rows-only"))
def q37_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer over deterministic sampled centroids,
    candidates = corpus rows whose centroid is among the query's N_PROBE
    nearest lists, exact cosine rerank within candidates.

    Scale path: centroid assignment is one Arrow-batched pass (centroid
    matrix rides into the UDF closure — k x d floats, broadcast-sized); the
    probe is an equi-join on centroid id, so the corpus partitions by list
    once and each query touches N_PROBE lists instead of the full corpus.
    Approximate by design — recall vs q34 is asserted in tests."""
    return ivf_topk(spark, _t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x76: ANN recall-vs-probes curve — the tuning table an ANN deployment
# reads to pick n_probe: recall@K against the exact brute-force baseline
# at every probe width.  Recall is an exact integer ratio (hit counts /
# K*|queries|), so the curve is deterministic run-to-run.
#
# Scale: one IVF pass per probe width over the same assignment table;
# the exact baseline is q34's broadcast-NLJ (computed once).  At
# production scale the exact side runs on a sampled query set only.
# ---------------------------------------------------------------------------


def ann_recall_curve(spark: SparkSession, emb: DataFrame,
                     probes: tuple = (1, 2, 4, 8, 16)) -> DataFrame:
    """(n_probe, hits, total, recall): recall@K of IVF vs exact cosine.

    An empty corpus (empty ingest day) yields the empty curve rather
    than an error — a 100 TB scheduled run must survive it."""
    from bayeslite_spark.operators.similarity import cosine_topk

    schema = "n_probe int, hits long, total long, recall double"
    emb = emb.filter(F.col("embedding").isNotNull())
    if not emb.limit(1).count():
        return spark.createDataFrame([], schema)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    exact = cosine_topk(queries, emb.select("vec_id", "embedding")).select(
        "query_id", "vec_id")
    total = N_QUERIES * K
    # ONE assignment pass AND one scoring pass for the whole curve
    # (round-9: guide §2.4).  The top-p probe lists of a query are a
    # PREFIX of its top-max(p) lists, so score candidates of the widest
    # width once, tag each candidate with the PROBE RANK of the list it
    # came from, and derive every narrower width by filtering
    # probe_rank <= p before the per-query top-K window — the corpus is
    # joined once instead of once per width; per-width work runs on the
    # bounded candidate table.  Candidate sets and cosines are
    # bit-identical to the per-width _ivf_search.
    cents, assigned, q_rows = ivf_assign(spark, emb)
    pmax = max(probes)
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        top = np.argsort(-(cents @ qv))[:pmax]
        probe_rows += [(int(r["vec_id"]), r["embedding"], int(l), pr + 1)
                       for pr, l in enumerate(top)]
    probe_df = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<float>, list_id int, "
                    "probe_rank int")
    cos = (_dot("embedding", "qvec")
           / (_norm("embedding") * _norm("qvec"))).alias("cos")
    scored = (assigned.join(
        F.broadcast(probe_df),
        (assigned.list_id == probe_df.list_id)
        & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id", "probe_rank", cos))
    # every width in ONE job: a candidate from probe-rank r belongs to
    # every curve width p >= r, so explode the widths per candidate and
    # run a single (query, width)-partitioned top-K window + one semi
    # join + one per-width count — replaces len(probes) separate
    # window+join+count job chains over the same candidate table.
    widths = F.array(*[F.lit(int(p)) for p in probes])
    cand = scored.withColumn(
        "width", F.explode(F.filter(
            widths, lambda p: p >= F.col("probe_rank"))))
    w = Window.partitionBy("query_id", "width").orderBy(
        F.col("cos").desc(), F.col("vec_id"))
    hits_rows = (cand.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= K)
                 .select("width", "query_id", "vec_id")
                 .join(exact, ["query_id", "vec_id"], "semi")
                 .groupBy("width")
                 .agg(F.count(F.lit(1)).alias("hits"))
                 .collect())
    hit_map = {int(r["width"]): int(r["hits"]) for r in hits_rows}
    rows = [(p, hit_map.get(p, 0), total, hit_map.get(p, 0) * 1.0 / total)
            for p in probes]
    return spark.createDataFrame(rows, schema)


@register("x76_ann_recall_curve", None, tags=("similarity", "rows-only"))
def x76_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 against the exact baseline across probe widths
    (rows-only: approximate by design; monotonicity and the n_probe =
    n_centroids = exact endpoint are asserted in tests).

    Cost is (len(probes) + 1) searches BY DESIGN — it is the offline
    tuning harness, not a serving path; the registered curve samples 3
    widths including the exact endpoint."""
    return ann_recall_curve(spark, _t(spark, sf_dir, "embeddings"),
                            probes=(1, 4, 16))


_Q25_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.value - s.mu) / s.sd, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) > 3
"""


@register("q25_zscore_anomaly", _Q25_ORACLE, tags=("events", "anomaly"))
def q25_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): one aggregation for the group
    moments (tiny — |event_type| rows), broadcast back over the stream.
    At scale the broadcast join keeps this one pass over events with no
    row shuffle."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter((F.col("sd") > 0) & (F.abs(z) > 3))
        .select("event_id", "event_type", F.round(z, 6).alias("zscore"))
    )


_Q26_ORACLE = """
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("q26_grouping_sets", _Q26_ORACLE, tags=("relational", "rollup"))
def q26_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (flag+status, flag, grand total) — one shuffle, the
    aggregate expands grouping ids internally rather than unioning three
    scans."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(_Q26_ORACLE)


# ---------------------------------------------------------------------------
# r05: referential-integrity audit — orphan counts for every child->parent
# edge of the star schema (the ingest-time data-quality gate: a broken
# upstream export shows up here before it poisons joins downstream).
# Each edge is one LEFT ANTI join against the DISTINCT parent key set;
# parent key sets are dimension-sized (or shrink to distinct keys), so
# AQE broadcasts them and the fact side never shuffles.
# ---------------------------------------------------------------------------

_R05_ORACLE = """
SELECT 'orders->customer' AS relation,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child_rows,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'events->customer',
       (SELECT CAST(count(*) AS BIGINT) FROM events),
       CAST((SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id)) AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       (SELECT CAST(count(*) AS BIGINT) FROM customer),
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
"""


def fk_orphans(edges: list[tuple[str, DataFrame, str, DataFrame, str]]) -> DataFrame:
    """(relation, n_child_rows, n_orphans) per (name, child, child_key,
    parent, parent_key) edge: LEFT ANTI against the distinct parent keys."""
    frames = []
    for name, child, ck, parent, pk in edges:
        keys = parent.select(F.col(pk).alias(ck)).distinct()
        orphans = child.select(ck).join(keys, ck, "left_anti")
        frames.append(
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child_rows"))
            .crossJoin(orphans.agg(
                F.count(F.lit(1)).cast("long").alias("n_orphans")))
            .select(F.lit(name).alias("relation"), "n_child_rows", "n_orphans")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


@register("r05_fk_orphans", _R05_ORACLE, tags=("quality", "relational"))
def r05_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over the star schema's four child->parent edges.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return fk_orphans([
        ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        ("lineitem->orders", _t(spark, sf_dir, "lineitem"), "l_orderkey",
         orders, "o_orderkey"),
        ("events->customer", _t(spark, sf_dir, "events"), "user_id",
         cust, "c_custkey"),
        ("customer->nation", cust, "c_nationkey",
         _t(spark, sf_dir, "nation"), "n_nationkey"),
    ])


# ---------------------------------------------------------------------------
# r19: join-key skew audit — the pre-flight report a 100 TB job runs on
# its shuffle keys BEFORE launching: per key column, the key-frequency
# distribution (distincts, max, p50/p99 frequency, top-1 share, p99/p50
# skew ratio).  A top-1 share or p99/p50 blowup is exactly the signal
# that a join needs salting / AQE skew handling — this operator makes
# the repo's own scale discipline queryable.
#
# Scale: per key, ONE map-combined groupBy to the key-frequency table,
# then a second aggregate to the FREQUENCY HISTOGRAM (distinct frequency
# values — a ~hundreds-row table regardless of corpus size), so the
# percentile window sorts the histogram, never the keys.  No global
# sort of distinct keys anywhere.  All ratios are int/int (exempt from
# rounding by exactness).
# ---------------------------------------------------------------------------


def _r19_one(table: str, col: str) -> str:
    return f"""
SELECT '{table}.{col}' AS key_col, n, nk, max_freq, p50_freq, p99_freq,
       (max_freq * 1.0 / n) AS top1_share,
       (p99_freq * 1.0 / p50_freq) AS skew_p99_p50
FROM (
  WITH freq AS (SELECT {col} AS k, count(*) AS c FROM {table} GROUP BY {col}),
  hist AS (SELECT c, count(*) AS nck FROM freq GROUP BY c),
  tot AS (SELECT CAST(sum(c * nck) AS BIGINT) AS n,
                 CAST(sum(nck) AS BIGINT) AS nk,
                 CAST(max(c) AS BIGINT) AS max_freq FROM hist),
  cum AS (SELECT c, sum(nck) OVER (ORDER BY c) AS ck FROM hist)
  SELECT tot.n, tot.nk, tot.max_freq,
         (SELECT CAST(min(c) AS BIGINT) FROM cum, tot
          WHERE ck >= ceil(0.5 * tot.nk)) AS p50_freq,
         (SELECT CAST(min(c) AS BIGINT) FROM cum, tot
          WHERE ck >= ceil(0.99 * tot.nk)) AS p99_freq
  FROM tot
)"""


_R19_ORACLE = "\nUNION ALL\n".join(
    _r19_one(t, c) for t, c in (
        ("lineitem", "l_orderkey"), ("lineitem", "l_suppkey"),
        ("orders", "o_custkey"), ("events", "user_id"),
    )
)


def key_skew_audit(frames: list[tuple[str, DataFrame, str]]) -> DataFrame:
    """(key_col, n, nk, max_freq, p50_freq, p99_freq, top1_share,
    skew_p99_p50) per (name, df, key) entry."""
    outs = []
    for name, df, key in frames:
        freq = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c"))
        hist = freq.groupBy("c").agg(F.count(F.lit(1)).alias("nck"))
        w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select("c", F.sum("nck").over(w).alias("ck"))
        tot = hist.agg(
            F.sum(F.col("c") * F.col("nck")).cast("long").alias("n"),
            F.sum("nck").cast("long").alias("nk"),
            F.max("c").cast("long").alias("max_freq"),
        )
        # histogram is tiny (distinct frequency VALUES): broadcast both
        # sides of the percentile probes
        j = cum.crossJoin(F.broadcast(tot))
        p50 = j.filter(F.col("ck") >= F.ceil(0.5 * F.col("nk"))).agg(
            F.min("c").cast("long").alias("p50_freq"))
        p99 = j.filter(F.col("ck") >= F.ceil(0.99 * F.col("nk"))).agg(
            F.min("c").cast("long").alias("p99_freq"))
        row = (
            tot.crossJoin(F.broadcast(p50)).crossJoin(F.broadcast(p99))
            .select(
                F.lit(name).alias("key_col"), "n", "nk", "max_freq",
                "p50_freq", "p99_freq",
                (F.col("max_freq") * F.lit(1.0) / F.col("n"))
                .alias("top1_share"),
                (F.col("p99_freq") * F.lit(1.0) / F.col("p50_freq"))
                .alias("skew_p99_p50"),
            )
        )
        outs.append(row)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@register("r19_skew_audit", _R19_ORACLE, tags=("quality", "relational"),
          plan_allow={"global_window": (
              "cumulative window runs over the frequency-of-frequency "
              "histogram — |distinct key frequencies| rows, sublinear in "
              "keys (heavy-tail corpora have O(sqrt(n)) distinct counts)")})
def r19_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew report over the schema's main shuffle keys.
    """
    return key_skew_audit([
        ("lineitem.l_orderkey", _t(spark, sf_dir, "lineitem"), "l_orderkey"),
        ("lineitem.l_suppkey", _t(spark, sf_dir, "lineitem"), "l_suppkey"),
        ("orders.o_custkey", _t(spark, sf_dir, "orders"), "o_custkey"),
        ("events.user_id", _t(spark, sf_dir, "events"), "user_id"),
    ])


# ---------------------------------------------------------------------------
# r20: exact join-cardinality pre-flight — |A ⋈_k B| = Σ_k fA(k)·fB(k)
# computed from the two key-frequency tables, plus the largest single-key
# contribution max_k fA(k)·fB(k) (the row count the hottest key alone
# would emit).  Together with r19 this is the pre-launch report that
# tells a 100 TB job whether a join will amplify (fan-out) and whether
# one key will dominate a task — BEFORE paying for the real shuffle.
#
# Scale: two map-combined groupBys to vocab-sized frequency tables, one
# equi-join between them (key-cardinality-sized, NOT row-sized), two
# exact BIGINT aggregates.  Amplification is int/int.
# ---------------------------------------------------------------------------


def _r20_one(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
SELECT '{name}' AS edge,
       (SELECT count(*) FROM {lt})::BIGINT AS left_rows,
       (SELECT count(*) FROM {rt})::BIGINT AS right_rows,
       coalesce(sum(fa.c * fb.c), 0)::BIGINT AS join_rows,
       coalesce(max(fa.c * fb.c), 0)::BIGINT AS max_key_rows,
       (coalesce(sum(fa.c * fb.c), 0) * 1.0
        / greatest((SELECT count(*) FROM {lt}),
                   (SELECT count(*) FROM {rt}))) AS amplification
FROM (SELECT {lk} AS k, count(*) AS c FROM {lt} GROUP BY {lk}) fa
JOIN (SELECT {rk} AS k, count(*) AS c FROM {rt} GROUP BY {rk}) fb USING (k)"""


_R20_ORACLE = "\nUNION ALL\n".join((
    _r20_one("orders*lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    _r20_one("customer*orders", "customer", "c_custkey", "orders", "o_custkey"),
    _r20_one("customer*events", "customer", "c_custkey", "events", "user_id"),
    _r20_one("part*lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
))


def join_cardinality(edges: list[tuple[str, DataFrame, str, DataFrame, str]]
                     ) -> DataFrame:
    """(edge, left_rows, right_rows, join_rows, max_key_rows,
    amplification): exact inner-join size prediction per edge from the
    key-frequency tables — never materializes the join itself."""
    outs = []
    for name, left, lk, right, rk in edges:
        fa = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("ca"))
        fb = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cb"))
        prod = F.col("ca") * F.col("cb")
        stats = fa.join(fb, "k").agg(
            F.coalesce(F.sum(prod), F.lit(0)).cast("long").alias("join_rows"),
            F.coalesce(F.max(prod), F.lit(0)).cast("long")
            .alias("max_key_rows"),
        )
        nl = left.agg(F.count(F.lit(1)).cast("long").alias("left_rows"))
        nr = right.agg(F.count(F.lit(1)).cast("long").alias("right_rows"))
        outs.append(
            nl.crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(stats))
            .select(
                F.lit(name).alias("edge"), "left_rows", "right_rows",
                "join_rows", "max_key_rows",
                (F.col("join_rows") * F.lit(1.0)
                 / F.greatest("left_rows", "right_rows"))
                .alias("amplification"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@register("r20_join_cardinality", _R20_ORACLE, tags=("quality", "relational"))
def r20_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-size pre-flight over the schema's main join edges.
    """
    return join_cardinality([
        ("orders*lineitem", _t(spark, sf_dir, "orders"), "o_orderkey",
         _t(spark, sf_dir, "lineitem"), "l_orderkey"),
        ("customer*orders", _t(spark, sf_dir, "customer"), "c_custkey",
         _t(spark, sf_dir, "orders"), "o_custkey"),
        ("customer*events", _t(spark, sf_dir, "customer"), "c_custkey",
         _t(spark, sf_dir, "events"), "user_id"),
        ("part*lineitem", _t(spark, sf_dir, "part"), "p_partkey",
         _t(spark, sf_dir, "lineitem"), "l_partkey"),
    ])


# ---------------------------------------------------------------------------
# r26: fulfillment latency — per-order days from order date to the LAST
# line shipment, rolled into a weekly histogram by order priority.  The
# operations-health view of the order pipeline (and the relational
# big x big join done right).
#
# Scale: lineitem pre-aggregates to per-order max(shipdate) FIRST — a
# map-combined groupBy on l_orderkey that shrinks the fact table ~4x
# before any join — then joins orders on the SAME key (the exchange is
# shared/co-partitioned; AQE picks SMJ at scale, broadcast at test SF).
# Latency is exact integer days; the histogram groupBy is
# |priorities| x |weeks|-sized.  No window, no sort, two map-combined
# aggregates and one key-aligned join.
# ---------------------------------------------------------------------------

_R26_ORACLE = """
WITH ship AS (
  SELECT l_orderkey, max(l_shipdate::TIMESTAMP) AS last_ship
  FROM lineitem GROUP BY l_orderkey
), lat AS (
  SELECT o.o_orderpriority,
         date_diff('day', o.o_orderdate::TIMESTAMP::DATE,
                   s.last_ship::DATE)::BIGINT AS days
  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey
)
SELECT o_orderpriority,
       -- explicit floor: DuckDB's // truncates toward zero on integers,
       -- Spark's floor(days/7) floors — they disagree on negative days
       -- (the synthetic data ships lines before the order date)
       floor(days / 7.0e0)::BIGINT AS week_bucket,
       count(*)::BIGINT AS n_orders,
       min(days)::BIGINT AS min_days,
       max(days)::BIGINT AS max_days
FROM lat GROUP BY 1, 2
"""


@register("r26_fulfillment_latency", _R26_ORACLE, tags=("relational",))
def r26_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-last-shipment latency, weekly histogram per priority.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("timestamp")).alias("last_ship"))
    lat = (
        orders.join(ship, orders.o_orderkey == ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("last_ship"),
                       F.to_date(F.col("o_orderdate").cast("timestamp")))
            .cast("long").alias("days"),
        )
    )
    return lat.groupBy(
        "o_orderpriority",
        F.floor(F.col("days") / 7).cast("long").alias("week_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# r29: Benford first-digit audit — the classic fabricated-data /
# integration-bug screen: real multiplicative quantities (prices,
# volumes) follow log-uniform first digits, P(d) = log10(1 + 1/d);
# synthetic or truncated feeds don't.  Run over o_totalprice.
#
# Scale: ONE map-combined aggregate over the scan — nine conditional
# counts collapse the table to a single row; the chi-square is a FIXED
# 9-term expression over that row (no cross-row float sum anywhere).
# The Benford probabilities are precomputed in Python and injected as
# identical double literals into BOTH engines, so no libm log10 runs in
# either plan — every float op is +,*,/ on the same literals,
# bit-identical.
# ---------------------------------------------------------------------------

_BENFORD_P = [0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
              0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
              0.05799194697768673, 0.05115252244738129, 0.04575749056067514]
# == [log10(1 + 1/d) for d in 1..9], frozen so both engines see literals


def _r29_oracle() -> str:
    cnt = ",\n       ".join(
        f"count(*) FILTER (d = {d})::BIGINT AS n_{d}" for d in range(1, 10))
    chi = " + ".join(
        f"((n_{d} - n_total * {_BENFORD_P[d - 1]!r}e0)"
        f" * (n_{d} - n_total * {_BENFORD_P[d - 1]!r}e0)"
        f" / (n_total * {_BENFORD_P[d - 1]!r}e0))"
        for d in range(1, 10))
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice >= 1
), agg AS (
  SELECT count(*)::BIGINT AS n_total,
       {cnt}
  FROM digits
)
SELECT n_total, {", ".join(f"n_{d}" for d in range(1, 10))},
       round({chi}, 6) AS chi2
FROM agg
"""


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """(n_total, n_1..n_9, chi2): first-significant-digit counts of
    ``col`` and the chi-square against Benford's law (8 dof)."""
    d = F.substring(
        F.floor(F.col(col)).cast("long").cast("string"), 1, 1).cast("int")
    src = df.filter(F.col(col) >= 1).select(d.alias("d"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_total")] + [
        F.count(F.when(F.col("d") == i, 1)).cast("long").alias(f"n_{i}")
        for i in range(1, 10)
    ]
    agg = src.agg(*aggs)
    chi = None
    for i in range(1, 10):
        exp = F.col("n_total") * F.lit(_BENFORD_P[i - 1])
        term = (F.col(f"n_{i}") - exp) * (F.col(f"n_{i}") - exp) / exp
        chi = term if chi is None else chi + term
    return agg.select(
        "n_total", *[f"n_{i}" for i in range(1, 10)],
        F.round(chi, 6).alias("chi2"))


@register("r29_benford_audit", _r29_oracle(), tags=("relational", "stats"))
def r29_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals (fraud/feed screen).
    """
    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


# ---------------------------------------------------------------------------
# r32: record linkage — entity resolution over STRUCTURED fields, the
# sibling of the text near-dup family: candidate pairs from a cheap
# BLOCKING key (here the product noun — a real pipeline uses
# soundex/metaphone or sorted-neighborhood keys), verified with an edit
# distance, emitted with both descriptions for review.  Finds "the same
# product listed twice" across brands in a catalog.
#
# Scale: the self-join is an equi-join ON THE BLOCK KEY — pairs only
# form inside a block, (m_block)² not N²; a hot block gets the q36
# triangle sub-bucket split (same recipe, not needed at catalog
# cardinalities).  levenshtein() is JVM codegen in Spark and native in
# DuckDB — identical integer results; the a<b key order dedups pairs.
# ---------------------------------------------------------------------------

_LINK_MAX_LEV = 2

# The registered form aggregates to DISTINCT NAME pairs (bounded by
# |name vocabulary|², stable at any record count); exact-identical names
# (lev = 0) are excluded — that's q30's exact-dedup domain. The
# record-level pair list is the library function below.
_R32_ORACLE = f"""
WITH names AS (
  SELECT p_name, split_part(p_name, ' ', -1) AS block,
         count(*)::BIGINT AS n_recs
  FROM part GROUP BY 1, 2
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name)::BIGINT AS lev,
       a.n_recs AS n_recs_a, b.n_recs AS n_recs_b,
       (a.n_recs * b.n_recs)::BIGINT AS n_record_pairs
FROM names a JOIN names b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_LINK_MAX_LEV}
"""


def record_linkage(df: DataFrame, name_col: str, key_col: str,
                   extra: str, max_lev: int = _LINK_MAX_LEV) -> DataFrame:
    """(key_a, key_b, name_a, name_b, <extra>_a, <extra>_b, lev):
    block-verified near-matching records (block = last name token)."""
    p = df.select(
        F.col(key_col).alias("key"), F.col(name_col).alias("name"),
        F.col(extra).alias("x"),
        F.element_at(F.split(F.col(name_col), " "), -1).alias("block"),
    )
    a = p.select(F.col("key").alias("key_a"), F.col("name").alias("name_a"),
                 F.col("x").alias(f"{extra}_a"), "block")
    b = p.select(F.col("key").alias("key_b"), F.col("name").alias("name_b"),
                 F.col("x").alias(f"{extra}_b"), "block")
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "block")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(lev <= max_lev)
        .select("key_a", "key_b", "name_a", "name_b",
                f"{extra}_a", f"{extra}_b",
                lev.cast("long").alias("lev"))
    )


def linkage_name_pairs(df: DataFrame, name_col: str,
                       max_lev: int = _LINK_MAX_LEV) -> DataFrame:
    """(name_a, name_b, lev, n_recs_a, n_recs_b, n_record_pairs): the
    NAME-pair aggregate of record linkage.  Dedup to distinct names
    FIRST (map-combined groupBy — the name vocabulary, not the record
    count, is what self-joins), then block + verify; the record-pair
    count is the exact product of the two name frequencies."""
    names = df.groupBy(
        F.col(name_col).alias("name"),
        F.element_at(F.split(F.col(name_col), " "), -1).alias("block"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_recs"))
    a = names.select(F.col("name").alias("name_a"),
                     F.col("n_recs").alias("n_recs_a"), "block")
    b = names.select(F.col("name").alias("name_b"),
                     F.col("n_recs").alias("n_recs_b"), "block")
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(lev <= max_lev)
        .select("name_a", "name_b", lev.cast("long").alias("lev"),
                "n_recs_a", "n_recs_b",
                (F.col("n_recs_a") * F.col("n_recs_b")).cast("long")
                .alias("n_record_pairs"))
    )


@register("r32_record_linkage", _R32_ORACLE, tags=("relational", "dedup"))
def r32_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked+verified record linkage over the part catalog (name-pair
    aggregate; record-level pairs via ``record_linkage``).
    """
    return linkage_name_pairs(_t(spark, sf_dir, "part"), "p_name")


# ---------------------------------------------------------------------------
# r36: revenue concentration — what share of total revenue the top-N
# customers carry (the Pareto audit behind key-account risk and, for a
# data pipeline, a skew early-warning: a top-10 share that doubles says
# the workload's join keys just got hotter).
#
# Scale: per-customer revenue is ONE map-combined aggregate; the top-N
# cut is a rank over that |customers|-sized table (TakeOrdered shape,
# rank<=N compiles to WindowGroupLimit); shares are ratios of two
# independently ROUNDED sums (the rsum/rsum discipline) — per-customer
# revenue rounds at 2 (money), the top-N and grand totals round at 2
# before the one division.
# ---------------------------------------------------------------------------

_R36_TOP = 10

_R36_ORACLE = f"""
WITH rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS r
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, r,
         row_number() OVER (ORDER BY r DESC, o_custkey) AS rk
  FROM rev
), tot AS (
  SELECT round(sum(r), 2) AS total, count(*)::BIGINT AS n_cust FROM rev
)
SELECT rk::BIGINT AS rank, o_custkey, r AS revenue,
       round(sum(r) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING), 2)
         / tot.total AS cum_share,
       tot.n_cust
FROM ranked CROSS JOIN tot
WHERE rk <= {_R36_TOP}
"""


def revenue_concentration(orders: DataFrame, top: int = _R36_TOP) -> DataFrame:
    """(rank, o_custkey, revenue, cum_share, n_cust): top-N customers by
    revenue with the cumulative share of the total."""
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("r"))
    tot = rev.agg(F.round(F.sum("r"), 2).alias("total"),
                  F.count(F.lit(1)).cast("long").alias("n_cust"))
    w = Window.orderBy(F.desc("r"), F.asc("o_custkey"))
    ranked = rev.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= top)
    wc = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ranked.join(F.broadcast(tot))
        .select(
            F.col("rk").cast("long").alias("rank"),
            "o_custkey", F.col("r").alias("revenue"),
            (F.round(F.sum("r").over(wc), 2) / F.col("total"))
            .alias("cum_share"),
            "n_cust",
        )
    )


@register("r36_revenue_concentration", _R36_ORACLE, tags=("relational",),
          plan_allow={"global_window": (
              "cum-share window input is the rank-filtered top-10 (the "
              "rank window itself compiles to TakeOrderedAndProject; the "
              "cum pass sees <= top rows joined to a 1-row total)")})
def r36_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customer revenue concentration (Pareto/skew audit).
    """
    return revenue_concentration(_t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# r41: Gini concentration per nation — the inequality coefficient of
# per-customer revenue within each nation, via the rank formula
# G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) on the ascending-sorted values.
# r36 answers "how much do the top N carry?"; Gini is the scale-free
# summary of the whole curve, comparable across nations of different
# sizes — and for a data platform, a per-partition-key skew score.
#
# Scale: per-customer revenue is ONE map-combined aggregate; the rank
# window partitions BY NATION (never a global sort); both sums are
# ROUNDED (rsum discipline: Σx at 2 — money; Σ i·x at 6) so the formula
# is deterministic; ties order by custkey.
# ---------------------------------------------------------------------------

_R41_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(floor(round(sum(o.o_totalprice), 2) * 100.0e0 + 0.5e0)
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_nationkey, cents,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY cents, o_custkey) AS i
  FROM rev
)
SELECT c_nationkey,
       count(*)::BIGINT AS n_customers,
       sum(cents)::BIGINT AS total_cents,
       (2 * sum(i * cents) - (count(*) + 1) * sum(cents)) * 1.0
         / (count(*) * sum(cents)) AS gini
FROM ranked GROUP BY c_nationkey
"""


def revenue_gini(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """(c_nationkey, n_customers, total_cents, gini): within-nation
    Gini coefficient of per-customer revenue (rank formula, ascending;
    exact integer cents so the coefficient is one rational division)."""
    # money in exact integer CENTS: the rank-weighted sum reaches ~1e11+
    # where a double's ulp exceeds the 1e-6 rounding grid, so the rsum
    # recipe CANNOT absorb summation-order noise — integers can.  The
    # floor(x*100 + 0.5) cents conversion is the same IEEE DAG in both
    # engines (DuckDB's ::BIGINT rounds while Spark's cast truncates, so
    # the explicit floor is load-bearing).  Overflow bound: sum of
    # rank*cents fits BIGINT to ~1e6 customers x 1e9 cents per nation.
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.floor(F.round(F.sum("o_totalprice"), 2) * F.lit(100.0)
                    + F.lit(0.5)).cast("long").alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    return ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        (
            (F.lit(2) * F.sum(F.col("i") * F.col("cents"))
             - (F.count(F.lit(1)) + 1) * F.sum("cents")) * F.lit(1.0)
            / (F.count(F.lit(1)) * F.sum("cents"))
        ).alias("gini"),
    )


@register("r41_revenue_gini", _R41_ORACLE, tags=("relational", "stats"))
def r41_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-nation Gini coefficient of customer revenue.
    """
    return revenue_gini(_t(spark, sf_dir, "orders"),
                        _t(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# r46: hierarchical revenue rollup — nation x order-year with ROLLUP
# subtotals (per-nation totals and the grand total in the same result),
# the OLAP report shape the reference's SQLite surface never had but a
# "switching" analytics user expects on day one.
#
# Scale: ONE aggregate — Spark expands ROLLUP grouping sets inside a
# single hash-aggregate with map-side partials (no per-level re-scan);
# the customer join is a fact-to-dim equi-join (AQE broadcasts nation;
# customer joins on its key).  Revenue is summed in integer CENTS
# (the r41 lesson: double sums are order-sensitive across engines);
# level disambiguation is the engine-provided grouping bitmask, not a
# NULL sentinel, so a literal NULL nation could never alias a subtotal.
# ---------------------------------------------------------------------------

_R46_ORACLE = """
SELECT n.n_name,
       year(o.o_orderdate)::BIGINT AS o_year,
       GROUPING(n.n_name, year(o.o_orderdate))::BIGINT AS lvl,
       count(*)::BIGINT AS n_orders,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT
         AS revenue_cents
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))
"""


def revenue_rollup(orders: DataFrame, customer: DataFrame,
                   nation: DataFrame) -> DataFrame:
    """(n_name, o_year, lvl, n_orders, revenue_cents): ROLLUP over
    (nation, order year) — lvl is the grouping bitmask (0 = leaf,
    1 = per-nation subtotal, 3 = grand total)."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    j = (
        orders.join(customer.select("c_custkey", "c_nationkey"),
                    orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.year("o_orderdate").cast("long").alias("o_year"),
                cents.alias("cents"))
    )
    return (
        j.rollup("n_name", "o_year")
        .agg(F.grouping_id().cast("long").alias("lvl"),
             F.count(F.lit(1)).cast("long").alias("n_orders"),
             F.sum("cents").cast("long").alias("revenue_cents"))
        .select("n_name", "o_year", "lvl", "n_orders", "revenue_cents")
    )


@register("r46_revenue_rollup", _R46_ORACLE, tags=("relational", "olap"))
def r46_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation x year revenue with ROLLUP subtotals, integer-cent exact."""
    return revenue_rollup(_t(spark, sf_dir, "orders"),
                          _t(spark, sf_dir, "customer"),
                          _t(spark, sf_dir, "nation"))


# ---------------------------------------------------------------------------
# r48: range (interval) join — for every ERROR event, the same user's
# other activity inside the hour that follows it (error-recovery
# behavior).  With as-of (q47) this completes the temporal-join pair
# the reference lacks: as-of = latest-before, range = all-within-window.
#
# Spark-first shape: the range predicate is decomposed into an
# EQUI-join on (user, hour-cell) — each error interval covers at most
# 2 hour cells (sequence + explode, bounded fan-out), probe events
# carry their single cell — followed by the exact timestamp filter and
# a distinct on the event pair (an event landing in both cells must
# count once).  Catalyst gets a hash join with pushdown instead of a
# broadcast-NLJ range probe; the shuffle keys on (user, hour), so one
# hot user spreads across hours.  Window length W multiplies the build
# side by ceil(W/bucket)+1 cells — the standard space/time trade of
# bucketed interval joins (bucket = window granularity).
#
# All outputs are integers (counts, distinct types) — nothing to round.
# ---------------------------------------------------------------------------

_R48_WINDOW_S = 3600

_R48_ORACLE = f"""
SELECT a.event_id,
       count(b.event_id)::BIGINT AS n_follow,
       count(DISTINCT b.event_type)::BIGINT AS n_types
FROM events a
JOIN events b
  ON b.user_id = a.user_id
 AND b.ts > a.ts
 AND b.ts < a.ts + INTERVAL {_R48_WINDOW_S} SECOND
 AND b.event_type <> 'error'
WHERE a.event_type = 'error'
GROUP BY a.event_id
"""


def range_join_followups(events: DataFrame,
                         window_s: int = _R48_WINDOW_S) -> DataFrame:
    """(event_id, n_follow, n_types): non-error events of the same user
    strictly inside (ts, ts + window_s) after each error event."""
    hour = F.lit(3600)
    cell_a = (F.unix_timestamp("ts") / hour).cast("long")
    anchors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("aid"),
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t0"),
        F.explode(F.sequence(
            cell_a, ((F.unix_timestamp("ts") + window_s) / hour).cast("long")
        )).alias("cell"),
    )
    probes = events.filter(F.col("event_type") != "error").select(
        F.col("user_id").alias("uid"), "event_id", "event_type", "ts",
        (F.unix_timestamp("ts") / hour).cast("long").alias("cell"),
    )
    j = anchors.join(probes, ["uid", "cell"]).filter(
        (F.col("ts") > F.col("t0"))
        & (F.col("ts") < F.col("t0") + F.expr(f"INTERVAL {window_s} SECONDS"))
    )
    # an anchor interval spans 2 cells; a probe matching via either cell
    # is the same (anchor, event) pair -> dedupe before counting
    pairs = j.select("aid", F.col("event_id").alias("pid"),
                     "event_type").distinct()
    return pairs.groupBy(F.col("aid").alias("event_id")).agg(
        F.count("pid").cast("long").alias("n_follow"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


@register("r48_range_join", _R48_ORACLE, tags=("temporal", "relational"))
def r48_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval self-join: the hour of activity after each
    error event, per user."""
    return range_join_followups(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r52: per-dimension embedding audit — mean, variance, and a dead-dim
# flag for every embedding coordinate.  Dead/near-constant dimensions
# waste PQ codebook bits, distort IVF centroids, and signal an encoder
# export bug (a truncated cast, a frozen layer); this is the first
# check run on any new embedding drop.
#
# Scale: posexplode keeps (dim, value) pairs; ONE map-combined
# groupBy(dim) carries exact (n, sum, sumsq) partials — the shuffle is
# |dims| x partitions rows regardless of corpus size.  Sums round at 6
# before the derived mean/variance so the two engines' summation-order
# ulp noise can't surface (the rsum recipe); the variance formula is
# written identically on both sides.
# ---------------------------------------------------------------------------

_R52_DEAD_VAR = 1e-4

_R52_ORACLE = f"""
WITH vals AS (
  SELECT u.ord::BIGINT AS dim, u.val::DOUBLE AS x
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS val,
                       generate_subscripts(embedding, 1) AS ord) AS u
  WHERE embedding IS NOT NULL
), agg AS (
  SELECT dim, count(*)::BIGINT AS n,
         round(sum(x), 6) AS sx, round(sum(x * x), 6) AS sx2
  FROM vals GROUP BY dim
)
SELECT dim, n,
       sx / n AS mean,
       (sx2 - sx * sx / n) / n AS variance,
       CASE WHEN (sx2 - sx * sx / n) / n < {_R52_DEAD_VAR}
            THEN 1 ELSE 0 END::BIGINT AS is_dead
FROM agg
"""


def embedding_dim_audit(emb: DataFrame,
                        dead_var: float = _R52_DEAD_VAR) -> DataFrame:
    """(dim, n, mean, variance, is_dead): per-coordinate statistics of
    the embedding matrix (1-indexed dims, matching SQL subscripts)."""
    vals = emb.filter(F.col("embedding").isNotNull()).select(
        F.posexplode("embedding").alias("dim0", "x0"))
    vals = vals.select((F.col("dim0") + 1).cast("long").alias("dim"),
                       F.col("x0").cast("double").alias("x"))
    agg = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sx2"))
    var = (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    return agg.select(
        "dim", "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        var.alias("variance"),
        F.when(var < dead_var, 1).otherwise(0).cast("long").alias("is_dead"),
    )


@register("r52_embedding_dims", _R52_ORACLE, tags=("similarity", "stats"))
def r52_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding mean/variance/dead-dim audit."""
    return embedding_dim_audit(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# r54: calendar densification + linear interpolation — turn a sparse
# per-group daily series into the CONTINUOUS series every forecaster /
# anomaly detector downstream assumes: one row per (group, day) over
# each group's observed [min_day, max_day] span, missing days filled by
# linear interpolation between the nearest observed neighbours, with an
# `observed` flag so filled rows stay auditable.  The gap-fill step a
# warehouse runs between raw facts and any time-series model.
#
# Spark-first shape: the calendar is groups × date-span — derived from
# a 2-value aggregate per group and a sequence() explode, so its size
# is bounded by the DATE RANGE, not the fact-table row count (at 100 TB
# the calendar for 5 groups × 7 years is still 12k rows).  ONE
# equi-join hangs the observed partials on the calendar (AQE broadcasts
# the daily partials when small) and two frames over the same
# partition-by-group window find each missing day's neighbours — no
# range join, no per-row probe.  Window parallelism is |groups|; for
# per-entity series (thousands of groups) the same plan spreads across
# the cluster unchanged.
#
# Float discipline: revenue is exact integer CENTS; the interpolation
# `pv + (nv - pv) * off * 1.0 / len` is fixed-order IEEE arithmetic on
# exact BIGINTs (the lint's int/int pattern) — bit-identical across
# engines and partitionings with no rounding.
# ---------------------------------------------------------------------------

_R54_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, o_orderdate::DATE AS day,
         count(*)::BIGINT AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders GROUP BY 1, 2
), bounds AS (
  SELECT priority, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), cal AS (
  SELECT priority, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
), filled AS (
  SELECT c.priority, c.day,
         d.n_orders, d.cents,
         last_value(d.cents IGNORE NULLS) OVER w_back AS pv,
         last_value(CASE WHEN d.cents IS NOT NULL THEN c.day END IGNORE NULLS)
           OVER w_back AS pd,
         first_value(d.cents IGNORE NULLS) OVER w_fwd AS nv,
         first_value(CASE WHEN d.cents IS NOT NULL THEN c.day END IGNORE NULLS)
           OVER w_fwd AS nd
  FROM cal c LEFT JOIN daily d ON c.priority = d.priority AND c.day = d.day
  WINDOW
    w_back AS (PARTITION BY c.priority ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd  AS (PARTITION BY c.priority ORDER BY c.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT priority, day,
       (CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS observed,
       coalesce(n_orders, 0)::BIGINT AS n_orders,
       CASE WHEN cents IS NOT NULL THEN cents * 1.0
            ELSE pv + (nv - pv) * date_diff('day', pd, day) * 1.0
                      / date_diff('day', pd, nd) END AS revenue_interp
FROM filled
"""


def gap_fill_interpolate(facts: DataFrame, group_col: str, day_col: str,
                         n_col: str, cents_col: str) -> DataFrame:
    """(group, day, observed, n_orders, revenue_interp): densify a daily
    (group, day, count, integer-cents) series to one row per day in each
    group's observed span, linearly interpolating the cents column.

    Input ``facts`` is the DAILY aggregate (one row per observed
    group/day); boundaries are per-group min/max days, so the first and
    last row of every group is always observed."""
    g, d = F.col(group_col), F.col(day_col)
    bounds = facts.groupBy(group_col).agg(
        F.min(day_col).alias("d0"), F.max(day_col).alias("d1"))
    cal = bounds.select(
        group_col,
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day")))
        .alias(day_col),
    )
    joined = cal.join(facts, [group_col, day_col], "left")
    w_back = (Window.partitionBy(group_col).orderBy(day_col)
              .rowsBetween(Window.unboundedPreceding, 0))
    w_fwd = (Window.partitionBy(group_col).orderBy(day_col)
             .rowsBetween(0, Window.unboundedFollowing))
    cents = F.col(cents_col)
    obs_day = F.when(cents.isNotNull(), d)
    pv = F.last(cents, ignorenulls=True).over(w_back)
    pd_ = F.last(obs_day, ignorenulls=True).over(w_back)
    nv = F.first(cents, ignorenulls=True).over(w_fwd)
    nd = F.first(obs_day, ignorenulls=True).over(w_fwd)
    interp = F.when(
        cents.isNotNull(), cents * F.lit(1.0)
    ).otherwise(
        pv + (nv - pv) * F.datediff(d, pd_) * F.lit(1.0)
        / F.datediff(nd, pd_)
    )
    return joined.select(
        g.alias(group_col),
        d.alias(day_col),
        cents.isNotNull().cast("long").alias("observed"),
        F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias("n_orders"),
        interp.alias("revenue_interp"),
    )


@register("r54_gap_interpolation", _R54_ORACLE,
          tags=("temporal", "window", "relational"))
def r54_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue per order priority with linear
    interpolation on missing days (calendar densification).
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("cents"),
    )
    return gap_fill_interpolate(daily, "priority", "day", "n_orders", "cents")


# ---------------------------------------------------------------------------
# r58: CUBE — the last member of the grouping family (GROUPING SETS
# q26, ROLLUP r46): all four aggregation levels of (event_type,
# weekday-vs-weekend) in one pass, the cross-tab a dashboard pivots
# from.  Same engine mechanics as ROLLUP: Spark expands the grouping
# sets inside ONE hash aggregate with map-side partials (no per-level
# re-scan); the grouping bitmask (not NULL sentinels) disambiguates
# levels; the value sum stays in exact integer HUNDREDTHS.
# ---------------------------------------------------------------------------

_R58_ORACLE = """
SELECT event_type,
       (CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 'weekend'
             ELSE 'weekday' END) AS day_kind,
       GROUPING(event_type,
                CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 'weekend'
                     ELSE 'weekday' END)::BIGINT AS lvl,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM events
GROUP BY CUBE (event_type,
               CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 'weekend'
                    ELSE 'weekday' END)
"""


@register("r58_event_cube", _R58_ORACLE, tags=("relational", "olap", "events"))
def r58_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday/weekend): every marginal in one
    hash aggregate.

    DuckDB dayofweek: Sunday=0/Saturday=6; Spark dayofweek: Sunday=1/
    Saturday=7 — the weekend predicate translates accordingly."""
    events = _t(spark, sf_dir, "events")
    day_kind = F.when(
        F.dayofweek(F.col("ts").cast("date")).isin(1, 7), "weekend"
    ).otherwise("weekday")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("event_type", day_kind.alias("day_kind"),
                      cents.alias("cents"))
        .cube("event_type", "day_kind")
        .agg(F.grouping_id().cast("long").alias("lvl"),
             F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum("cents").cast("long").alias("value_cents"))
        .select("event_type", "day_kind", "lvl", "n_events", "value_cents")
    )


# ---------------------------------------------------------------------------
# x87: sketch-accuracy audit — the measured answer to "can q43's exact
# percentiles swap to approx_percentile at 100 TB?".  Runs BOTH on the
# same column and reports the absolute and relative error per quantile
# per event type at two sketch accuracies.  Exact percentile needs a
# per-group sort of all values; the t-digest-style sketch is mergeable
# map-side state — at cluster scale the swap is mandatory, and this
# audit is the evidence for how much tolerance it costs.  Rows-only by
# nature (the sketch's error is implementation-defined).
# ---------------------------------------------------------------------------

_X87_QS = (0.5, 0.9, 0.99)


@register("x87_percentile_sketch_error", None,
          tags=("events", "stats", "sketch", "rows-only"))
def x87_percentile_sketch_error(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """(event_type, q, exact, approx_1k, approx_10k, abs_err_1k,
    abs_err_10k): measured approx_percentile error vs the exact
    interpolated percentile."""
    e = _t(spark, sf_dir, "events")
    qs = list(_X87_QS)
    agg = e.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({','.join(map(str, qs))}))")
        .alias("exact"),
        F.expr(
            f"approx_percentile(value, array({','.join(map(str, qs))}), 1000)"
        ).alias("a1k"),
        F.expr(
            f"approx_percentile(value, array({','.join(map(str, qs))}), 10000)"
        ).alias("a10k"),
    )
    out = agg.select(
        "event_type",
        F.explode(F.arrays_zip(
            F.array(*[F.lit(q) for q in qs]).alias("q"),
            F.col("exact").alias("exact"),
            F.col("a1k").alias("a1k"),
            F.col("a10k").alias("a10k"),
        )).alias("z"),
    ).select(
        "event_type",
        F.col("z.q").alias("q"),
        F.round("z.exact", 6).alias("exact"),
        F.round("z.a1k", 6).alias("approx_1k"),
        F.round("z.a10k", 6).alias("approx_10k"),
        F.round(F.abs(F.col("z.a1k") - F.col("z.exact")), 6)
        .alias("abs_err_1k"),
        F.round(F.abs(F.col("z.a10k") - F.col("z.exact")), 6)
        .alias("abs_err_10k"),
    )
    return out


# ---------------------------------------------------------------------------
# r61: embedding covariance matrix — the sufficient statistic behind
# whitening (ZCA), Mahalanobis outlier scoring, and PQ codebook
# conditioning (residual quantizers assume roughly isotropic residuals;
# the covariance says how wrong that is).  Extends r52's per-dimension
# audit to pairs.
#
# Spark-first shape: the POSEXPLODE-PAIRS formulation would shuffle
# d^2 rows PER VECTOR (4096x the corpus at d=64) — instead each Arrow
# batch folds into a local Gram matrix with ONE BLAS matmul (x^T x) and
# the shuffle carries only d*(d+1)/2 partial rows PER PARTITION,
# independent of the partition's row count.  The final reduce is one
# map-combined aggregate; dimension means ride the same pass as j=-1
# sentinel rows.  Float discipline: partial sums are deterministic only
# per-partition, so both engines round the MERGED sums at 6 before the
# fixed-order covariance arithmetic (the r52 variance recipe, extended
# to pairs) -> exactly oracle-able.
# ---------------------------------------------------------------------------

_R61_ORACLE = """
WITH vals AS (
  SELECT vec_id, u.ord::BIGINT AS dim, u.val::DOUBLE AS x
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS val,
                       generate_subscripts(embedding, 1) AS ord) AS u
  WHERE embedding IS NOT NULL
), pairs AS (
  SELECT a.dim AS i, b.dim AS j, round(sum(a.x * b.x), 6) AS sxy
  FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
), dims AS (
  SELECT dim, round(sum(x), 6) AS sx, count(*)::BIGINT AS n
  FROM vals GROUP BY dim
)
SELECT p.i, p.j, di.n,
       (p.sxy - di.sx * dj.sx / di.n) / di.n AS cov
FROM pairs p JOIN dims di ON p.i = di.dim JOIN dims dj ON p.j = dj.dim
"""


def _gram_partials(it):
    import numpy as np
    import pandas as real_pd

    for pdf in it:
        vecs = [v for v in pdf["embedding"] if v is not None]
        if not vecs:
            continue
        x = np.asarray([list(v) for v in vecs], dtype=np.float64)
        g = x.T @ x
        s = x.sum(0)
        d = x.shape[1]
        iu, ju = np.triu_indices(d)
        out = real_pd.DataFrame({
            "i": (iu + 1).astype("int64"),
            "j": (ju + 1).astype("int64"),
            "sxy": g[iu, ju],
            "n": np.full(len(iu), len(x), dtype="int64"),
        })
        means = real_pd.DataFrame({
            "i": np.arange(1, d + 1, dtype="int64"),
            "j": np.full(d, -1, dtype="int64"),
            "sxy": s,
            "n": np.full(d, len(x), dtype="int64"),
        })
        yield real_pd.concat([out, means], ignore_index=True)


def embedding_covariance(emb: DataFrame) -> DataFrame:
    """(i, j, n, cov) for 1 <= i <= j <= d: upper-triangle covariance of
    the embedding matrix (population normalization, matching r52)."""
    partials = emb.filter(F.col("embedding").isNotNull()).select(
        "embedding"
    ).mapInPandas(_gram_partials, "i long, j long, sxy double, n long")
    pairs = (partials.filter(F.col("j") >= 0)
             .groupBy("i", "j")
             .agg(F.round(F.sum("sxy"), 6).alias("sxy")))
    dims = (partials.filter(F.col("j") == -1)
            .groupBy("i")
            .agg(F.round(F.sum("sxy"), 6).alias("sx"),
                 F.sum("n").cast("long").alias("n")))
    di = dims.select(F.col("i").alias("i"), F.col("sx").alias("sx_i"),
                     F.col("n").alias("n"))
    dj = dims.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
    return (
        pairs.join(F.broadcast(di), "i").join(F.broadcast(dj), "j")
        .select(
            "i", "j", "n",
            ((F.col("sxy") - F.col("sx_i") * F.col("sx_j") / F.col("n"))
             / F.col("n")).alias("cov"),
        )
    )


@register("r61_embedding_covariance", _R61_ORACLE,
          tags=("similarity", "stats"))
def r61_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle embedding covariance via per-partition BLAS Gram
    partials (shuffle = d(d+1)/2 rows per partition, never per vector).
    """
    return embedding_covariance(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x88: Mahalanobis outlier scoring — r61's covariance made actionable.
# Euclidean distance (r12's flavor) treats every direction alike, so a
# point 3 units off along a direction where the data varies by 5 looks
# identical to one 3 units off where it varies by 0.1 — the second is
# the anomaly.  d^2 = (x-mu)^T Sigma^-1 (x-mu) whitens first; under
# Gaussianity d^2 ~ chi^2(d), giving a principled flag threshold.
#
# Scale: mean + covariance come from the r61 partial-Gram pass (d^2
# partial rows per partition); the d x d inverse is a DRIVER-side
# O(d^3) on a metadata-sized matrix (ridge-regularized for near-
# singular corpora); scoring is ONE Arrow pass with (mu, Sigma^-1) in
# the closure.  Iterative-inverse float -> rows-only; the planted test
# is the canonical one: an outlier along the LOW-variance direction
# that Euclidean distance ranks as average.
# ---------------------------------------------------------------------------

_X88_TOPK = 20
_X88_RIDGE = 1e-6


def mahalanobis_scores(emb: DataFrame, ridge: float = _X88_RIDGE
                       ) -> DataFrame:
    """(vec_id, d2): squared Mahalanobis distance of every embedding to
    the corpus mean under the corpus covariance (ridge-regularized)."""
    import numpy as np
    import pandas as real_pd

    cov_rows = embedding_covariance(emb).collect()
    if not cov_rows:
        return emb.sparkSession.createDataFrame([], "vec_id long, d2 double")
    d = max(r["j"] for r in cov_rows)
    sigma = np.zeros((d, d))
    for r in cov_rows:
        sigma[r["i"] - 1, r["j"] - 1] = r["cov"]
        sigma[r["j"] - 1, r["i"] - 1] = r["cov"]
    dims = {r.dim: r.mean for r in embedding_dim_audit(emb).collect()}
    mu = np.array([dims[i + 1] for i in range(d)])
    inv = np.linalg.inv(sigma + ridge * np.eye(d))

    def score(it):
        for pdf in it:
            x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            c = x - mu
            d2 = np.einsum("ij,jk,ik->i", c, inv, c)
            yield real_pd.DataFrame({"vec_id": pdf["vec_id"], "d2": d2})

    return emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    ).mapInPandas(score, "vec_id long, d2 double")


@register("x88_mahalanobis_outliers", None,
          tags=("similarity", "stats", "rows-only"))
def x88_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k Mahalanobis outliers over the embeddings table.

    Rows-only (matrix inverse); the planted low-variance-direction test
    is tests/test_operators.py::test_mahalanobis_catches_directional_outlier."""
    from pyspark.sql.window import Window as W

    scores = mahalanobis_scores(_t(spark, sf_dir, "embeddings"))
    w = W.orderBy(F.desc("d2"), F.asc("vec_id"))
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _X88_TOPK)
        .select("vec_id", F.round("d2", 6).alias("d2"), "rk")
    )


# ---------------------------------------------------------------------------
# r65: denormalization reconciliation — does the order header's total
# match the sum of its lines?  The first audit any warehouse runs on a
# header/detail pair: a drifting total means a broken backfill, a
# double-applied discount, or partial line loss.  On THIS synthetic
# corpus the header totals are generated independently of the lines, so
# the audit (correctly) reports zero reconciled orders — the honest
# output for the data, and the oracle pins every bucket exactly.
#
# Scale: map-combined detail aggregate on l_orderkey + ONE equi-join to
# the header (full outer to also count headerless details) + one
# metadata-sized groupBy(priority).  Exact integer cents end to end.
# ---------------------------------------------------------------------------

_R65_TOL_CENTS = 1

_R65_ORACLE = f"""
WITH detail AS (
  SELECT l_orderkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        * 100) AS BIGINT))::BIGINT AS detail_cents,
         count(*)::BIGINT AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderpriority AS priority,
       count(*)::BIGINT AS n_orders,
       sum(CASE WHEN d.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_no_detail,
       sum(CASE WHEN d.l_orderkey IS NOT NULL
                 AND abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                         - d.detail_cents) <= {_R65_TOL_CENTS}
            THEN 1 ELSE 0 END)::BIGINT AS n_reconciled,
       max(CASE WHEN d.l_orderkey IS NULL THEN 0
                ELSE abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                         - d.detail_cents) END)::BIGINT AS max_delta_cents,
       sum(CASE WHEN d.l_orderkey IS NULL THEN 0
                ELSE abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
                         - d.detail_cents) END)::BIGINT AS total_delta_cents
FROM orders o LEFT JOIN detail d ON o.o_orderkey = d.l_orderkey
GROUP BY 1
"""


def reconciliation_audit(orders: DataFrame, lineitem: DataFrame,
                         tol_cents: int = _R65_TOL_CENTS) -> DataFrame:
    """(priority, n_orders, n_no_detail, n_reconciled, max_delta_cents,
    total_delta_cents): header-vs-detail consistency per priority."""
    detail = lineitem.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * (1 + F.col("l_tax")) * 100).cast("long"))
        .cast("long").alias("detail_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    hdr = F.round(F.col("o_totalprice") * 100).cast("long")
    j = orders.join(detail, orders.o_orderkey == detail.l_orderkey, "left")
    delta = F.abs(hdr - F.col("detail_cents"))
    return (
        j.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("l_orderkey").isNull().cast("long")).cast("long")
            .alias("n_no_detail"),
            F.sum((F.col("l_orderkey").isNotNull()
                   & (delta <= tol_cents)).cast("long")).cast("long")
            .alias("n_reconciled"),
            F.max(F.when(F.col("l_orderkey").isNull(), 0).otherwise(delta))
            .cast("long").alias("max_delta_cents"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 0).otherwise(delta))
            .cast("long").alias("total_delta_cents"),
        )
    )


@register("r65_order_reconciliation", _R65_ORACLE,
          tags=("relational", "quality", "join"))
def r65_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation of order totals against summed
    lineitem charges (exact integer cents).
    """
    return reconciliation_audit(_t(spark, sf_dir, "orders"),
                                _t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# r70: the remaining ranking-function surface — ntile / percent_rank /
# cume_dist / lag / first_value in one partitioned window.  q44/q45/q47
# cover frames, top-k, and as-of; this closes out the rank family a
# switching analytics user expects (quartile assignment for customer
# tiering is the canonical use).  percent_rank and cume_dist are exact
# integer ratios ((rank-1)/(n-1), rank_le/n) — deterministic IEEE, no
# rounding (lint int/int pattern).  One shuffle on the partition key.
# ---------------------------------------------------------------------------

_R70_ORACLE = """
SELECT c_nationkey, c_custkey,
       ntile(4) OVER w::BIGINT AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       lag(c_acctbal, 1) OVER w AS prev_bal,
       first_value(c_custkey) OVER w::BIGINT AS richest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""


@register("r70_rank_functions", _R70_ORACLE, tags=("window", "relational"))
def r70_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tiering per nation: quartiles, percentile ranks,
    cumulative distribution, neighbour balance, and the partition's top
    key — the full ranking-function surface in one window.
    """
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select(
        "c_nationkey", "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("c_acctbal", 1).over(w).alias("prev_bal"),
        F.first("c_custkey").over(w).cast("long").alias("richest"),
    )


# ---------------------------------------------------------------------------
# Distributed global ranking — the primitive a single-partition
# row_number() window cannot give you at scale.  Two passes:
# (1) range-partition on the order columns, sort each partition, stamp
# every row with its partition id and its index inside the partition,
# and checkpoint; the checkpointing job also observes each partition's
# row count (bounded metadata: one histogram bin per partition), so no
# job of its own counts them;
# (2) project rank = offset[partition] + index + 1, where the offsets
# are the driver's exclusive prefix over the counts, inlined as one
# array literal indexed by partition id.  Every rank is exact and
# dense-unique under a deterministic tie-break; no single task ever
# sees more than its partition, and the projection is a plain Catalyst
# expression (no Python worker).  (The same shape Spark uses
# internally for zipWithIndex.)
#
# A RANK_DRIVER_ROWS hybrid gate (the graph family's GRAPH_DRIVER_EDGES
# pattern extended to this machinery: bounded limit-probe collect +
# driver-side sort mirror) was built, A/B-verified value-identical on
# all nine rank-machinery queries, and REJECTED on measurement: warm
# same-session A/B at local[32] AND local[8] showed every query flat
# within noise — the distributed two-pass path's per-call cost is
# already amortized in a warm session, so the gate added a code path
# without a measurable win (OPTIMIZATION_r09.md, tried-and-rejected).
# ---------------------------------------------------------------------------

# monotonically_increasing_id() is (partition index << 33) + the row's
# index inside its partition; the low 33 bits are that index
_POS_MASK = (1 << 33) - 1


def _shuffle_partition_bound(spark: SparkSession) -> int:
    """The most partitions a ``repartitionByRange`` without a count can
    make: the session's ``numShufflePartitions`` (AQE's
    ``initialPartitionNum`` when set, else ``spark.sql.shuffle.partitions``).
    AQE only coalesces below it."""
    return spark._jsparkSession.sessionState().conf().numShufflePartitions()


def _range_partitions(df: DataFrame, order_exprs: list):
    """``(parts, sizes)``: ``df`` range-partitioned and sorted on
    ``order_exprs``, each row stamped with its partition id ``_pid`` and
    its index ``_pos`` inside the partition, checkpointed; and
    ``{pid: rows}`` for every non-empty partition.

    The stamps are taken right after the sort and BEFORE the
    checkpoint, so the stored index is the sorted position no matter
    where it is read later.  The checkpoint is taken ONCE because
    repartitionByRange samples its boundaries per job: without it two
    passes over the range partitioning can land on DIFFERENT
    partitionings (observed at x30 — a pid a separate count pass never
    saw).  On a cluster use reliable checkpoint()/cache; the job shape
    is identical.

    The sizes are observed by the checkpointing job itself
    (``DataFrame.observe``): ``histogram_numeric`` over ``_pid`` keeps
    one exact ``(pid, count)`` bin per distinct pid, and merges bins
    only past ``nb`` distinct values.  With ``nb`` one above the
    session's partition bound, fewer than ``nb`` distinct bins whose
    counts sum to the observed row count prove that no bin was merged;
    anything else raises."""
    nb = _shuffle_partition_bound(df.sparkSession) + 1
    obs = Observation()
    parts = (
        df.repartitionByRange(*order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumns({
            "_pid": F.spark_partition_id(),
            "_pos": F.monotonically_increasing_id().bitwiseAND(_POS_MASK)})
        .observe(obs, F.histogram_numeric("_pid", F.lit(nb)).alias("h"),
                 F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    seen = obs.get
    bins, n = seen["h"] or [], seen["n"]
    sizes = {int(b.x): int(b.y) for b in bins}
    if len(bins) >= nb or sum(sizes.values()) != n:
        raise RuntimeError(
            f"_range_partitions: {len(bins)} partition-size bins (limit "
            f"{nb - 1}) hold {sum(sizes.values())} of the {n} rows observed")
    return parts, sizes


def _range_rank(df: DataFrame, order_exprs: list, rank_col: str):
    """``(ranked, n)``: ``df`` plus a 1-based global ``rank_col`` under
    the total order ``order_exprs``, and the row count.  It runs only
    ``_range_partitions``' jobs (the boundary sample and the
    checkpoint); the rank is a Catalyst projection over the checkpoint."""
    parts, sizes = _range_partitions(df, order_exprs)
    # partition ids are dense (0..P-1): offsets[pid] is an O(1) array
    # index per row, built in one expression (a pid with no rows gets
    # the running total, which no row reads)
    offsets, acc = [], 0
    for pid in range(max(sizes, default=-1) + 1):
        offsets.append(f"{acc}L")
        acc += sizes.get(pid, 0)
    offset = (F.expr(f"element_at(array({','.join(offsets)}), _pid + 1)")
              if offsets else F.lit(0))
    rank = (offset + F.col("_pos") + 1).cast("long")
    return parts.withColumn(rank_col, rank).drop("_pid", "_pos"), acc


def distributed_rank(df: DataFrame, order_cols: list,
                     rank_col: str = "rank") -> DataFrame:
    """Input plus a 1-based global ``rank_col`` by ``order_cols``
    (which must be a total order — include a unique key as the final
    tie-break). Each element is a column name or a Column sort
    expression (e.g. ``F.col("total").desc()`` for descending rank —
    repartitionByRange and sortWithinPartitions both honor SortOrder
    expressions, so DESC ranking needs no value negation).

    Jobs: the range shuffle and checkpoint, whose job also observes the
    partition sizes; the rank is then a Catalyst projection over the
    checkpoint (``_range_rank``)."""
    return _range_rank(df, _order_exprs(order_cols), rank_col)[0]


def _order_exprs(order_cols: list) -> list:
    """``order_cols`` as Columns: names become ``F.col``, Columns (sort
    expressions included) pass through."""
    from pyspark.sql import Column

    return [c if isinstance(c, Column) else F.col(c) for c in order_cols]


def distributed_ntile(df: DataFrame, order_cols: list, n: int,
                      out_col: str = "tile") -> DataFrame:
    """ntile(n) over a data-proportional table WITHOUT the global window:
    the :func:`distributed_rank` pass, whose row count comes with the
    ranks, and :func:`ntile_of_rank`'s exact bucket arithmetic as one
    projection. ``order_cols`` must be a total order. Bit-equal to
    Window-ntile and to DuckDB's (r06 hash-matches at 3 SFs on it)."""
    ranked, total = _range_rank(df, _order_exprs(order_cols), "_r")
    return ranked.withColumn(out_col, ntile_of_rank("_r", n, total)).drop("_r")


def distributed_multi_rank(df: DataFrame, key_col: str,
                           specs: "dict[str, list]",
                           carry: "list[str] | None" = None):
    """Rank the SAME rows under SEVERAL total orders with ONE range
    shuffle (round 10, guide §2.4: r122 paid one full distributed_rank
    pass — range shuffle + localCheckpoint + per-partition-count collect
    — per ntile order, r76 one per kendall rank order; the orders differ
    only in their sort KEYS, so they can share every job).

    ``specs``: ``{rank_name: [Column, ...]}`` — each list expresses one
    total order as LONG-valued ASCENDING sort keys (negate for
    descending; exact for int64; a non-integral key raises
    ``TypeError``).  ``key_col`` (a unique long key) is
    appended to every spec as the final tie-break, so specs only list
    the value keys.  All spec lists must share the same arity.

    Mechanism: one projection emits ``len(specs)`` narrow rows of
    (block id, sort keys, key) per input row — the §8 lightweight-proxy
    move — range-partition ONCE on (block, keys..., key), number the
    rows with the distributed_rank offset expression (``_range_rank``: no Python worker), subtract
    ``block * N`` to recover each block's 1-based rank, and pivot the
    blocks back to columns with one hash aggregate on the key.
    ``carry`` columns ride block 0 (null elsewhere) so payload needed
    downstream crosses the shuffle once.

    Returns ``(frame, n_rows)``: one row per input row with columns
    ``(key_col, *carry, *specs)``, and the exact row count (free: the
    checkpointing job observes it with the partition sizes, so callers
    that need N skip a count job).
    """
    ranked, n_rows = _rank_stacked(
        _stack_blocks(df, key_col, specs, carry), key_col, len(specs))
    aggs = [F.max(F.when(F.col("_blk") == i,
                         F.col("_r") - F.lit(i * n_rows)))
            .cast("long").alias(name) for i, name in enumerate(specs)]
    aggs += [F.max(F.when(F.col("_blk") == 0, F.col(c))).alias(c)
             for c in carry or ()]
    return ranked.groupBy(key_col).agg(*aggs), n_rows


def _stack_blocks(df: DataFrame, key_col: str, specs: "dict[str, list]",
                  carry: "list[str] | None" = None) -> DataFrame:
    """The blocks of ``distributed_multi_rank`` stacked as one plan (no
    job).  Block ``i`` holds spec ``i``'s rows as
    ``(_blk, _k0.._k{arity-1}, key_col, *carry)``, the keys cast to
    long and ``carry`` non-null in block 0 only; one ``inline``
    projection emits every block, so ``df`` runs once."""
    from pyspark.sql.types import IntegralType

    carry = list(carry or ())
    arity = len(next(iter(specs.values())))
    carry_types = {f.name: f.dataType for f in df.schema.fields
                   if f.name in carry}
    # keys are cast to long below: a fractional key would rank wrong
    keys = df.select(*[c for cols in specs.values() for c in cols]).schema
    bad = [f"{f.name}: {f.dataType.simpleString()}" for f in keys.fields
           if not isinstance(f.dataType, IntegralType)]
    if bad:
        raise TypeError("distributed_multi_rank: sort keys must be integral, "
                        f"got {', '.join(bad)}")

    if any(len(cols) != arity for cols in specs.values()):
        raise ValueError("distributed_multi_rank: uneven spec arity")
    blocks = [
        F.struct(F.lit(i).alias("_blk"),
                 *[c.cast("long").alias(f"_k{j}") for j, c in enumerate(cols)],
                 F.col(key_col),
                 *[(F.col(c) if i == 0
                    else F.lit(None).cast(carry_types[c])).alias(c)
                   for c in carry])
        for i, cols in enumerate(specs.values())]
    return df.select(F.inline(F.array(*blocks)))


def _rank_stacked(stacked: DataFrame, key_col: str, n_blocks: int):
    """``(ranked, n_rows)``: ``_stack_blocks``'s frame of ``n_blocks``
    blocks ranked with one ``_range_rank``.  ``_r`` is the rank under
    ``(_blk, keys..., key_col)``, the columns up to ``key_col``, so
    block ``i``'s own 1-based rank is ``_r - i * n_rows``."""
    cols = stacked.columns
    order_exprs = [F.col(c) for c in cols[:cols.index(key_col) + 1]]
    ranked, total = _range_rank(stacked, order_exprs, "_r")
    return ranked, total // n_blocks


def ntile_of_rank(rank_col: str, n: int, n_rows: int):
    """SQL ``ntile(n)``'s front-loaded bucket of a 1-based global rank
    column (by NAME), as a pure expression with driver-known ``n_rows``.
    With base = n_rows div n and rem = n_rows mod n, the first rem
    buckets hold base+1 rows:

        tile(r) = (r-1) div (base+1) + 1                      r <= rem*(base+1)
                = rem + (r - rem*(base+1) - 1) div base + 1   otherwise

    NOT floor((r-1)*n/n_rows)+1, which misplaces rows once the pivot
    passes base*n (e.g. n_rows=8, n=5 puts rank 6 in bucket 4 where
    ntile says 3)."""
    base, rem = divmod(int(n_rows), int(n))
    pivot = rem * (base + 1)
    first = f"(({rank_col} - 1) div {base + 1} + 1)"
    if base == 0:
        # fewer rows than tiles: every row is inside the front buckets
        return F.expr(first).cast("int")
    rest = f"({rem} + ({rank_col} - {pivot} - 1) div {base} + 1)"
    return F.expr(
        f"if ({rank_col} <= {pivot}, {first}, {rest})").cast("int")


# ---------------------------------------------------------------------------
# r71: Spearman rank correlation — q13's Pearson is linear-only and
# outlier-fragile; Spearman on AVERAGE ranks answers "is the
# relationship monotone?" and is exactly reproducible (average ranks
# are dyadic rationals, their sums are exact in double, and the final
# Pearson-on-ranks arithmetic is fixed-order IEEE).  Computed over
# per-customer order count vs total spend.
#
# Scale: both orders are ranked by one stacked range rank (never a
# global-order window); tie-group average ranks come from ONE aggregate
# on (block, value) that both rank lookups reuse ((first+last)/2 of a
# contiguous run = min + (cnt-1)/2); the correlation is a 1-row
# aggregate of exact sums.
# ---------------------------------------------------------------------------

_R71_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS ck, count(*)::BIGINT AS n_orders,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT ck, n_orders, cents,
         avg(rn) OVER (PARTITION BY n_orders) AS rx,
         avg(rc) OVER (PARTITION BY cents) AS ry
  FROM (SELECT ck, n_orders, cents,
               row_number() OVER (ORDER BY n_orders, ck) * 1.0 AS rn,
               row_number() OVER (ORDER BY cents, ck) * 1.0 AS rc
        FROM per_cust) t
)
SELECT count(*)::BIGINT AS n,
       round((count(*) * sum(rx * ry) - sum(rx) * sum(ry))
             / sqrt((count(*) * sum(rx * rx) - sum(rx) * sum(rx))
                    * (count(*) * sum(ry * ry) - sum(ry) * sum(ry))), 6)
         AS rho
FROM ranked
"""


def spearman(df: DataFrame, x_col: str, y_col: str,
             key_col: str) -> DataFrame:
    """(n, rho): Spearman rank correlation with average ranks (exact
    dyadic arithmetic; deterministic across engines).

    ``x`` and ``y`` are ranked as two stacked blocks with one range
    shuffle (``_rank_stacked``).  Ranks of equal values are contiguous
    under the key tie-break, so ONE aggregate on ``(block, value)``
    gives each value's average rank, ``first + (cnt-1)/2``; block 0,
    which carries ``y``, looks up both its ranks there for the final
    1-row aggregate of exact sums.  Values must be integral, as for
    ``distributed_multi_rank``."""
    return _spearman_of_blocks(
        _spearman_blocks(df, x_col, y_col, key_col), y_col, key_col)


def _spearman_blocks(df: DataFrame, x_col: str, y_col: str,
                     key_col: str) -> DataFrame:
    """``spearman``'s rank input: ``x`` and ``y`` as two stacked blocks
    (``_stack_blocks``), ``y`` carried on block 0.  A plan, no job."""
    return _stack_blocks(df.select(key_col, x_col, y_col), key_col,
                         {"x": [F.col(x_col)], "y": [F.col(y_col)]},
                         carry=[y_col])


def _spearman_of_blocks(stacked: DataFrame, y_col: str,
                        key_col: str) -> DataFrame:
    """``spearman`` of its ``_spearman_blocks`` input, which it ranks."""
    ranked, n_rows = _rank_stacked(stacked, key_col, 2)
    # A struct key, because Catalyst pushes a filter on a grouping
    # column below the aggregate (one aggregate per block).  Left joins
    # (every block-0 value has its tie row) build on the tie table only,
    # so both lookups share one aggregate and one build side.
    ties = ranked.groupBy(F.struct("_blk", "_k0").alias("_bk")).agg(
        (F.min(F.col("_r") - F.col("_blk").cast("long") * n_rows)
         + (F.count(F.lit(1)) - 1) / 2.0).alias("_avg"))
    b = (ranked.where(F.col("_blk") == 0)
         .select(F.col("_k0").alias("_x"),
                 F.col(y_col).cast("long").alias("_y")))
    for i, v, out in ((0, "_x", "rx"), (1, "_y", "ry")):
        key = F.struct(F.lit(i).alias("_blk"), F.col(v).alias("_k0"))
        b = b.join(ties, key == ties["_bk"], "left").select(
            *b.columns, F.col("_avg").alias(out))
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("rx") * F.col("ry")) - F.sum("rx") * F.sum("ry")
    den = F.sqrt(
        (n * F.sum(F.col("rx") * F.col("rx")) - F.sum("rx") * F.sum("rx"))
        * (n * F.sum(F.col("ry") * F.col("ry")) - F.sum("ry") * F.sum("ry")))
    return b.agg(n.cast("long").alias("n"),
                 F.round(num / den, 6).alias("rho"))


@register("r71_spearman", _R71_ORACLE, tags=("stats", "relational"))
def r71_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-customer order count and
    total spend (monotone-association check, outlier-robust).

    The rank input (the per-customer aggregate stacked into rank
    blocks) is a plan built once per session
    (``workload._session_plan``); each call ranks it anew, so calls
    share the plan, never its results.
    """
    def blocks() -> DataFrame:
        orders = _t(spark, sf_dir, "orders")
        per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long").alias("cents"),
        )
        return _spearman_blocks(per_cust, "n_orders", "cents", "ck")

    stacked = _session_plan(spark, sf_dir, "orders:r71_spearman_blocks",
                            blocks)
    return _spearman_of_blocks(stacked, "cents", "ck")


# ---------------------------------------------------------------------------
# r72: FORWARD as-of join — q47's mirror: for each order, the NEXT
# event of the same user at or after the order date (the
# "what-happened-after-purchase" attribution shape; q47 answers
# "what led up to it").  Same union-and-carry formulation, reversed:
# first(event_ts, ignorenulls) over the (key, ts)-ordered window from
# the current row FORWARD — one shuffle on the key, sort within
# partitions, no range probe.  At a tie timestamp the order sorts
# before the event so an event at exactly the order instant is visible
# (>= semantics, matching the DuckDB ASOF oracle).
# ---------------------------------------------------------------------------

_R72_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, e.ts AS next_event_ts
FROM orders o
ASOF LEFT JOIN events e
  ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate
"""


@register("r72_asof_forward", _R72_ORACLE, tags=("asof", "temporal"))
def r72_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each order's next same-user event at or after the
    order date.
    """
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    left = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("timestamp").alias("event_ts"),
    )
    right = events.select(
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("is_order"),
        F.col("ts").alias("event_ts"),
    )
    # orders sort BEFORE same-instant events (is_order descending) so an
    # event at exactly the order timestamp is inside the forward frame
    w = (
        Window.partitionBy("key")
        .orderBy("ts", F.desc("is_order"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = left.unionByName(right).withColumn(
        "next_event_ts", F.first("event_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_order") == 1).select(
        "o_orderkey", F.col("key").alias("o_custkey"), "next_event_ts"
    )


# ---------------------------------------------------------------------------
# r73: as-of with TOLERANCE — the bounded-staleness variant every
# feature-store lookup actually wants: the latest event at or before
# the order, but only if it is at most 7 days old (a stale feature is
# worse than no feature).  Same carried window as q47 plus one
# null-out predicate — tolerance costs nothing in plan shape.
# ---------------------------------------------------------------------------

_R73_TOL_DAYS = 7

_R73_ORACLE = f"""
SELECT o_orderkey, o_custkey,
       CASE WHEN last_event_ts >= o_orderdate - INTERVAL {_R73_TOL_DAYS} DAY
            THEN last_event_ts END AS recent_event_ts
FROM (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
         e.ts AS last_event_ts
  FROM orders o
  ASOF LEFT JOIN events e
    ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
) t
"""


@register("r73_asof_tolerance", _R73_ORACLE, tags=("asof", "temporal"))
def r73_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 7-day staleness cap — the feature-store
    lookup shape (stale matches null out).
    """
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    left = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        F.lit(1).alias("is_order"),
        F.lit(None).cast("timestamp").alias("event_ts"),
    )
    right = events.select(
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("is_order"),
        F.col("ts").alias("event_ts"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "is_order")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = left.unionByName(right).withColumn(
        "last_event_ts", F.last("event_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_order") == 1).select(
        "o_orderkey",
        F.col("key").alias("o_custkey"),
        F.when(
            F.col("last_event_ts")
            >= F.col("ts") - F.expr(f"interval {_R73_TOL_DAYS} days"),
            F.col("last_event_ts"),
        ).alias("recent_event_ts"),
    )


# ---------------------------------------------------------------------------
# r74: deletion blast radius — the right-to-be-forgotten impact report:
# given a requested customer set, how many rows does the deletion
# cascade touch at each FK depth (customer -> orders -> lineitem)?  Run
# BEFORE the delete to size the rewrite (at 100 TB a deletion is a
# partition rewrite; this report decides batching) and AFTER as the
# compliance audit (all three counts must be zero).
#
# Scale: the requested set is selector-defined (modulus here; a real
# request table broadcasts the same way); each depth is one semi-join
# pushed toward the scan — customer filters at the source, orders
# filters on the broadcast customer keys, lineitem on the surviving
# order keys.  One row out.
# ---------------------------------------------------------------------------

_R74_MOD = 97

_R74_ORACLE = f"""
WITH req AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {_R74_MOD} = 0
), ords AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM req)
)
SELECT (SELECT count(*) FROM req)::BIGINT AS n_customers,
       (SELECT count(*) FROM ords)::BIGINT AS n_orders,
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM ords))::BIGINT
         AS n_lineitems,
       (SELECT CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)),
                             0) AS BIGINT) FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM req)) AS cents_affected
"""


@register("r74_deletion_blast_radius", _R74_ORACLE,
          tags=("privacy", "relational", "join"))
def r74_deletion_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact through the FK chain: rows touched
    at each depth for a requested customer set.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # NO broadcast hints: the modulus selector makes the request set (and
    # its order keys) PROPORTIONAL to the data, so a forced broadcast is
    # exactly the r3-verdict OOM pattern. A real deletion-request table
    # is small and AQE broadcasts it on its own; these stay plain
    # semi-joins that AQE plans by measured size.
    req = cust.filter(F.col("c_custkey") % _R74_MOD == 0).select("c_custkey")
    ords = orders.join(req, orders.o_custkey == req.c_custkey, "semi")
    lis = li.join(ords.select("o_orderkey"),
                  li.l_orderkey == F.col("o_orderkey"), "semi")
    a = req.agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    b = ords.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.coalesce(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.lit(0)).cast("long").alias("cents_affected"),
    )
    c = lis.agg(F.count(F.lit(1)).cast("long").alias("n_lineitems"))
    return (
        a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
        .select("n_customers", "n_orders", "n_lineitems", "cents_affected")
    )


# ---------------------------------------------------------------------------
# r75: percent-of-parent — the hierarchy-share report every OLAP tool
# renders: each nation's share of its region's revenue and each
# region's share of the total, in ONE pass: a single leaf aggregate
# (nation grain) plus two window sums over the |nations|-sized result.
# Exact integer cents → int/int shares, no rounding.
# ---------------------------------------------------------------------------

_R75_ORACLE = """
WITH leaf AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation, cents,
       cents * 1.0 / sum(cents) OVER (PARTITION BY region)
         AS share_of_region,
       sum(cents) OVER (PARTITION BY region) * 1.0 / sum(cents) OVER ()
         AS region_share_of_total
FROM leaf
"""


@register("r75_percent_of_parent", _R75_ORACLE,
          tags=("relational", "olap", "window"),
          plan_allow={"global_window": (
              "grand-total window runs over the nation-grain leaf — "
              "<= 25 rows, fixed by the TPC-H schema, not the data "
              "scale")})
def r75_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-within-region and region-of-total revenue shares in one
    leaf aggregate + two metadata-sized window sums.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    leaf = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"),
                 F.col("n_name").alias("nation"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    w_r = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return leaf.select(
        "region", "nation", "cents",
        (F.col("cents") * F.lit(1.0) / F.sum("cents").over(w_r))
        .alias("share_of_region"),
        (F.sum("cents").over(w_r) * F.lit(1.0) / F.sum("cents").over(w_all))
        .alias("region_share_of_total"),
    )


# ---------------------------------------------------------------------------
# r76: EXACT distributed Kendall tau — the pair-concordance statistic
# whose naive form is an O(n^2) self-join (the oracle does exactly
# that; at 100 TB it is impossible).  The distributed form needs only
# the DISCORDANT count, since with the tie tallies (cheap groupBys)
# concordant = C(n,2) - tx_only - ty_only - txy - discordant.
#
# Discordant pairs (x_i < x_j, y_i > y_j) = strict-y inversions of the
# y-sequence in (x, y, key) order.  The y-tie subtlety: ranking y with
# tie-break = the x-order position makes rank inversions EQUAL strict-y
# inversions (a y-tie pair is never rank-inverted, a strict pair
# always is).  Then inversions decompose over fixed arithmetic buckets
# of the x-rank (never sampled partitioning — the distributed_rank
# lesson):
#   - within-bucket: numpy mergesort count per bucket (applyInPandas);
#   - cross-bucket, different y-bucket: a P x Q count MATRIX (one
#     map-combined groupBy, collected as metadata) folded with prefix
#     sums on the driver;
#   - cross-bucket, same y-bucket: per y-bucket pandas walk in
#     y-rank order maintaining a pid histogram (suffix-sum count).
# Every pair lands in exactly one of the three cases.  All counts are
# exact BIGINTs; tau_b's denominator is sqrt(int*int) (deterministic
# IEEE) — hash-exact against the O(n^2) oracle.
# ---------------------------------------------------------------------------

_TAU_P = 32  # x-rank buckets
_TAU_Q = 32  # y-rank buckets

_R76_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS ck, count(*)::BIGINT AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders GROUP BY 1
)
SELECT count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
            THEN 1 ELSE 0 END)::BIGINT AS concordant,
       sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
            THEN 1 ELSE 0 END)::BIGINT AS discordant,
       sum(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END)::BIGINT
         AS tie_x_only,
       sum(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END)::BIGINT
         AS tie_y_only,
       sum(CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END)::BIGINT
         AS tie_xy,
       (sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                  OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END)
        - sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END))
       / sqrt((count(*) - sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END))
              * (count(*) - sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)))
         AS tau_b
FROM per_cust a JOIN per_cust b ON a.ck < b.ck
"""


def _merge_inversions(ys) -> int:
    """Exact strict inversions of an integer sequence (numpy mergesort
    via argsort rank + Fenwick-free pairwise count: O(n log n))."""
    import numpy as np

    a = np.asarray(ys, dtype=np.int64)
    if len(a) < 2:
        return 0

    def rec(arr):
        n = len(arr)
        if n < 2:
            return 0, arr
        mid = n // 2
        il, left = rec(arr[:mid])
        ir, right = rec(arr[mid:])
        # pairs (i in left, j in right) with left_i > right_j
        cross = int(np.searchsorted(right, left, side="left").sum())
        merged = np.sort(np.concatenate([left, right]), kind="mergesort")
        return il + ir + cross, merged

    inv, _ = rec(a)
    return inv


def _tie_tallies(sel: DataFrame, x_col: str, y_col: str):
    """(tx, ty, txy) tied-pair tallies in ONE Spark action.

    A single GROUPING SETS ((x), (y), (x, y)) aggregation replaces the
    previous three full-input groupBy jobs — at 100 TB that is two fewer
    scans per correlation call.  `c * (c - 1) div 2` keeps the tally a
    BIGINT end-to-end (float `/` would lose exactness past ~2^53 tied
    pairs), so the concordant/tau_b derivation stays exact at scale.
    """
    # grouping_id bit layout for (x, y): (x)-only set aggregates y ->
    # gid 1; (y)-only -> gid 2; (x, y) -> gid 0.
    pairs = F.expr("c * (c - 1) div 2")
    row = (
        sel.groupingSets(
            [[F.col(x_col)], [F.col(y_col)], [F.col(x_col), F.col(y_col)]],
            F.col(x_col), F.col(y_col))
        .agg(F.count(F.lit(1)).alias("c"), F.grouping_id().alias("gid"))
        .agg(
            F.sum(F.when(F.col("gid") == 1, pairs)).alias("tx"),
            F.sum(F.when(F.col("gid") == 2, pairs)).alias("ty"),
            F.sum(F.when(F.col("gid") == 0, pairs)).alias("txy"),
        )
        .collect()[0]
    )
    return (int(row["tx"] or 0), int(row["ty"] or 0), int(row["txy"] or 0))


def kendall_tau(df: DataFrame, x_col: str, y_col: str,
                key_col: str, p: int = _TAU_P, q: int = _TAU_Q
                ) -> DataFrame:
    """(n_pairs, concordant, discordant, tie_x_only, tie_y_only,
    tie_xy, tau_b): exact Kendall tau-b without the O(n^2) pair join."""
    import numpy as np
    import pandas as real_pd

    # Round 10 (guide §2.4): materialize the (key, x, y) grain ONCE — it
    # feeds both the rank stack (twice, via the union) and the tie-tally
    # grouping sets, which previously re-ran the caller's full upstream
    # aggregate.  Then fuse the two global ranks into ONE range shuffle:
    # rx orders by (x, y, key); ry ordered by (y, rx), and since rx is
    # the unique (x, y, key) rank, (y, rx) == (y, x, key) exactly — the
    # stacked specs below produce bit-identical rank values.  n comes
    # with the ranks, observed by the checkpoint job (no count job).
    src = df.select(key_col, x_col, y_col).localCheckpoint(eager=True)
    ranked, n = distributed_multi_rank(
        src, key_col,
        {"rx": [F.col(x_col), F.col(y_col)],
         "ry": [F.col(y_col), F.col(x_col)]})
    if n < 2:
        return df.sparkSession.createDataFrame(
            [(0, 0, 0, 0, 0, 0, 0.0)],
            "n_pairs long, concordant long, discordant long, "
            "tie_x_only long, tie_y_only long, tie_xy long, tau_b double")
    # the rank pivot feeds three downstream jobs (within-pid inversions,
    # the PxQ cell census, same-qid walk): materialize it once
    base = ranked.localCheckpoint(eager=True)
    pid = ((F.col("rx") - 1) * p / n).cast("int")
    qid = ((F.col("ry") - 1) * q / n).cast("int")
    tagged = base.select("rx", "ry", pid.alias("pid"), qid.alias("qid"))

    # (1) within-pid strict inversions (ry unique, so strict == rank)
    def local_inv(key, pdf):
        o = pdf.sort_values("rx")
        return real_pd.DataFrame({"inv": [_merge_inversions(o["ry"])]})

    within = tagged.groupBy("pid").applyInPandas(
        local_inv, "inv long").agg(F.sum("inv")).collect()[0][0] or 0

    # (2) cross-pid, different qid: P x Q matrix folded on the driver
    cells = tagged.groupBy("pid", "qid").agg(
        F.count(F.lit(1)).alias("m")).collect()
    M = np.zeros((p, q), dtype=np.int64)
    for r in cells:
        M[r["pid"], r["qid"]] = r["m"]
    # pairs (a-pid < b-pid, a-qid > b-qid): prefix over pids, suffix
    # over qids
    pid_prefix = np.cumsum(M, axis=0)  # counts with pid <= row
    cross_diff = 0
    for b in range(1, p):
        earlier = pid_prefix[b - 1]          # per-qid counts, pid < b
        qid_suffix = np.cumsum(earlier[::-1])[::-1]  # qid >= idx
        # element in pid b, qid v pairs with earlier elements qid > v
        bigger = np.concatenate([qid_suffix[1:], [0]])
        cross_diff += int((M[b] * bigger).sum())

    # (3) cross-pid, same qid: per-qid walk in ry order
    def bucket_cross(key, pdf):
        o = pdf.sort_values("ry")
        pids = o["pid"].to_numpy()
        seen = np.zeros(p, dtype=np.int64)
        total = 0
        for pd_i in pids:
            # previously-seen elements have SMALLER ry; pair is
            # discordant when their pid is LARGER than this one's
            total += int(seen[pd_i + 1:].sum())
            seen[pd_i] += 1
        return real_pd.DataFrame({"inv": [total]})

    cross_same = tagged.groupBy("qid").applyInPandas(
        bucket_cross, "inv long").agg(F.sum("inv")).collect()[0][0] or 0

    discordant = int(within) + int(cross_diff) + int(cross_same)

    tx, ty, txy = _tie_tallies(src.select(x_col, y_col), x_col, y_col)
    n_pairs = n * (n - 1) // 2
    tie_x_only, tie_y_only = tx - txy, ty - txy
    concordant = n_pairs - tie_x_only - tie_y_only - txy - discordant
    import math

    # unrounded: (int - int) / sqrt(int * int) is deterministic IEEE on
    # both engines; an outer round would reintroduce engine tie-breaking
    tau_b = (concordant - discordant) / math.sqrt(
        (n_pairs - tx) * (n_pairs - ty))
    return df.sparkSession.createDataFrame(
        [(n_pairs, concordant, discordant, tie_x_only, tie_y_only,
          txy, tau_b)],
        "n_pairs long, concordant long, discordant long, "
        "tie_x_only long, tie_y_only long, tie_xy long, tau_b double")


@register("r76_kendall_tau", _R76_ORACLE, tags=("stats", "relational"))
def r76_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between per-customer order count and total
    spend — distributed inversion counting vs the oracle's O(n^2) pair
    join (112M pairs at sf0.1).
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("y"),
    )
    return kendall_tau(per_cust, "x", "y", "ck")


# ---------------------------------------------------------------------------
# r78: quiet-window interval join — the canonical DISTRIBUTED RANGE JOIN
# shape.  Maintenance/backfill planning asks "which multi-hour
# low-traffic windows exist, and what still lands inside them?": the
# window list is derived (gaps-and-islands over the hourly count
# series), the windows are IRREGULAR intervals, and the join condition
# is ts BETWEEN start AND end — a theta join a naive engine executes as
# events x windows.
#
# Spark-first plan: the window table is CALENDAR-BOUNDED (<= hours in
# the observed range — 720 at one month, 8,760 at a year, regardless of
# data volume), so the islands window is a metadata-sized sort, and the
# interval join becomes (1) explode each window into its covered hour
# buckets (sequence()), (2) ONE equi-join of events on their
# date_trunc-hour bucket — the fact side shuffles by hash bucket once,
# never range-partitioned, never theta-joined.  Window spans of h hours
# replicate h bucket rows of the METADATA side only.  The DuckDB oracle
# runs the honest theta join; row/hash equality proves the bucketed
# rewrite exact.
# ---------------------------------------------------------------------------

_R78_QUIET_FRAC = 1.0   # quiet = hourly count below the mean hourly count

_R78_ORACLE = f"""
WITH hours AS (
  SELECT date_trunc('hour', ts::TIMESTAMP) AS h, count(*)::BIGINT AS n
  FROM events GROUP BY 1
), thresh AS (
  SELECT avg(n) * {_R78_QUIET_FRAC} AS cut FROM hours
), quiet AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM hours, thresh WHERE n < cut
), windows AS (
  SELECT min(h) AS wstart,
         max(h) + INTERVAL 1 HOUR AS wend,
         count(*)::BIGINT AS n_hours
  FROM quiet
  GROUP BY h - to_hours(rn)
)
SELECT strftime(w.wstart, '%Y-%m-%d %H:00:00') AS window_start,
       strftime(w.wend, '%Y-%m-%d %H:00:00') AS window_end,
       w.n_hours,
       count(e.event_id)::BIGINT AS n_events,
       count(DISTINCT e.user_id)::BIGINT AS n_users,
       coalesce(sum(CASE WHEN e.event_type = 'purchase'
                         THEN CAST(round(e.value * 100) AS BIGINT)
                         ELSE 0 END), 0)::BIGINT AS revenue_cents
FROM windows w
LEFT JOIN events e
  ON e.ts::TIMESTAMP >= w.wstart AND e.ts::TIMESTAMP < w.wend
GROUP BY 1, 2, 3
"""


def quiet_window_join(events: DataFrame,
                      quiet_frac: float = _R78_QUIET_FRAC) -> DataFrame:
    """(window_start, window_end, n_hours, n_events, n_users,
    revenue_cents): maximal runs of below-threshold hours, with the
    events landing inside each — via hour-bucket explode + equi-join."""
    hours = (events
             .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    cut = hours.agg((F.avg("n") * quiet_frac).alias("cut"))
    # islands over the calendar-bounded hour table (<= 8,760 rows/year:
    # the documented single-partition-window exception)
    w = Window.orderBy("h")
    quiet = (hours.join(F.broadcast(cut))
             .filter(F.col("n") < F.col("cut"))
             .withColumn("rn", F.row_number().over(w))
             .withColumn("island",
                         F.col("h") - F.make_interval(hours=F.col("rn"))))
    windows = (quiet.groupBy("island")
               .agg(F.min("h").alias("wstart"),
                    (F.max("h") + F.expr("INTERVAL 1 HOUR")).alias("wend"),
                    F.count(F.lit(1)).cast("long").alias("n_hours"))
               .drop("island"))
    # metadata-side explode: one row per covered hour bucket
    buckets = windows.select(
        "wstart", "wend", "n_hours",
        F.explode(F.sequence(
            F.col("wstart"),
            F.col("wend") - F.expr("INTERVAL 1 HOUR"),
            F.expr("INTERVAL 1 HOUR"))).alias("bucket"))
    tagged = events.select(
        "event_id", "user_id", "event_type", "value",
        F.date_trunc("hour", F.col("ts")).alias("bucket"))
    joined = F.broadcast(buckets).join(tagged, "bucket", "left")
    return (
        joined.groupBy("wstart", "wend", "n_hours")
        .agg(
            F.count("event_id").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.coalesce(F.sum(F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long")).otherwise(0)),
                F.lit(0)).cast("long").alias("revenue_cents"),
        )
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:00:00")
            .alias("window_start"),
            F.date_format("wend", "yyyy-MM-dd HH:00:00").alias("window_end"),
            "n_hours", "n_events", "n_users", "revenue_cents",
        )
    )


@register("r78_quiet_window_join", _R78_ORACLE,
          tags=("events", "relational"),
          plan_allow={"global_window": (
              "islands window runs over the calendar-bounded hour table "
              "(<= 8,760 rows/year), never event rows")})
def r78_quiet_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular low-traffic windows range-joined to the events that
    land inside them — the bucketed interval-join rewrite, proven exact
    against the oracle's theta join."""
    return quiet_window_join(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r79: market-basket co-occurrence with a PER-BASKET CAP — which parts
# are bought TOGETHER beyond what their individual popularity predicts
# (association lift), the recommender/assortment primitive.  Also the
# worked example of the quadratic-fan-out cap: within-basket pairing is
# O(k^2) per order, so each basket first reduces to its K least-popular
# parts (deterministic (support, partkey) ranking) and pairing is
# O(K(K-1)/2) rows per order FOREVER, however large baskets get.
# Association strength is integer-exact lift
# (c_ab * n_orders) / (c_a * c_b) — no ln (the r24/r77 discipline).
#
# Scale: part support is a map-combined count; the per-basket ranking
# window partitions BY order (never global); the pair groupBy carries
# <= K(K-1)/2 rows per order; supports join against the basket-support
# table (catalog-sized).  Nothing is O(basket^2) on unbounded baskets.
# ---------------------------------------------------------------------------

_R79_K = 8          # basket profile: the K least-popular parts
_R79_MIN_PAIRS = 2  # a pair must recur across orders to be a signal

_R79_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
), support AS (
  SELECT pkey, count(*)::BIGINT AS sup FROM basket GROUP BY 1
), ranked AS (
  SELECT b.okey, b.pkey,
         row_number() OVER (PARTITION BY b.okey
                            ORDER BY s.sup ASC, b.pkey ASC) AS rk
  FROM basket b JOIN support s USING (pkey)
), profile AS (
  SELECT okey, pkey FROM ranked WHERE rk <= {_R79_K}
), psup AS (
  SELECT pkey, count(*)::BIGINT AS c FROM profile GROUP BY 1
), n AS (
  SELECT count(DISTINCT okey)::BIGINT AS n_orders FROM profile
), pairs AS (
  SELECT a.pkey AS p0, b.pkey AS p1, count(*)::BIGINT AS c_ab
  FROM profile a JOIN profile b
    ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY 1, 2
)
SELECT p0, p1, c_ab, ca.c AS c_a, cb.c AS c_b,
       (c_ab * n.n_orders) * 1.0 / (ca.c * cb.c) AS lift
FROM pairs
JOIN psup ca ON ca.pkey = pairs.p0
JOIN psup cb ON cb.pkey = pairs.p1
CROSS JOIN n
WHERE c_ab >= {_R79_MIN_PAIRS}
ORDER BY lift DESC, p0, p1
LIMIT 50
"""


def _basket_profile(lineitem: DataFrame, k: int) -> DataFrame:
    """Each order's K least-popular distinct parts, pre-checkpoint.

    Deduped under hash(okey) partitioning instead of ``distinct()``:
    rows with equal (okey, pkey) are colocated by okey alone, so the
    dedup aggregate needs NO second exchange, and the per-order rank
    window reuses the same partitioning — one data-sized shuffle where
    distinct()+window paid two (guide §2.1; the round-9 rewrite that
    replaced the reverted checkpoint attempt, plan-asserted in
    tests/test_plans.py)."""
    basket = (lineitem.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").alias("pkey"))
        .repartition("okey")
        .dropDuplicates(["okey", "pkey"]))
    support = basket.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("sup"))
    w = Window.partitionBy("okey").orderBy(F.asc("sup"), F.asc("pkey"))
    return (basket.join(support, "pkey")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("okey", "pkey"))


def basket_cooccurrence(lineitem: DataFrame, k: int = _R79_K,
                        min_pairs: int = _R79_MIN_PAIRS) -> DataFrame:
    """(p0, p1, c_ab, c_a, c_b, lift): top co-purchased part pairs among
    each order's K least-popular parts, integer-exact lift."""
    profile = _basket_profile(lineitem, k) \
        .localCheckpoint(eager=True)  # feeds psup, n, both pair sides
    psup = profile.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    n_orders = profile.select("okey").distinct().count()
    a = profile.select("okey", F.col("pkey").alias("p0"))
    b = profile.select("okey", F.col("pkey").alias("p1"))
    pairs = (a.join(b, "okey")
             .filter(F.col("p0") < F.col("p1"))
             .groupBy("p0", "p1")
             .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
             .filter(F.col("c_ab") >= min_pairs))
    lift = ((F.col("c_ab") * F.lit(n_orders)).cast("double")
            / (F.col("ca.c") * F.col("cb.c")).cast("double"))
    return (
        pairs.join(psup.alias("ca"), F.col("p0") == F.col("ca.pkey"))
        .join(psup.alias("cb"), F.col("p1") == F.col("cb.pkey"))
        .select("p0", "p1", "c_ab",
                F.col("ca.c").alias("c_a"), F.col("cb.c").alias("c_b"),
                lift.alias("lift"))
        .orderBy(F.desc("lift"), "p0", "p1")
        .limit(50)
    )


@register("r79_basket_cooccurrence", _R79_ORACLE,
          tags=("relational", "analytics"))
def r79_basket_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase association lift with the per-basket K-profile cap."""
    return basket_cooccurrence(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# r81: Pareto skyline (2-D) via a DISTRIBUTED EXCLUSIVE PREFIX-MAX —
# "which parts are undominated on (price low, size high)?", the
# multi-objective shortlist every catalog/assortment query family needs.
# Dominance: q beats p iff q.price <= p.price AND q.size >= p.size with
# at least one strict.
#
# Spark-first: a naive skyline is the NOT EXISTS self-join (the oracle
# runs exactly that); the distributed plan is (1) ONE map-combined
# groupBy(price) keeping each price's max size (same-price smaller
# sizes are dominated by strictness-in-size), then (2) an EXCLUSIVE
# running max of size over price order — a point survives iff its size
# strictly exceeds every cheaper point's size.  The running max uses
# the distributed_rank two-pass shape: range-repartition by price,
# per-partition local scan, driver-side P-entry prefix-max of partition
# maxima, broadcast back — NO global-order window, no self-join, and
# the repartitionByRange frame is materialized once (the per-job
# boundary-resampling lesson).
# ---------------------------------------------------------------------------


def pareto_skyline(df: DataFrame, price_col: str, size_col: str
                   ) -> DataFrame:
    """(price, size): the undominated frontier — minimal price, maximal
    size. Exact, never all-pairs; both columns should be exact
    integers for cross-engine determinism."""
    import pandas as real_pd

    best = (df.groupBy(F.col(price_col).alias("price"))
            .agg(F.max(F.col(size_col)).alias("size")))
    parts = (
        best.repartitionByRange(F.col("price"))
        .sortWithinPartitions("price")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)     # pin the range partitioning
    )
    # driver fold: per-partition max size (P scalars), exclusive prefix
    pmax = {r["_pid"]: r["m"] for r in
            parts.groupBy("_pid").agg(F.max("size").alias("m")).collect()}
    prefix = {}
    acc = None
    for pid in sorted(pmax):
        prefix[pid] = acc                # max size of ALL cheaper partitions
        acc = pmax[pid] if acc is None else max(acc, pmax[pid])

    def scan(it):
        # the running max must CARRY across the multiple Arrow batches
        # of one task (same lesson as distributed_prefix_sum: resetting
        # per batch only shows up once a partition exceeds one batch)
        run = None
        started = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            if not started:
                run = prefix[int(pdf["_pid"].iloc[0])]
                started = True
            keep = []
            for s in pdf["size"]:
                keep.append(run is None or s > run)
                run = s if run is None else max(run, s)
            out = pdf[real_pd.Series(keep, index=pdf.index)]
            yield out.drop(columns=["_pid"])

    return parts.mapInPandas(scan, "price long, size long").select(
        F.col("price").alias(price_col), F.col("size").alias(size_col))


_R81_ORACLE = """
WITH pts AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT DISTINCT price_cents, size FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price_cents <= p.price_cents AND q.size >= p.size
    AND (q.price_cents < p.price_cents OR q.size > p.size)
)
ORDER BY price_cents
"""


@register("r81_pareto_skyline", _R81_ORACLE, tags=("relational", "analytics"))
def r81_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size Pareto frontier of part — distributed prefix-max plan
    hash-matched against the oracle's quadratic NOT EXISTS."""
    p = _t(spark, sf_dir, "part").select(
        F.round(F.col("p_retailprice") * 100).cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("size"))
    return pareto_skyline(p, "price_cents", "size").orderBy("price_cents")


# ---------------------------------------------------------------------------
# r82: global equi-depth histogram — B buckets of (near-)equal row
# count over the full order-price distribution, with per-bucket
# boundaries and mass: the optimizer-statistics / data-profiling
# primitive (equi-depth histograms are what engines keep as column
# stats), and the partition-boundary planner for range-bucketed sinks.
#
# The naive plan is ntile(B) OVER (ORDER BY price) — a single-partition
# global sort, the classic scale bug.  Here the bucket id derives from
# the two-pass distributed_rank (range repartition + per-partition
# offsets): bucket = (rank-1)*B div n + 1, which equals SQL ntile's
# first-buckets-get-the-remainder assignment exactly — the oracle RUNS
# ntile and hash-equality proves the identity.  All outputs are exact
# BIGINTs (prices in integer cents).
# ---------------------------------------------------------------------------

_R82_BUCKETS = 16

_R82_ORACLE = f"""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), tiled AS (
  SELECT cents, ntile({_R82_BUCKETS}) OVER (ORDER BY cents, o_orderkey)
           AS bucket
  FROM pts
)
SELECT bucket::BIGINT AS bucket,
       count(*)::BIGINT AS n,
       min(cents) AS lo_cents,
       max(cents) AS hi_cents,
       sum(cents)::BIGINT AS mass_cents
FROM tiled GROUP BY 1
"""


def equidepth_histogram(df: DataFrame, value_col: str, key_col: str,
                        buckets: int = _R82_BUCKETS) -> DataFrame:
    """(bucket, n, lo_cents, hi_cents, mass_cents): B near-equal-count
    buckets over ``value_col`` (ties broken by ``key_col`` for a total
    order), identical to ntile(B) but with no global-sort window."""
    ranked = distributed_rank(
        df.select(F.col(value_col).alias("cents"), F.col(key_col)),
        ["cents", key_col], "rk")
    n = ranked.count()
    # SQL ntile front-loads the remainder: the first (n mod B) buckets
    # hold (n div B + 1) rows, the rest (n div B) — reproduce exactly
    q, r = divmod(n, buckets)
    head = r * (q + 1)   # ranks covered by the oversized buckets
    bucket = F.when(
        F.col("rk") <= head,
        F.expr(f"(rk - 1) div {q + 1}")            # integer-exact
    ).otherwise(
        F.expr(f"{r} + (rk - 1 - {head}) div {max(q, 1)}")
    ).cast("long") + 1
    return (ranked
            .select("cents", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("cents").alias("lo_cents"),
                 F.max("cents").alias("hi_cents"),
                 F.sum("cents").cast("long").alias("mass_cents")))


@register("r82_equidepth_histogram", _R82_ORACLE,
          tags=("relational", "analytics"))
def r82_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket equi-depth histogram of order prices — distributed
    ranking instead of a global ntile window, proven identical to it."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey")
    return equidepth_histogram(o, "cents", "o_orderkey")


# ---------------------------------------------------------------------------
# r85: exact WEIGHTED percentiles via a distributed exclusive
# prefix-sum — "the price below which half the shipped QUANTITY sits"
# (weighted median / p90 / p99): the inventory-weighted statistic that
# plain percentile() (row-weighted) gets wrong whenever weights are
# skewed.
#
# Same two-pass shape as r81's skyline prefix-max, generalized to a
# PREFIX-SUM: ONE map-combined groupBy(value) sums each distinct
# value's weight; range-repartition by value (materialized once — the
# boundary-resampling lesson), per-partition local cumsum, P-entry
# driver prefix of partition totals, broadcast back.  The percentile
# value is then the smallest value whose INCLUSIVE cumulative weight
# reaches p * W — one filter + min-aggregate per requested p.  All
# weights are exact BIGINTs; no global-order window anywhere.
# ---------------------------------------------------------------------------

_R85_PS = (50, 90, 99)

_R85_ORACLE = f"""
WITH vals AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         sum(CAST(l_quantity AS BIGINT))::BIGINT AS w
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT cents, w,
         sum(w) OVER (ORDER BY cents)::BIGINT AS cw,
         (SELECT sum(w) FROM vals)::BIGINT AS total
  FROM vals
)
SELECT p::BIGINT AS p,
       min(cents) AS value_cents
FROM cum CROSS JOIN (VALUES {", ".join(f"({p})" for p in _R85_PS)}) t(p)
WHERE cw * 100 >= p * total
GROUP BY 1
"""


def distributed_prefix_sum(df: DataFrame, order_col: str,
                           weight_col: str, out_col: str = "cw",
                           with_total: bool = False):
    """Adds ``out_col``: the INCLUSIVE cumulative sum of ``weight_col``
    in ``order_col`` order (which must be unique), with no global-order
    window — range repartition + local scan + driver prefix of P
    partition totals.

    ``with_total=True`` returns ``(frame, grand_total)`` — the total is
    already on the driver from the partition-totals collect, so callers
    that need it (r85) skip a whole re-aggregation job over the scan
    output (round 10, guide §2.4)."""
    import pandas as real_pd

    parts = (
        df.repartitionByRange(F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)     # pin the range partitioning
    )
    totals = {r["_pid"]: r["t"] for r in
              parts.groupBy("_pid")
              .agg(F.sum(weight_col).alias("t")).collect()}
    prefix = {}
    acc = 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += int(totals[pid])

    cols = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} long"

    def scan(it):
        # one mapInPandas task = one partition, but the iterator yields
        # MULTIPLE Arrow batches — the running sum must carry across
        # them (the same lesson as distributed_rank's position carry)
        run = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if run is None:
                run = prefix[int(pdf["_pid"].iloc[0])]
            out = pdf[cols].copy()
            out[out_col] = pdf[weight_col].cumsum().astype("int64") + run
            run += int(pdf[weight_col].sum())
            yield out

    result = parts.mapInPandas(scan, out_schema)
    if with_total:
        return result, acc
    return result


def weighted_percentiles(df: DataFrame, value_col: str, weight_col: str,
                         ps: tuple = _R85_PS) -> DataFrame:
    """(p, value_cents): exact weighted percentiles — smallest value
    whose inclusive cumulative weight reaches p% of the total."""
    vals = (df.groupBy(F.col(value_col).alias("cents"))
            .agg(F.sum(F.col(weight_col).cast("long")).cast("long")
                 .alias("w")))
    # total comes free from the prefix collect — the old max(cw) agg
    # re-ran the whole prefix scan as a second job (round 10, §2.4)
    cum, total = distributed_prefix_sum(vals, "cents", "w",
                                        with_total=True)
    pdf = df.sparkSession.createDataFrame([(p,) for p in ps], "p long")
    return (cum.crossJoin(F.broadcast(pdf))
            .filter(F.col("cw") * 100 >= F.col("p") * F.lit(total))
            .groupBy("p")
            .agg(F.min("cents").alias("value_cents")))


@register("r85_weighted_percentiles", _R85_ORACLE,
          tags=("relational", "stats"))
def r85_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price percentiles over lineitem — exact, via
    the distributed prefix-sum (no global cumsum window)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"))
    return weighted_percentiles(li, "cents", "qty")


# ---------------------------------------------------------------------------
# x96: embedding PCA — the spectrum of the r61 covariance made
# actionable: how many directions carry the embedding's variance
# (intrinsic dimensionality), the first thing checked before
# quantization (x65 PQ), random projection (x81 JL), or whitening
# (x88 Mahalanobis) — a near-flat tail says the index can drop
# dimensions for free.
#
# Scale: the ONLY distributed work is the r61 partial-Gram pass
# (d(d+1)/2 rows per partition); the d x d eigendecomposition is a
# driver-side numpy call on a metadata-sized matrix — exactly where a
# k x d / d x d problem belongs.  Rows-only (float spectrum); numpy-PCA
# parity in tests.
# ---------------------------------------------------------------------------


def embedding_pca(emb: DataFrame, top: int = 8) -> DataFrame:
    """(component, eigenvalue, explained_frac, cum_frac): top PCA
    spectrum of the embedding covariance."""
    import numpy as np

    rows = embedding_covariance(emb).collect()
    if not rows:
        return emb.sparkSession.createDataFrame(
            [], "component long, eigenvalue double, explained_frac double, "
                "cum_frac double")
    d = max(r["j"] for r in rows)
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    vals = np.linalg.eigvalsh(cov)[::-1]          # descending
    total = float(vals.sum())
    out = []
    cum = 0.0
    for k in range(min(top, d)):
        ev = float(vals[k])
        cum += ev
        out.append((k + 1, round(ev, 6),
                    round(ev / total, 6) if total else 0.0,
                    round(cum / total, 6) if total else 0.0))
    return emb.sparkSession.createDataFrame(
        out, "component long, eigenvalue double, explained_frac double, "
             "cum_frac double")


@register("x96_embedding_pca", None, tags=("similarity", "stats",
                                           "rows-only"))
def x96_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA spectrum of the embeddings table (rows-only: driver
    eigendecomposition of the distributed covariance; numpy parity in
    tests)."""
    return embedding_pca(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# x97: ANN index LIFECYCLE — build once, persist, search from disk.
# The x37/x76 IVF stack rebuilds its assignment per session; a
# production index is a TABLE: centroids (k x d, metadata-sized) plus
# the assignment written PARTITIONED BY list_id through the
# layout-aware sink — so a probe of n_probe lists is a parquet scan
# that PRUNES to n_probe directories before reading a byte.  The
# physical layout IS the index: the same promise IVF makes in memory,
# pushed down to the file listing.
#
# Search from the loaded index reuses _ivf_search verbatim; a test
# asserts built-vs-loaded results identical and that the probe scan's
# plan carries the list_id partition filter.
# ---------------------------------------------------------------------------


def build_ivf_index(spark: SparkSession, emb: DataFrame, path: str) -> None:
    """Persist an IVF index: <path>/centroids.parquet (k x d) and
    <path>/assigned/ partitioned by list_id."""
    from bayeslite_spark.sources.sink import write_partitioned

    cents, assigned, _ = ivf_assign(spark, emb)
    spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    write_partitioned(assigned, f"{path}/assigned", ["list_id"],
                      sort_key="vec_id")


def search_ivf_index(spark: SparkSession, path: str, queries,
                     n_probe: int = N_PROBE) -> DataFrame:
    """Top-K search against a PERSISTED index: centroid probe on the
    driver (k x d), then a corpus scan whose list_id partition filter
    prunes to the probed directories."""
    cent_rows = spark.read.parquet(f"{path}/centroids.parquet") \
        .orderBy("list_id").collect()
    cents = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    assigned = spark.read.parquet(f"{path}/assigned")
    return _ivf_search(spark, cents, assigned, queries, n_probe)


@register("x97_ann_index_search", None, tags=("similarity", "rows-only"))
def x97_ann_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the PERSISTED IVF index (built once per sf under
    .bench_artifacts, the model-fixture precedent): identical results
    to the in-memory x37 path, but the probe prunes list directories
    on disk."""
    import hashlib
    import inspect
    import os

    from bayeslite_spark.model_queries import _artifact_dir

    emb = _t(spark, sf_dir, "embeddings")
    # empty ingest day: no corpus -> no index -> empty result, not an
    # error (the 100 TB scheduled-run contract, same as x76)
    if not emb.filter(F.col("embedding").isNotNull()).limit(1).count():
        return spark.createDataFrame(
            [], "query_id long, vec_id long, rank bigint, cosine double")
    # content-key the artifact on the builder source (the model-fixture
    # fingerprint discipline): an ivf_assign/centroid-count change must
    # rebuild, not silently reuse a stale index
    fp = hashlib.sha256(
        (inspect.getsource(ivf_assign) + f"|k={N_CENTROIDS}").encode()
    ).hexdigest()[:12]
    path = os.path.join(
        os.path.dirname(_artifact_dir(sf_dir)),
        f"ivf_index_{os.path.basename(sf_dir.rstrip('/'))}_{fp}")
    if not os.path.exists(f"{path}/centroids.parquet"):
        build_ivf_index(spark, emb, path)
    q_rows = emb.filter(F.col("embedding").isNotNull()) \
        .filter(F.col("vec_id") < N_QUERIES) \
        .select("vec_id", "embedding").collect()
    return search_ivf_index(spark, path, q_rows)


# ---------------------------------------------------------------------------
# r90: small-quantity-order revenue (the TPC-H Q17 shape) — "revenue
# locked in orders below 20% of their part's average quantity": the
# classic CORRELATED AGGREGATE SUBQUERY (per-row avg over the same
# table).  The oracle runs the honest correlated form; the Spark plan
# DECORRELATES it into one map-combined per-part average + one
# equi-join + filter — the rewrite every optimizer textbook derives,
# proven value-identical here.  Exact integer cents; the threshold
# comparison is qty*5 < sum(qty)/count rearranged to integer-safe
# qty * 5 * cnt < sum — no float boundary anywhere.
# ---------------------------------------------------------------------------

_R90_ORACLE = """
SELECT CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0)
            AS BIGINT) AS small_qty_cents,
       count(*)::BIGINT AS n_lines
FROM lineitem l1
WHERE CAST(l1.l_quantity AS BIGINT) * 5 *
      (SELECT count(*) FROM lineitem l2
       WHERE l2.l_partkey = l1.l_partkey)
    < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem l2
       WHERE l2.l_partkey = l1.l_partkey)
"""


@register("r90_small_qty_revenue", _R90_ORACLE,
          tags=("relational", "join"))
def r90_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated Q17: per-part sums join back to the fact rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("cnt"))
    joined = li.join(per_part, "l_partkey").filter(
        F.col("qty") * 5 * F.col("cnt") < F.col("sq"))
    return joined.agg(
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
        .alias("small_qty_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"))


# ---------------------------------------------------------------------------
# r92: distribution-balanced resample — draw an equal quota of
# documents from every length decile, deterministically: the data-mixing
# primitive that flattens a skewed length distribution before training
# (long-tail docs stop being drowned by the short-doc mass).  Deciles
# come from the r82 equi-depth machinery (distributed_rank + exact
# ntile arithmetic — no global-sort window); the per-decile draw is a
# hash-ordered top-k (md5 order = the q38 deterministic-shuffle
# discipline), executed as Spark's WindowGroupLimit — map-side bounded
# per group, never a full per-decile sort shuffle.
# ---------------------------------------------------------------------------

_R92_DECILES = 10
_R92_QUOTA = 20

_R92_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, n_chars,
         ntile({_R92_DECILES}) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
), drawn AS (
  SELECT doc_id, n_chars, decile,
         row_number() OVER (PARTITION BY decile
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM ranked
)
SELECT decile::BIGINT AS decile, doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM drawn WHERE rk <= {_R92_QUOTA}
"""


def balanced_resample(docs: DataFrame, deciles: int = _R92_DECILES,
                      quota: int = _R92_QUOTA) -> DataFrame:
    """(decile, doc_id, n_chars): a deterministic equal-quota draw from
    every length decile."""
    ranked = distributed_rank(
        docs.select("doc_id", F.col("n_chars").cast("long")
                    .alias("n_chars")),
        ["n_chars", "doc_id"], "rk")
    n = ranked.count()
    q, r = divmod(n, deciles)
    head = r * (q + 1)
    decile = F.when(
        F.col("rk") <= head,
        F.expr(f"(rk - 1) div {q + 1}")
    ).otherwise(
        F.expr(f"{r} + (rk - 1 - {head}) div {max(q, 1)}")
    ).cast("long") + 1
    w = Window.partitionBy("decile").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (ranked.select("doc_id", "n_chars", decile.alias("decile"))
            .withColumn("draw", F.row_number().over(w))
            .filter(F.col("draw") <= quota)
            .select("decile", "doc_id", "n_chars"))


@register("r92_balanced_resample", _R92_ORACLE, tags=("pipeline", "text"))
def r92_balanced_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-quota deterministic draw from every document-length decile."""
    return balanced_resample(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x99: distinct-count sketch audit — x87's sketch-accuracy loop applied
# to HLL: per event type, the EXACT distinct-user count against
# approx_count_distinct at two precisions, with the relative error and
# the within-3-sigma flag (HLL's rsd bound).  The go/no-go before a
# pipeline replaces exact COUNT(DISTINCT) with the mergeable sketch at
# 100 TB — where the exact count is a full shuffle of user ids and the
# sketch is a few KB per key.
#
# Scale: ONE aggregate computes all three counters per key (the exact
# side is the expensive one — which is the point being measured).
# Rows-only (sketch values are engine-internal); the bound assertion
# lives in tests.
# ---------------------------------------------------------------------------

_X99_RSD = (0.05, 0.01)


@register("x99_distinct_sketch_audit", None,
          tags=("events", "stats", "sketch", "rows-only"))
def x99_distinct_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, exact, approx_5pct, approx_1pct, rel_err_5pct,
    rel_err_1pct, within_3rsd): HLL accuracy vs exact distinct users."""
    e = _t(spark, sf_dir, "events")
    # Round-9 shape: dedup to (event_type, user_id) FIRST (one map-
    # combined hash aggregate), then count + sketch the distinct pairs.
    # Mixing countDistinct with the HLL aggregates in one Aggregate made
    # Catalyst plan an Expand(x2) of every fact row; the explicit dedup
    # shuffles only distinct pairs (guide §2.3) and changes no value:
    # exact = count of the deduped pairs by construction, and an HLL
    # sketch is duplicate-insensitive, so approx_count_distinct over the
    # deduped set has bit-identical registers.
    pairs = e.select("event_type", "user_id").distinct()
    agg = pairs.groupBy("event_type").agg(
        # count(user_id), not count(*): countDistinct excluded NULL
        # user_ids, and the distinct can surface one NULL row per type
        F.count("user_id").cast("long").alias("exact"),
        F.approx_count_distinct("user_id", _X99_RSD[0]).cast("long")
        .alias("a5"),
        F.approx_count_distinct("user_id", _X99_RSD[1]).cast("long")
        .alias("a1"),
    )
    rel5 = F.abs(F.col("a5") - F.col("exact")) / F.col("exact")
    rel1 = F.abs(F.col("a1") - F.col("exact")) / F.col("exact")
    return agg.select(
        "event_type", "exact",
        F.col("a5").alias("approx_5pct"),
        F.col("a1").alias("approx_1pct"),
        F.round(rel5, 6).alias("rel_err_5pct"),
        F.round(rel1, 6).alias("rel_err_1pct"),
        ((rel5 <= 3 * _X99_RSD[0]) & (rel1 <= 3 * _X99_RSD[1]))
        .alias("within_3rsd"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# r93: autocorrelation function of daily revenue — the seasonality
# detector that precedes every forecasting model choice (r87 STL / x94
# Holt-Winters assume a period; ACF is how you FIND it).  Pearson r of
# the series against itself at lags 1..7.
#
# Scale: the raw fact table map-combines to the CALENDAR-BOUNDED daily
# table (<= 1 row per day forever); all lag work — an explode by lag
# plus one equi-join on (day+lag) — runs on that metadata-sized series.
# Exactness: every sum (sx, sy, sxy, sxx, syy) is computed on integer
# cents in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — pairwise products
# reach ~1e21 at x100 scale, past BIGINT — so both engines feed the SAME
# exact integers into the one float step (the final normalized ratio;
# sqrt is taken per side to keep each operand in double range).
# ---------------------------------------------------------------------------

_R93_MAX_LAG = 7

_R93_ORACLE = f"""
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS c
  FROM orders GROUP BY 1
), lags AS (
  SELECT unnest(range(1, {_R93_MAX_LAG + 1})) AS lag
), pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l, daily a JOIN daily b ON b.d = a.d + l.lag
), s AS (
  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag::BIGINT AS lag, CAST(n AS BIGINT) AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS acf
FROM s ORDER BY lag
"""


def daily_revenue_cents(orders: DataFrame) -> DataFrame:
    """(d, c): epoch-day, exact integer-cent revenue — the map-combined
    calendar-bounded series the time-series operators share."""
    return (
        orders.select(
            F.datediff(F.to_date("o_orderdate"),
                       F.to_date(F.lit("1970-01-01"))).alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("d").agg(F.sum("cents").cast("long").alias("c"))
    )


def acf(daily: DataFrame, max_lag: int = _R93_MAX_LAG) -> DataFrame:
    """(lag, n_pairs, acf): Pearson autocorrelation of a (d, c) integer
    series at lags 1..max_lag, exact up to the single final division."""
    dec = daily.select("d", F.col("c").cast("decimal(38,0)").alias("c"))
    lagged = (
        dec.select(
            "d", "c",
            F.explode(F.array(*[F.lit(i) for i in
                                range(1, max_lag + 1)])).alias("lag"))
        .select("lag", (F.col("d") + F.col("lag")).alias("d"),
                F.col("c").alias("x"))
    )
    pairs = lagged.join(dec.select("d", F.col("c").alias("y")), "d")
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return (
        s.select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_pairs"),
            F.round(cov.cast("double")
                    / (F.sqrt(vx.cast("double"))
                       * F.sqrt(vy.cast("double"))), 6).alias("acf"))
        .orderBy("lag")
    )


@register("r93_revenue_acf", _R93_ORACLE, tags=("stats", "timeseries"))
def r93_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily revenue at lags 1..7 (seasonality detection)."""
    return acf(daily_revenue_cents(_t(spark, sf_dir, "orders")))


# ---------------------------------------------------------------------------
# r94: referential-integrity audit — the production upgrade of r05's
# orphan check: all 7 FK edges of the star schema, SQL FK NULL semantics
# (a NULL FK references nothing — counted separately, never an orphan;
# r05 counts it as one), a distinct-orphan-KEY count alongside orphan
# rows, and a better plan: the child side map-combines to (fk, count)
# BEFORE the anti-join, so the shuffle moves key cardinality where r05's
# row-level anti-join moves every child row.
#
# Scale: per edge, the child side map-combines to (fk, count) — key
# cardinality, not row cardinality — before ONE anti-join against the
# parent key set (broadcast for dim parents, shuffle for fact parents;
# AQE picks).  NULL FKs are counted separately and excluded from the
# orphan check (SQL FK semantics: NULL references nothing).
# ---------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _r94_oracle() -> str:
    parts = []
    for c, fk, p, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{c}.{fk}->{p}.{pk}' AS edge,
       (SELECT count(*) FROM {c})::BIGINT AS n_rows,
       (SELECT count(*) FROM {c} WHERE {fk} IS NULL)::BIGINT AS n_null_fk,
       (SELECT count(*) FROM {c} WHERE {fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {p} WHERE {p}.{pk} = {c}.{fk})
       )::BIGINT AS n_orphan_rows,
       (SELECT count(DISTINCT {fk}) FROM {c} WHERE {fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {p} WHERE {p}.{pk} = {c}.{fk})
       )::BIGINT AS n_orphan_keys""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY edge"


_R94_ORACLE = _r94_oracle()


def fk_edge_audit(child: DataFrame, fk: str, parent: DataFrame, pk: str,
               edge: str) -> DataFrame:
    """One audit row for child.fk -> parent.pk: total rows, NULL FKs,
    orphan rows, distinct orphan keys."""
    keys = child.select(F.col(fk).alias("k"))
    totals = keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.col("k").isNull().cast("long")), F.lit(0))
        .cast("long").alias("n_null_fk"))
    grouped = (keys.filter(F.col("k").isNotNull())
               .groupBy("k").agg(F.count(F.lit(1)).alias("cnt")))
    orphan = grouped.join(
        parent.select(F.col(pk).alias("k")).distinct(), "k", "left_anti")
    osum = orphan.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long")
        .alias("n_orphan_rows"),
        F.count(F.lit(1)).cast("long").alias("n_orphan_keys"))
    return totals.crossJoin(osum).select(
        F.lit(edge).alias("edge"), "n_rows", "n_null_fk",
        "n_orphan_rows", "n_orphan_keys")


@register("r94_referential_integrity", _R94_ORACLE,
          tags=("relational", "join", "quality"))
def r94_referential_integrity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Orphan audit over all 7 FK edges of the star schema."""
    names = {t for c, _, p, _ in _FK_EDGES for t in (c, p)}
    dfs = {n: _t(spark, sf_dir, n) for n in names}
    out = None
    for c, fk, p, pk in _FK_EDGES:
        row = fk_edge_audit(dfs[c], fk, dfs[p], pk, f"{c}.{fk}->{p}.{pk}")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# r95: column-profiling report — per column of `orders`: NULL count,
# exact distinct count, and min/max in a typed canonical representation
# (BIGINTs as-is, doubles as integer cents, timestamps as ISO dates).
# The first thing any ingestion pipeline materializes about a new 100 TB
# drop, and the input to GUESS SCHEMA-style modeling decisions.
#
# Scale: ONE scan.  Multiple exact COUNT(DISTINCT) aggregates compile to
# Catalyst's Expand strategy — the input is replicated once per distinct
# aggregate but map-combines immediately to per-column key cardinality,
# the standard (and shuffle-optimal) multi-distinct plan.  min/max
# representations are applied AFTER aggregation (both transforms are
# monotonic, so min/max commute with them).  The 1-row aggregate is
# unpivoted driver-side-free via `stack`.
# ---------------------------------------------------------------------------

_R95_COLS = (
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "cents"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _r95_oracle() -> str:
    parts = []
    for c, kind in _R95_COLS:
        if kind == "long":
            mn, mx = (f"CAST(min({c}) AS VARCHAR)",
                      f"CAST(max({c}) AS VARCHAR)")
        elif kind == "str":
            mn, mx = f"min({c})", f"max({c})"
        elif kind == "cents":
            mn = f"CAST(CAST(round(min({c}) * 100) AS BIGINT) AS VARCHAR)"
            mx = f"CAST(CAST(round(max({c}) * 100) AS BIGINT) AS VARCHAR)"
        else:  # date
            mn, mx = (f"strftime(min({c}), '%Y-%m-%d')",
                      f"strftime(max({c}), '%Y-%m-%d')")
        parts.append(f"""
SELECT '{c}' AS col_name,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       {mn} AS min_repr, {mx} AS max_repr
FROM orders""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


_R95_ORACLE = _r95_oracle()


def _r95_repr(col, kind):
    if kind == "long":
        return col.cast("long").cast("string")
    if kind == "str":
        return col
    if kind == "cents":
        return F.round(col * 100).cast("long").cast("string")
    return F.date_format(col, "yyyy-MM-dd")


def column_profile(df: DataFrame, cols=_R95_COLS) -> DataFrame:
    """(col_name, n_nulls, n_distinct, min_repr, max_repr): one row per
    profiled column.

    Shape (round-9 rewrite): one two-phase hash aggregate PER COLUMN,
    unioned.  The previous single-pass battery used 6 countDistincts in
    one aggregate, which Catalyst plans as Expand(x7 rows) feeding
    SortAggregates — every fact row was replicated 7 times, sorted
    twice, and shuffled once per grouping (guide §2.3: aggregate before
    you shuffle; the Expand shape shuffles data-sized input).  Here each
    column map-combines to its distinct values first (groupBy(v) with
    partial aggregation), so the exchange carries DISTINCT VALUES +
    counts, never fact rows; nulls/min/max/distinct all derive from the
    value-level table.  Per-column scans re-read only that column
    (columnar format: 6 one-column scans = the bytes of one 6-column
    scan), and the 6 branches run inside one job."""
    profs = []
    for c, kind in cols:
        vals = (df.groupBy(F.col(c).alias("__v"))
                .agg(F.count(F.lit(1)).alias("__cnt")))
        profs.append(vals.agg(
            F.coalesce(F.sum(F.when(F.col("__v").isNull(), F.col("__cnt"))),
                       F.lit(0)).cast("long").alias("n_nulls"),
            F.count("__v").cast("long").alias("n_distinct"),
            _r95_repr(F.min("__v"), kind).alias("min_repr"),
            _r95_repr(F.max("__v"), kind).alias("max_repr"),
        ).select(
            F.lit(c).alias("col_name"), "n_nulls", "n_distinct",
            "min_repr", "max_repr"))
    out = profs[0]
    for p in profs[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name")


@register("r95_column_profile", _R95_ORACLE,
          tags=("relational", "quality"))
def r95_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the orders table."""
    return column_profile(_t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# r96: Theil–Sen robust trend — the median of all pairwise slopes of the
# daily-revenue series, beside the OLS slope it is robust AGAINST (one
# corrupted day drags OLS but moves a median of ~3M slopes by nothing).
# The estimator every monitoring pipeline wants for "is the metric
# actually trending or did one day glitch".
#
# Scale: the fact table map-combines to the calendar-bounded daily
# series first, so the O(days^2) pair enumeration is over metadata
# (2,399 days -> 2.9M slope pairs REGARDLESS of fact rows — the pair
# count is calendar-bounded, not data-bounded; documented
# single-reducer exception, same class as r78's islands).  OLS sums run
# in DECIMAL(38,0)/HUGEINT like r93 so both engines divide the same
# exact integers.
# ---------------------------------------------------------------------------

_R96_ORACLE = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders GROUP BY 1
), pairs AS (
  SELECT CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON b.d > a.d
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(d) AS HUGEINT) AS sd,
         CAST(sum(c) AS HUGEINT) AS sc,
         sum(CAST(d AS HUGEINT) * CAST(c AS HUGEINT)) AS sdc,
         sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
  FROM daily
)
SELECT (SELECT CAST(n AS BIGINT) FROM s) AS n_days,
       count(*)::BIGINT AS n_pairs,
       round(median(slope), 6) AS theil_sen_cents_per_day,
       (SELECT round(CAST(n * sdc - sd * sc AS DOUBLE)
                     / CAST(n * sdd - sd * sd AS DOUBLE), 6) FROM s)
         AS ols_cents_per_day
FROM pairs
"""


# Above this many slope pairs the driver stops materializing the full
# O(n^2) slope array (np.triu_indices at n=50k days would allocate ~30 GB
# — round-9 verdict "what's wrong" #2) and switches to the chunked
# constant-memory selection below.  8M pairs keeps every current SF
# (sf0.1: 2.9M pairs) on the UNCHANGED direct path.
_THEIL_SEN_DRIVER_PAIRS = 8_000_000


def _theil_sen_select_ranks(d, c, ks, chunk: int = 2048,
                            limit: int = 4_000_000):
    """Exact ``ks``-th smallest (1-based, sorted list) of the pairwise
    slope multiset {(c[j]-c[i])/(d[j]-d[i]) : i<j} WITHOUT materializing
    it: radix-style narrowing on the sortable-uint64 image of float64.

    Memory is O(chunk * n + 2^16) regardless of the pair count; each
    narrowing pass re-enumerates the pairs in chunks (vectorized numpy)
    and peels 16 bits of the key, so <= 4 passes + one candidate-collect
    pass.  Slopes are finite non-NaN (d values are distinct integers)
    and integer-difference quotients are never -0.0, so the key map is a
    strict total order and the selected values are bit-identical to a
    full sort's."""
    import numpy as np

    n = len(d)
    sign = np.uint64(1 << 63)
    pool_k = np.empty(chunk * n, dtype=np.uint64)

    def keys_of(x):
        # branch-free sortable-uint64 image, written into a pooled
        # buffer: key = u ^ (signbit ? 0xFFFF... : 0x8000...)
        u = x.view(np.uint64)
        k = pool_k[:len(u)]
        np.right_shift(u, np.uint64(63), out=k)
        np.multiply(k, np.uint64(0x7FFFFFFFFFFFFFFF), out=k)
        np.bitwise_or(k, sign, out=k)
        np.bitwise_xor(u, k, out=k)
        return k

    def key_to_float(k):
        u = np.uint64(k)
        u = (u & ~sign) if (u & sign) else ~u
        return float(np.array([u], dtype=np.uint64).view(np.float64)[0])

    # pooled buffers: every narrowing pass re-enumerates ~m slopes, and
    # fresh numpy temporaries that size turn into mmap + page-zeroing
    # churn (measured: 3m45s SYS time for the 50k-day series) — carve
    # exact-shaped views out of three preallocated pools instead
    pool_i = np.empty(chunk * n, dtype=np.int64)
    pool_d = np.empty(chunk * n, dtype=np.float64)
    pool_c = np.empty(chunk * n, dtype=np.float64)

    def for_each_chunk(fn):
        # slopes of rows i in [a, b) against all j > i, as (1) the small
        # intra-chunk triangle and (2) the full [a,b) x [b,n) rectangle
        # (mask-free) — int64 differences FIRST, float64 convert after,
        # exactly like the direct np.triu_indices path
        for a in range(0, n - 1, chunk):
            b = min(a + chunk, n - 1)
            ii, jj = np.triu_indices(b - a, k=1)
            if len(ii):
                fn(keys_of((c[a + jj] - c[a + ii]).astype(np.float64)
                           / (d[a + jj] - d[a + ii]).astype(np.float64)))
            if b < n:
                sz = (b - a) * (n - b)
                di = pool_i[:sz].reshape(b - a, n - b)
                dd = pool_d[:sz].reshape(b - a, n - b)
                cc = pool_c[:sz].reshape(b - a, n - b)
                np.subtract(d[None, b:], d[a:b, None], out=di)
                np.copyto(dd, di)                     # int64 -> float64
                np.subtract(c[None, b:], c[a:b, None], out=di)
                np.copyto(cc, di)
                np.divide(cc, dd, out=cc)
                fn(keys_of(pool_c[:sz]))

    def select(lo, hi, below, ks):
        # ``lo, hi``: inclusive uint64 key interval holding every rank in
        # ``ks``; ``below``: keys strictly below ``lo``
        while True:
            width = hi - lo + 1
            shift = 0
            while (width - 1) >> shift >= (1 << 16):
                shift += 1
            nb = ((width - 1) >> shift) + 1
            counts = np.zeros(int(nb), dtype=np.int64)
            lo_u, hi_u = np.uint64(lo), np.uint64(hi)
            sh = np.uint64(shift)
            full = lo == 0 and hi == (1 << 64) - 1

            def tally(keys):
                if full:
                    sel = keys      # first pass: no filtering, mutate
                else:
                    sel = keys[(keys >= lo_u) & (keys <= hi_u)]
                    np.subtract(sel, lo_u, out=sel)
                np.right_shift(sel, sh, out=sel)
                # bucket ids are < 2^16, so the uint64->int64 reinterpret
                # is safe and copy-free
                counts[:] += np.bincount(sel.view(np.int64),
                                         minlength=len(counts))

            for_each_chunk(tally)
            cum = np.cumsum(counts)
            if shift == 0:
                # buckets ARE exact keys: answer from the histogram (also
                # covers duplicate-heavy series — e.g. a perfectly linear
                # one, where every slope is the same value and a collect
                # pass would materialize the whole multiset)
                return [key_to_float(
                    lo + int(np.searchsorted(cum, k - below))) for k in ks]
            r_min, r_max = ks[0] - below, ks[-1] - below
            b1 = int(np.searchsorted(cum, r_min))
            b2 = int(np.searchsorted(cum, r_max))
            new_lo = lo + (b1 << shift)
            new_hi = min(hi, lo + ((b2 + 1) << shift) - 1)
            new_below = below + (int(cum[b1 - 1]) if b1 > 0 else 0)
            cand = int(cum[b2]) - (int(cum[b1 - 1]) if b1 > 0 else 0)
            if cand > limit and (new_lo, new_hi) == (lo, hi):
                # no progress: the ranks sit in the first and last bucket
                # and too many keys lie between them.  Narrow each rank on
                # its own — a single rank always shrinks to one bucket.
                return [v for k in ks
                        for v in select(lo, hi, below, [k])]
            lo, hi, below = new_lo, new_hi, new_below
            if cand <= limit:
                break

        vals = []
        lo_u, hi_u = np.uint64(lo), np.uint64(hi)

        def collect(keys):
            m = (keys >= lo_u) & (keys <= hi_u)
            if m.any():
                # invert the key map back to float64
                k = keys[m]
                neg = (k & sign) == np.uint64(0)
                u = np.where(neg, ~k, k & ~sign)
                vals.append(u.view(np.float64))

        for_each_chunk(collect)
        cands = np.sort(np.concatenate(vals))
        return [float(cands[k - below - 1]) for k in ks]

    return select(0, (1 << 64) - 1, 0, list(ks))


def theil_sen(daily: DataFrame) -> DataFrame:
    """(n_days, n_pairs, theil_sen_cents_per_day, ols_cents_per_day):
    median-of-pairwise-slopes trend beside the OLS slope, over a (d, c)
    integer series.

    The daily series is CALENDAR-BOUNDED (~2.4k rows for the 7-year
    corpus, and bounded by days-since-epoch forever — metadata, not
    data), so the O(days^2) slope median runs on the COLLECTED series
    with numpy: one map-combined aggregate produces ``daily`` upstream,
    and the 2.9M-slope enumeration + sort happen on the driver in ~ms.
    The previous shape shuffled the 2.9M slope rows through a range
    repartition + localCheckpoint + an Arrow rank pass (3 extra
    exchanges and a 2.9M-row Python boundary crossing) to find 2 middle
    values — guide §2.4/§5: the decision data is metadata-sized, so
    move it once and decide on the driver (the kmeans-centroid /
    MMR-candidate pattern this repo already uses).  Float parity is
    exact: slopes are the same (cb-ca)/(db-da) int64-subtract →
    float64-divide, the median is the same lo + (hi-lo)*0.5 on the same
    two sorted middle ranks, OLS sums are exact Python integers (the
    decimal(38,0) twin) with one float division, and the final
    round(·, 6) still happens in Spark so rounding semantics are
    unchanged."""
    import numpy as np

    spark = daily.sparkSession
    rows = daily.select("d", "c").collect()
    d = np.array([r["d"] for r in rows], dtype=np.int64)
    c = np.array([r["c"] for r in rows], dtype=np.int64)
    order = np.argsort(d)
    d, c = d[order], c[order]
    n = len(d)
    m = n * (n - 1) // 2
    med = None
    if m > 0:
        k1, k2 = (m + 1) // 2, (m + 2) // 2
        if m <= _THEIL_SEN_DRIVER_PAIRS:
            i, j = np.triu_indices(n, k=1)
            slopes = ((c[j] - c[i]).astype(np.float64)
                      / (d[j] - d[i]).astype(np.float64))
            slopes.sort()
            lo, hi = float(slopes[k1 - 1]), float(slopes[k2 - 1])
        else:
            # round-10 gate (guide §5): a multi-decade or finer-grain
            # series would OOM the full O(n^2) enumeration; the chunked
            # selection finds the SAME two middle slopes in bounded
            # memory (bit-identical values: same int64-diff ->
            # float64-divide slopes, exact total-order selection)
            lo, hi = _theil_sen_select_ranks(d, c, [k1, k2])
        med = lo + (hi - lo) * 0.5
    # OLS in exact arbitrary-precision integers; IEEE semantics at the
    # edge match Spark's decimal(38,0) -> double cast + double division
    # (0/0 -> NaN, x/0 -> signed infinity)
    ols = None
    if n > 0:
        di = [int(x) for x in d]
        ci = [int(x) for x in c]
        sd, sc = sum(di), sum(ci)
        sdc = sum(a * b for a, b in zip(di, ci))
        sdd = sum(a * a for a in di)
        num, den = n * sdc - sd * sc, n * sdd - sd * sd
        if den == 0:
            ols = float("nan") if num == 0 else float("inf") * (1 if num > 0 else -1)
        else:
            ols = float(num) / float(den)
    out = spark.createDataFrame(
        [(n, m, med, ols)],
        "n_days long, n_pairs long, med double, ols double")
    return out.select(
        "n_days", "n_pairs",
        F.round("med", 6).alias("theil_sen_cents_per_day"),
        F.round("ols", 6).alias("ols_cents_per_day"))


@register("r96_theil_sen_trend", _R96_ORACLE, tags=("stats", "timeseries"))
def r96_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (Theil–Sen) vs OLS daily-revenue trend."""
    return theil_sen(daily_revenue_cents(_t(spark, sf_dir, "orders")))


# ---------------------------------------------------------------------------
# r97: sole-late-supplier audit (TPC-H Q21's shape on this schema) — for
# multi-supplier orders, which supplier was the ONLY one to ship late?
# The classic EXISTS + NOT-EXISTS pair, decorrelated: both existential
# subqueries collapse into ONE (order, supplier) aggregate + ONE
# order-level aggregate joined back — two map-combined shuffles replace
# the oracle's two correlated scans per fact row.
#
# "Late" = shipped more than 90 days after the order date.  Top-10
# suppliers by count of such orders, totally ordered (count desc, name)
# so the cutoff is engine-independent.
# ---------------------------------------------------------------------------

_R97_LATE_DAYS = 90
_R97_TOP = 10

_R97_ORACLE = f"""
SELECT s_name, count(DISTINCT l1.l_orderkey)::BIGINT AS numwait
FROM supplier, lineitem l1, orders o
WHERE s_suppkey = l1.l_suppkey
  AND o.o_orderkey = l1.l_orderkey
  AND l1.l_shipdate > o.o_orderdate + INTERVAL {_R97_LATE_DAYS} DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL {_R97_LATE_DAYS} DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {_R97_TOP}
"""


@register("r97_waiting_suppliers", _R97_ORACLE,
          tags=("relational", "join"))
def r97_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top suppliers who were the sole late shipper on shared orders."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_R97_LATE_DAYS} DAYS"))
    os_grain = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("late"))
    )
    # order-level tallies as WINDOWS over the (order, supplier) grain
    # instead of a second aggregate joined back (round-9, guide §2.4):
    # the join-back shape evaluated the lineitem⨝orders grain twice —
    # once per branch — and paid an extra exchange; the windows reuse
    # one ordering of the same frame
    w_ord = Window.partitionBy("l_orderkey")
    sole = (os_grain
            .withColumn("n_supp", F.count(F.lit(1)).over(w_ord))
            .withColumn("n_late", F.sum("late").over(w_ord))
            .filter((F.col("late") == 1) & (F.col("n_supp") >= 2)
                    & (F.col("n_late") == 1)))
    return (
        sole.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).cast("long").alias("numwait"))
        # no hint: supplier scales with SF (~1B rows at 100 TB); AQE
        # broadcasts it by measured size at small scale (round-7 sweep)
        .join(supp.select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(_R97_TOP)
    )


# ---------------------------------------------------------------------------
# r98: idle high-balance customers (TPC-H Q22's shape) — customers whose
# balance beats the positive-balance average but who placed no order
# since a cutoff date, rolled up by market segment.  The scalar-subquery
# threshold is made an EXACT INTEGER comparison (cents * n_pos >
# sum_pos_cents — no float average, no cross-engine boundary row), and
# the NOT EXISTS is one anti-join against the distinct recent-buyer keys.
# "Never ordered" (Q22 verbatim) is vacuous on this corpus — 0 such
# customers at sf0.001/sf0.01, 1 at sf0.1 (round-7 verdict: an empty
# hash-match gates nothing) — so idle = no order on/after _R98_CUTOFF,
# which selects 5/55/646 customers at the three SFs.
# ---------------------------------------------------------------------------

_R98_CUTOFF = "2000-01-01"

_R98_ORACLE = f"""
SELECT c_mktsegment,
       count(*)::BIGINT AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_bal_cents
FROM customer
WHERE CAST(round(c_acctbal * 100) AS BIGINT)
      * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
    > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
       FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '{_R98_CUTOFF}')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("r98_idle_rich_customers", _R98_ORACLE,
          tags=("relational", "join"))
def r98_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recently-idle customers above the positive-balance average."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        (F.col("c_acctbal") > 0).alias("pos"))
    thr = cust.filter("pos").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum("cents").alias("sum_pos"))
    recent_buyers = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_R98_CUTOFF).cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey")).distinct())
    rich = (cust.crossJoin(F.broadcast(thr))
            .filter(F.col("cents") * F.col("n_pos") > F.col("sum_pos")))
    idle = rich.join(recent_buyers, "c_custkey", "left_anti")
    return (idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("total_bal_cents"))
        .orderBy("c_mktsegment"))


# ---------------------------------------------------------------------------
# r99: vocabulary growth curve (Heaps' law evidence) — distinct-token
# count after the first 1/5/25/50/100 % of the corpus (by doc_id order):
# the curve that tells a data-mix planner whether more crawl keeps
# buying vocabulary or has saturated.
#
# Scale: each token type reduces to (token, first_doc_rank) via one
# map-combined min-aggregate over the doc-rank join; the 5 checkpoint
# counts are conditional sums in ONE pass over that type-sized table.
# Doc ranks come from `distributed_rank` (two-pass range partitioning —
# no global window); the corpus size joins in as a broadcast 1-row
# aggregate, so thresholds are computed in-plan, not driver-side.
# ---------------------------------------------------------------------------

_R99_PCTS = (1, 5, 25, 50, 100)

_R99_ORACLE = f"""
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk FROM documents
), tok AS (
  SELECT d.rk, unnest(list_filter(string_split(t.text, ' '),
                                  w -> w <> '')) AS w
  FROM documents t JOIN d USING (doc_id)
), fs AS (
  SELECT w, min(rk) AS fr FROM tok GROUP BY w
), n AS (
  SELECT count(*) AS n_docs FROM documents
)
SELECT p.pct::BIGINT AS pct,
       CAST(ceil(p.pct * n.n_docs / 100.0) AS BIGINT) AS n_docs_prefix,
       (SELECT count(*) FROM fs
        WHERE fr <= ceil(p.pct * n.n_docs / 100.0))::BIGINT AS vocab
FROM (VALUES {", ".join(f"({p})" for p in _R99_PCTS)}) AS p(pct), n
ORDER BY p.pct
"""


def vocab_growth(docs: DataFrame, pcts=_R99_PCTS) -> DataFrame:
    """(pct, n_docs_prefix, vocab): distinct-token count within the
    first pct% of documents in doc_id order."""
    ranked = distributed_rank(docs.select("doc_id"), ["doc_id"], "rk")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    tok = (docs.select("doc_id", F.explode(toks).alias("w"))
           .join(ranked, "doc_id"))
    fs = tok.groupBy("w").agg(F.min("rk").alias("fr"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    counted = fs.crossJoin(F.broadcast(n)).agg(
        F.first("n_docs").alias("n_docs"),
        *[F.sum((F.col("fr")
                 <= F.ceil(F.col("n_docs") * F.lit(p) / 100.0))
                .cast("long")).alias(f"v{p}") for p in pcts])
    rows = F.array(*[
        F.struct(
            F.lit(p).cast("long").alias("pct"),
            F.ceil(F.col("n_docs") * F.lit(p) / 100.0).cast("long")
            .alias("n_docs_prefix"),
            F.col(f"v{p}").alias("vocab"))
        for p in pcts])
    return (counted.select(F.explode(rows).alias("r"))
            .select("r.pct", "r.n_docs_prefix", "r.vocab")
            .orderBy("pct"))


@register("r99_vocab_growth", _R99_ORACLE, tags=("pipeline", "text"))
def r99_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over the corpus in doc_id order."""
    return vocab_growth(fan_out(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# r102: snapshot diff — classify every key across two table snapshots
# as added / removed / changed / unchanged in ONE full-outer equi-join:
# the CDC-reconciliation primitive (did yesterday's load drop rows? how
# big is today's churn?) that at 100 TB must never be a row-by-row
# compare loop.  The "next" snapshot here is DERIVED deterministically
# from the fixtures (2001 buyers get a balance bump; negative-balance
# never-buyers are dropped; never-buying BUILDING customers spawn
# key-shifted prospect rows), so both engines diff the same two tables
# and the oracle proves the classification logic itself.
#
# Scale: one shuffle per side on the key + the join; the summary is a
# 4-row map-combined aggregate.  All compared columns are exact
# integers/strings — no float equality anywhere.
# ---------------------------------------------------------------------------

_R102_BUMP = 1000
_R102_SHIFT = 10_000_000

_R102_ORACLE = f"""
WITH base AS (
  SELECT c_custkey AS k,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
         c_mktsegment AS seg
  FROM customer
), buyers2001 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE CAST(strftime(o_orderdate, '%Y') AS INT) = 2001
), buyers_any AS (
  SELECT DISTINCT o_custkey FROM orders
), snap_b AS (
  SELECT k,
         cents + CASE WHEN k IN (SELECT o_custkey FROM buyers2001)
                      THEN {_R102_BUMP} ELSE 0 END AS cents,
         seg
  FROM base
  WHERE NOT (cents < 0
             AND k NOT IN (SELECT o_custkey FROM buyers_any))
  UNION ALL
  SELECT k + {_R102_SHIFT}, 0, seg FROM base
  WHERE seg = 'BUILDING'
    AND k NOT IN (SELECT o_custkey FROM buyers_any)
), diff AS (
  SELECT coalesce(a.k, b.k) AS k,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'removed'
              WHEN a.cents IS DISTINCT FROM b.cents
                   OR a.seg IS DISTINCT FROM b.seg THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM base a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT change_type, count(*)::BIGINT AS n,
       sum(k)::BIGINT AS key_sum
FROM diff GROUP BY change_type ORDER BY change_type
"""


def snapshot_diff(a: DataFrame, b: DataFrame, key: str,
                  cols: list[str]) -> DataFrame:
    """(change_type, n, key_sum): added/removed/changed/unchanged
    census of snapshot ``b`` against snapshot ``a`` on ``key``,
    comparing ``cols`` with NULL-safe equality."""
    fa = a.select(F.col(key).alias("k"), F.lit(1).alias("_ina"),
                  *[F.col(c).alias(f"a_{c}") for c in cols])
    fb = b.select(F.col(key).alias("k"), F.lit(1).alias("_inb"),
                  *[F.col(c).alias(f"b_{c}") for c in cols])
    j = fa.join(fb, "k", "full_outer")
    changed = None
    for c in cols:
        d = ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
        changed = d if changed is None else (changed | d)
    ct = (F.when(F.col("_ina").isNull(), "added")
          .when(F.col("_inb").isNull(), "removed")
          .when(changed, "changed")
          .otherwise("unchanged"))
    return (j.select("k", ct.alias("change_type"))
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("k").cast("long").alias("key_sum"))
            .orderBy("change_type"))


@register("r102_snapshot_diff", _R102_ORACLE,
          tags=("relational", "quality", "join"))
def r102_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn census between the customer snapshot and its derived
    next-day snapshot."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_mktsegment").alias("seg"))
    buyers2001 = (orders.filter(F.year("o_orderdate") == 2001)
                  .select(F.col("o_custkey").alias("k")).distinct())
    buyers_any = orders.select(F.col("o_custkey").alias("k")).distinct()
    bumped = (base.join(buyers2001.withColumn("_b01", F.lit(1)), "k", "left")
              .join(buyers_any.withColumn("_bany", F.lit(1)), "k", "left"))
    kept = (bumped.filter(~((F.col("cents") < 0)
                            & F.col("_bany").isNull()))
            .select("k",
                    (F.col("cents")
                     + F.when(F.col("_b01").isNotNull(), _R102_BUMP)
                     .otherwise(0)).alias("cents"),
                    "seg"))
    prospects = (bumped.filter((F.col("seg") == "BUILDING")
                               & F.col("_bany").isNull())
                 .select((F.col("k") + _R102_SHIFT).alias("k"),
                         F.lit(0).cast("long").alias("cents"), "seg"))
    snap_b = kept.unionByName(prospects)
    return snapshot_diff(base, snap_b, "k", ["cents", "seg"])


# ---------------------------------------------------------------------------
# r103: MAD robust outliers — per event type: exact median, median
# absolute deviation, and the count of values farther than 3.5 MADs
# from the median.  The robust anomaly screen that (unlike z-scores)
# one corrupted feed cannot blind by inflating its own threshold.
#
# Scale: group cardinality is |event types| (bounded), so the exact
# per-group percentile aggregates are safe (each reducer holds one
# type's values — the documented bounded-group exception; for
# unbounded group keys the r85 weighted-percentile machinery is the
# tool).  Two grouped aggregates + one broadcast join back; counts are
# exact, and both engines interpolate the same doubles so the
# comparison boundary is engine-independent.
# ---------------------------------------------------------------------------

_R103_K = 3.5

_R103_ORACLE = f"""
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(dev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type, count(*)::BIGINT AS n,
       round(any_value(d.med), 6) AS med,
       round(any_value(m.mad), 6) AS mad,
       count(*) FILTER (d.dev > {_R103_K} * m.mad)::BIGINT AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def mad_outliers(events: DataFrame, k: float = _R103_K) -> DataFrame:
    """(event_type, n, med, mad, n_outliers): robust outlier census
    per event type at k MADs."""
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (events.select("event_type", "value")
           .join(F.broadcast(med), "event_type")
           .withColumn("dev", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad"))
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.first("med"), 6).alias("med"),
                 F.round(F.first("mad"), 6).alias("mad"),
                 F.sum((F.col("dev") > F.lit(k) * F.col("mad"))
                       .cast("long")).cast("long").alias("n_outliers"))
            .orderBy("event_type"))


@register("r103_mad_outliers", _R103_ORACLE, tags=("events", "stats"))
def r103_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust (median/MAD) outlier census."""
    return mad_outliers(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r106: PIVOT — event counts and exact value cents per activity day,
# pivoted by event type into columns.  The reshape every BI
# export runs; the SCALABLE form pins the pivot values explicitly
# (groupBy().pivot(values=[...])) so Spark skips the extra
# distinct-scan pass AND the column set cannot explode under a
# high-cardinality key — at 100 TB an unpinned pivot is a driver OOM.
# One map-combined aggregate; integer cents.
# ---------------------------------------------------------------------------

_R106_TYPES = ("click", "error", "purchase", "signup", "view")

_R106_ORACLE = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       {", ".join(
           f"count(*) FILTER (event_type = '{t}')::BIGINT AS n_{t}, "
           f"coalesce(sum(CAST(round(value * 100) AS BIGINT)) "
           f"FILTER (event_type = '{t}'), 0)::BIGINT AS cents_{t}"
           for t in _R106_TYPES)}
FROM events GROUP BY day ORDER BY day
"""


@register("r106_event_pivot", _R106_ORACLE, tags=("events", "olap"))
def r106_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event matrix: counts + cents per type as pivot columns."""
    e = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    piv = (e.groupBy("day")
           .pivot("event_type", list(_R106_TYPES))
           .agg(F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("cents"), F.lit(0)).alias("cents")))
    # Spark names pivot columns "<value>_<alias>"; project to the
    # oracle's n_<type>/cents_<type> with explicit zero-fill
    cols = [F.col("day")]
    for t in _R106_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long")
                    .alias(f"n_{t}"))
        cols.append(F.coalesce(F.col(f"{t}_cents"), F.lit(0)).cast("long")
                    .alias(f"cents_{t}"))
    return piv.select(*cols).orderBy("day")


# ---------------------------------------------------------------------------
# r107: fuzzy probe match — best supplier-name match for a bounded
# probe list of misspelled names by Levenshtein distance: the
# entity-lookup half of record linkage (r32 does blocked pairwise
# linkage; this is the "user typed a name, find the entity" shape).
#
# Scale: the probe list is a BOUNDED literal table (broadcast); the
# corpus streams past it once — |probes| x N comparisons, linear in N,
# never corpus x corpus.  Ranking is a per-probe window over the
# match candidates; edit distance is an exact integer on both engines.
# ---------------------------------------------------------------------------

_R107_PROBES = ("SUPPLIER_01", "SUPLIER_103", "SUPPLER_27", "SUPPLIIER_5")


def _r107_oracle() -> str:
    vals = ", ".join(f"('{p}')" for p in _R107_PROBES)
    return f"""
WITH probes(probe) AS (VALUES {vals}),
scored AS (
  SELECT p.probe, s.s_name, s.s_suppkey,
         levenshtein(p.probe, s.s_name)::BIGINT AS dist
  FROM probes p, supplier s
)
SELECT probe, s_name AS best_match, s_suppkey AS best_suppkey, dist,
       row_number() OVER (PARTITION BY probe
                          ORDER BY dist, s_suppkey)::BIGINT AS rank
FROM scored QUALIFY rank <= 3
ORDER BY probe, rank
"""


def fuzzy_probe_match(probes: DataFrame, names: DataFrame,
                      top: int = 3) -> DataFrame:
    """(probe, best_match, best_suppkey, dist, rank): top edit-distance
    matches per probe.  probes: (probe); names: (s_suppkey, s_name)."""
    scored = names.crossJoin(F.broadcast(probes)).select(
        "probe", F.col("s_name").alias("best_match"),
        F.col("s_suppkey").alias("best_suppkey"),
        F.levenshtein("probe", "s_name").cast("long").alias("dist"))
    w = Window.partitionBy("probe").orderBy("dist", "best_suppkey")
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= top)
            .orderBy("probe", "rank"))


@register("r107_fuzzy_match", _r107_oracle(),
          tags=("relational", "dedup", "text"))
def r107_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 supplier-name matches per misspelled probe."""
    probes = spark.createDataFrame([(p,) for p in _R107_PROBES],
                                   "probe string")
    return fuzzy_probe_match(
        probes, _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))


# ---------------------------------------------------------------------------
# r108: equi-width histogram — width_bucket-style binning of order
# totals into fixed dollar bands: the complement of r82's EQUI-DEPTH
# histogram (fixed edges / variable mass vs fixed mass / computed
# edges).  One map-combined aggregate over integer bucket ids; bucket
# arithmetic in integer cents so edge rows land identically on both
# engines (a $500.00 order is exactly on an edge — no float boundary).
# ---------------------------------------------------------------------------

_R108_WIDTH_CENTS = 5_000_000     # $50,000 bands
_R108_N_BUCKETS = 12              # values beyond the last edge clamp

_R108_ORACLE = f"""
WITH b AS (
  SELECT least(CAST(round(o_totalprice * 100) AS BIGINT)
                 // {_R108_WIDTH_CENTS}, {_R108_N_BUCKETS - 1}) AS bucket,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT bucket::BIGINT AS bucket,
       (bucket * {_R108_WIDTH_CENTS})::BIGINT AS lo_cents,
       count(*)::BIGINT AS n,
       sum(cents)::BIGINT AS total_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("r108_value_histogram", _R108_ORACLE,
          tags=("relational", "stats"))
def r108_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width order-value histogram (integer-cent bucket edges)."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    bucket = F.least(F.expr(f"cents div {_R108_WIDTH_CENTS}"),
                     F.lit(_R108_N_BUCKETS - 1)).cast("long")
    return (o.select(bucket.alias("bucket"), "cents")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("cents").cast("long").alias("total_cents"))
            .select("bucket",
                    (F.col("bucket") * _R108_WIDTH_CENTS).cast("long")
                    .alias("lo_cents"), "n", "total_cents")
            .orderBy("bucket"))


# ---------------------------------------------------------------------------
# r113: universal quantifier — orders where EVERY lineitem has shipped
# (linestatus 'F'), per month with revenue: the FOR-ALL shape
# (NOT EXISTS an unshipped line) decorrelated to a map-combined
# per-order bool_and; completes the quantifier surface beside q07's
# EXISTS/IN and r97's sole-late NOT-EXISTS pair.
# ---------------------------------------------------------------------------

_R113_ORACLE = """
SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
       count(*)::BIGINT AS n_full,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT
         AS cents_full
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_linestatus <> 'F')
GROUP BY month ORDER BY month
"""


@register("r113_fully_shipped", _R113_ORACLE,
          tags=("relational", "join"))
def r113_fully_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly orders whose every lineitem is final-status."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.min((F.col("l_linestatus") == "F").cast("int")).alias("all_f"))
    o = _t(spark, sf_dir, "orders")
    return (o.join(per_order.filter(F.col("all_f") == 1),
                   o.o_orderkey == F.col("l_orderkey"))
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_full"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .cast("long").alias("cents_full"))
            .orderBy("month"))


# ---------------------------------------------------------------------------
# r114: date-spine gap fill — a CONTINUOUS daily series from min to max
# order date, zero-filling days with no orders: the report-ready time
# series every dashboard needs (r54 interpolates VALUES at known
# points; this materializes the missing points themselves).
#
# Scale: the spine is generated IN-PLAN (explode(sequence(min, max)))
# from a broadcast 1-row min/max aggregate — calendar-bounded, no
# driver loop; one left join against the calendar-bounded daily
# aggregate.  Integer cents.
# ---------------------------------------------------------------------------

_R114_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
         count(*) AS n
  FROM orders GROUP BY 1
), bounds AS (
  SELECT min(day) AS lo, max(day) AS hi FROM daily
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(d.cents, 0)::BIGINT AS cents,
       coalesce(d.n, 0)::BIGINT AS n_orders,
       (d.day IS NULL) AS is_gap
FROM spine s LEFT JOIN daily d ON d.day = s.day
ORDER BY s.day
"""


@register("r114_date_spine", _R114_ORACLE,
          tags=("temporal", "relational"))
def r114_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled continuous daily revenue series."""
    daily = (_t(spark, sf_dir, "orders")
             .groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                  .alias("cents"),
                  F.count(F.lit(1)).alias("n")))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    return (spine.join(daily, "day", "left")
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.coalesce("cents", F.lit(0)).cast("long")
                    .alias("cents"),
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_orders"),
                    F.col("n").isNull().alias("is_gap"))
            .orderBy("day"))


# ---------------------------------------------------------------------------
# r116: late-order priority census (the TPC-H Q4 shape) — how many orders
# of each priority had at least one lineitem shipped > 60 days after the
# order date.  The reference surface is a correlated EXISTS per order
# (grammar EXISTS exprs, like q07's family); Spark-first this is ONE
# left-semi join whose condition mixes the equi key with the non-equi
# lateness predicate — Catalyst keys the shuffle on l_orderkey and
# evaluates the date predicate inside the join, so there is no per-order
# re-scan and no second pass.
#
# Scale: one key-partitioned semi join (lineitem pruned to 2 columns at
# the scan) + a 5-group aggregate.  All-integer output.
# ---------------------------------------------------------------------------

_R116_LATE_DAYS = 60

_R116_ORACLE = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL {_R116_LATE_DAYS} DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("r116_priority_late_orders", _R116_ORACLE,
          tags=("relational", "join"))
def r116_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with any >60-day-late lineitem, counted by priority
    (TPC-H Q4 shape): correlated EXISTS decorrelated to one mixed-
    condition semi join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate
           > F.col("o_orderdate") + F.expr(f"INTERVAL {_R116_LATE_DAYS} DAYS"))
    )
    return (
        o.join(li, cond, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# r117: cross-nation trade flows (the TPC-H Q7 shape) — yearly revenue
# between every (supplier nation -> customer nation) pair where the two
# differ.  The reference surface is the nested-join volume query;
# Spark-first the fact scan shuffles ONCE on the lineitem->orders key,
# the supplier join is AQE-sized (supplier scales with SF), and the
# nation dim broadcasts TWICE under different aliases (the classic
# role-playing dimension).
#
# Float: revenue per (pair, year) is round(sum, 4) on both engines.
# ---------------------------------------------------------------------------

_R117_ORACLE = """
WITH fact AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
  WHERE ns.n_nationkey <> nc.n_nationkey
)
SELECT supp_nation, cust_nation, o_year,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(rev), 4) AS revenue
FROM fact GROUP BY 1, 2, 3
"""


@register("r117_nation_trade_flows", _R117_ORACLE,
          tags=("relational", "join", "olap"))
def r117_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue per differing (supplier nation, customer nation)
    pair (TPC-H Q7 shape) — one fact shuffle, twice-broadcast nation dim."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(F.col("n_nationkey").alias("ns_key"),
                  F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("nc_key"),
                  F.col("n_name").alias("cust_nation"))
    fact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)  # AQE decides: SF-scaled dim
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
    )
    return fact.groupBy(
        "supp_nation", "cust_nation",
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.sum("rev"), 4).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# r118: returned-item customer ranking (the TPC-H Q10 shape) — the top
# 20 customers by revenue lost to returned lineitems, with their nation.
# The ordering key is the ROUNDED revenue (bit-identical across engines)
# with c_custkey as the total-order tie-break, so the top-20 cutoff is
# engine-independent; the global sort compiles to TakeOrderedAndProject
# (distributed heap top-k, never a single-partition sort).
# ---------------------------------------------------------------------------

_R118_TOP = 20

_R118_ORACLE = f"""
WITH ret AS (
  SELECT o.o_custkey,
         CAST(count(*) AS BIGINT) AS n_items,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS lost_rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       ret.n_items, ret.lost_rev
FROM ret
JOIN customer c ON ret.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY ret.lost_rev DESC, c.c_custkey
LIMIT {_R118_TOP}
"""


@register("r118_returned_item_ranking", _R118_ORACLE,
          tags=("relational", "join", "sort"))
def r118_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-lineitem revenue with nation
    (TPC-H Q10 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey",
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("rev"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
             F.round(F.sum("rev"), 4).alias("lost_rev"))
    )
    return (
        ret.join(c, ret.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"),
                "n_items", "lost_rev")
        .orderBy(F.col("lost_rev").desc(), "c_custkey")
        .limit(_R118_TOP)
    )


# ---------------------------------------------------------------------------
# r119: promo revenue share per month (the TPC-H Q14 shape) — what
# fraction of each month's part revenue came from PROMO-type parts.
# Conditional aggregation over one lineitem->part join; the share
# divides two ROUNDED sums (the q90 discipline), so it is bit-identical
# across engines with no outer round.
#
# Scale: part is an SF-scaled dim -> NO force-hint (AQE sizes it); the
# month rollup is calendar-bounded.
# ---------------------------------------------------------------------------

_R119_ORACLE = """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0 END), 4) AS promo_rev,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_rev,
       round(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice * (1 - l.l_discount)
                 ELSE 0 END), 4)
         / round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
         AS promo_share
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1 ORDER BY 1
"""


@register("r119_promo_revenue_share", _R119_ORACLE,
          tags=("relational", "olap", "temporal"))
def r119_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts (TPC-H Q14 shape)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0.0)
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)  # AQE decides: SF-scaled dim
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
             F.round(F.sum(promo), 4).alias("promo_rev"),
             F.round(F.sum("rev"), 4).alias("total_rev"))
    )
    return agg.select(
        "month", "n_items", "promo_rev", "total_rev",
        (F.col("promo_rev") / F.col("total_rev")).alias("promo_share"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# r120: large-volume customers (the TPC-H Q18 shape) — orders whose total
# quantity exceeds a threshold, with the ordering customer.  The
# reference surface is GROUP BY + HAVING feeding an IN subquery;
# Spark-first the HAVING aggregate IS the driving table (no IN: the
# order-grain aggregate joins orders/customer directly).  Quantities are
# integral, so every number is exact and the oracle hashes bit-for-bit.
# ---------------------------------------------------------------------------

_R120_MIN_QTY = 300

_R120_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity) > {_R120_MIN_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice, big.total_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("r120_large_volume_customers", _R120_ORACLE,
          tags=("relational", "groupby", "join"))
def r120_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose summed quantity exceeds 300, with their customers
    (TPC-H Q18 shape)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > _R120_MIN_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("o_orderdate"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
                "total_qty")
    )


# ---------------------------------------------------------------------------
# r121: supplier concentration per part (a Q11/Q20-flavored procurement
# audit) — per part: supplier count, total shipped quantity, the top
# supplier's share, and the Herfindahl index of the supplier mix.  A
# sourcing team reads this to find single-sourced parts BEFORE a supply
# shock does.
#
# Exactness: quantities are integral, so per-(part,supplier) sums, their
# squares, totals, and max are all exact BIGINTs; top_share and hhi are
# each ONE division of exact integers (hhi = sum(q^2) / t^2) —
# bit-identical across engines, no rounding anywhere.
#
# Scale: two map-combined aggregates — (part, supplier) grain, then part
# grain; output is |parts| rows.  No windows, no joins beyond the
# re-aggregation.
# ---------------------------------------------------------------------------

_R121_ORACLE = """
WITH pq AS (
  SELECT l_partkey,
         CAST(round(sum(l_quantity)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT l_partkey AS p_partkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(q) AS BIGINT) AS total_qty,
       max(q) * 1.0 / sum(q) AS top_share,
       sum(q * q) * 1.0 / (sum(q) * sum(q)) AS hhi
FROM pq GROUP BY 1
"""


@register("r121_supplier_concentration", _R121_ORACLE,
          tags=("relational", "groupby", "olap"))
def r121_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part supplier concentration: top-supplier share + Herfindahl
    index, all exact-integer ratios."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    pq = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("q"))
    )
    return (
        pq.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("q").cast("long").alias("total_qty"),
            F.max("q").alias("_max_q"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("_sum_q2"),
        )
        .select(
            "p_partkey", "n_suppliers", "total_qty",
            (F.col("_max_q") * F.lit(1.0) / F.col("total_qty"))
            .alias("top_share"),
            (F.col("_sum_q2") * F.lit(1.0)
             / (F.col("total_qty") * F.col("total_qty"))).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# r131: seasonality index — each calendar month's revenue share of its
# year, indexed against a flat 1/12 (index > 1 = hot month).  The
# demand-planning table behind every inventory forecast.  Two grains of
# the SAME aggregate (month, year) joined back — the q90 two-grain
# pattern on the time dimension; all integer cents, index = ONE
# division of exact integers scaled by 12.
#
# Scale: one map-combined month-grain aggregate (calendar-bounded);
# year grain re-aggregates the month table (never rescans facts);
# broadcast join of two bounded tables.
# ---------------------------------------------------------------------------

_R131_ORACLE = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(month(o_orderdate) AS BIGINT) AS o_month,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1, 2
), yearly AS (
  SELECT o_year, sum(cents)::BIGINT AS year_cents FROM monthly GROUP BY 1
)
SELECT m.o_year, m.o_month, m.cents, m.n_orders,
       m.cents * 12.0 / y.year_cents AS seasonality_index
FROM monthly m JOIN yearly y USING (o_year)
"""


@register("r131_seasonality_index", _R131_ORACLE,
          tags=("relational", "temporal", "olap"))
def r131_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue indexed against the flat-year baseline (12 x
    month share of year)."""
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    monthly = o.groupBy("o_year", "o_month").agg(
        F.sum("c").cast("long").alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"))
    yearly = monthly.groupBy("o_year").agg(
        F.sum("cents").cast("long").alias("year_cents"))
    return (monthly.join(F.broadcast(yearly), "o_year")
            .select("o_year", "o_month", "cents", "n_orders",
                    (F.col("cents") * F.lit(12.0) / F.col("year_cents"))
                    .alias("seasonality_index")))


# ---------------------------------------------------------------------------
# r132: basket-size distribution — how many orders carry k lineitems,
# with each size's share of orders and of revenue.  The order-degree
# histogram that sizes the r79 per-basket pairing cap and the q20
# packing buckets from DATA instead of guesses.
#
# Scale: one map-combined order-grain aggregate, then a histogram over
# the bounded basket-size domain.  Counts exact; shares int/int and
# rsum/rsum.
# ---------------------------------------------------------------------------

_R132_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, count(*)::BIGINT AS basket_size,
         round(sum(l_extendedprice), 2) AS rev
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT count(*)::BIGINT AS n_orders, round(sum(rev), 2) AS total_rev
  FROM per_order
)
SELECT basket_size,
       CAST(count(*) AS BIGINT) AS n_orders,
       count(*) * 1.0 / max(tot.n_orders) AS order_share,
       round(sum(rev), 2) AS revenue,
       round(sum(rev), 2) / max(tot.total_rev) AS revenue_share
FROM per_order, tot
GROUP BY basket_size
"""


@register("r132_basket_size_distribution", _R132_ORACLE,
          tags=("relational", "groupby"))
def r132_basket_size_distribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Histogram of lineitems-per-order with order and revenue shares."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey",
                                              "l_extendedprice")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("basket_size"),
        F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    tot = per_order.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_t"),
        F.round(F.sum("rev"), 2).alias("total_rev"))
    hist = per_order.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("rev"), 2).alias("revenue"))
    return (hist.crossJoin(F.broadcast(tot))
            .select("basket_size", "n_orders",
                    (F.col("n_orders") * F.lit(1.0) / F.col("n_orders_t"))
                    .alias("order_share"),
                    "revenue",
                    (F.col("revenue") / F.col("total_rev"))
                    .alias("revenue_share")))


# ---------------------------------------------------------------------------
# r133: minimum-cost supplier per part (the TPC-H Q2 shape) — for every
# p_size=15 part, the supplier(s) whose lineitem hit the part's minimum
# extended price.  The reference surface is Q2's correlated
# min-subquery; Spark-first it decorrelates to one min-aggregate and an
# equality join back (the same rows both engines select exactly: min()
# of doubles is order-insensitive — no summation, no rounding).
#
# Scale: lineitem shuffles once on l_partkey for the min; the join back
# re-uses the same key partitioning; part is filtered before its join
# (predicate pushed to the scan) and supplier joins AQE-sized.
# ---------------------------------------------------------------------------

_R133_SIZE = 15

_R133_ORACLE = f"""
WITH m AS (
  SELECT l_partkey, min(l_extendedprice) AS min_price
  FROM lineitem GROUP BY 1
), pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice FROM lineitem
)
SELECT p.p_partkey, p.p_name, s.s_name, m.min_price
FROM part p
JOIN m ON m.l_partkey = p.p_partkey
JOIN pairs l ON l.l_partkey = p.p_partkey
            AND l.l_extendedprice = m.min_price
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size = {_R133_SIZE}
ORDER BY p.p_partkey, s.s_name
"""


@register("r133_min_cost_supplier", _R133_ORACLE,
          tags=("relational", "join"))
def r133_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier(s) per size-15 part (TPC-H Q2 shape):
    correlated min decorrelated to a min-aggregate + equality join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    # m and pairs both derive from li: rename every column on each arm so
    # the self-join attribution is unambiguous
    m = (li.groupBy("l_partkey")
         .agg(F.min("l_extendedprice").alias("min_price"))
         .withColumnRenamed("l_partkey", "m_partkey"))
    pairs = li.distinct().select(
        F.col("l_partkey").alias("pr_partkey"),
        F.col("l_suppkey").alias("pr_suppkey"),
        F.col("l_extendedprice").alias("pr_price"))
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_size") == _R133_SIZE)
            .select("p_partkey", "p_name"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (part
            .join(m, part.p_partkey == F.col("m_partkey"))
            .join(pairs, (F.col("pr_partkey") == part.p_partkey)
                  & (F.col("pr_price") == F.col("min_price")))
            # no hint: supplier scales with SF; AQE sizes the join
            .join(supp, F.col("pr_suppkey") == supp.s_suppkey)
            .select("p_partkey", "p_name", "s_name",
                    F.col("min_price"))
            .orderBy("p_partkey", "s_name"))


# ---------------------------------------------------------------------------
# r134: nation revenue concentration (the TPC-H Q11 shape) — supplier
# nations whose lineitem revenue share beats 1/26 of the total, the
# scalar-subquery HAVING.  All arithmetic exact: cents BIGINT and the
# threshold cross-multiplied (cents * 26 > total), so no float boundary
# row can diverge between engines.
#
# Scale: one fact aggregate keyed by supplier, supplier joins AQE-sized,
# nation broadcasts; the grand total is a broadcast 1-row aggregate of
# the 25-row nation table.
# ---------------------------------------------------------------------------

_R134_MULT = 26

_R134_ORACLE = f"""
WITH nv AS (
  SELECT n.n_name,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
), t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM nv)
SELECT nv.n_name, nv.cents
FROM nv, t
WHERE nv.cents * {_R134_MULT} > t.tot
ORDER BY nv.cents DESC, nv.n_name
"""


@register("r134_nation_revenue_concentration", _R134_ORACLE,
          tags=("relational", "join", "olap"))
def r134_nation_revenue_concentration(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Supplier nations holding more than a 1/26 revenue share (TPC-H
    Q11 shape, exact cross-multiplied HAVING)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # pre-aggregate the fact to supplier grain BEFORE the dim joins: the
    # shuffle moves supplier-count rows, not lineitem-count rows
    per_supp = li.groupBy("l_suppkey").agg(F.sum("c").alias("c"))
    nv = (per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey)
          .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
          .groupBy("n_name").agg(F.sum("c").cast("long").alias("cents")))
    tot = nv.agg(F.sum("cents").alias("tot"))
    return (nv.crossJoin(F.broadcast(tot))
            .filter(F.col("cents") * _R134_MULT > F.col("tot"))
            .select("n_name", "cents")
            .orderBy(F.desc("cents"), "n_name"))


# ---------------------------------------------------------------------------
# r135: dominant part-suppliers (the TPC-H Q20 shape) — (part, supplier)
# pairs whose shipped quantity exceeds 3x the part's per-supplier
# average, rolled up to the top-20 suppliers by dominated-part count.
# The correlated half-sum subquery decorrelates to one part-grain
# aggregate joined back; the threshold is the exact integer
# cross-multiplication  q * n_suppliers > 3 * total_qty  (quantities
# are whole numbers; average-relative, so the predicate stays
# meaningful at any scale factor — a fixed 50%-of-part share empties
# out as parts spread across more suppliers).
#
# Scale: two aggregates over ONE l_partkey shuffle (pair grain reuses
# the part-grain partitioning), supplier join AQE-sized, final top-k is
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_R135_MULT = 3
_R135_TOP = 20

_R135_ORACLE = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), p AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq,
         count(*)::BIGINT AS ns
  FROM ps GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_dominated
FROM ps JOIN p USING (l_partkey)
JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE ps.q * p.ns > {_R135_MULT} * p.tq
GROUP BY s.s_name
ORDER BY n_dominated DESC, s.s_name
LIMIT {_R135_TOP}
"""


@register("r135_dominant_part_suppliers", _R135_ORACLE,
          tags=("relational", "join"))
def r135_dominant_part_suppliers(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Suppliers dominating parts at >3x the per-supplier average
    (TPC-H Q20 shape, exact integer cross-multiplication)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("q"))
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").cast("long").alias("q"))
    p = ps.groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("tq"),
        F.count(F.lit(1)).cast("long").alias("ns"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dom = (ps.join(p, "l_partkey")
           .filter(F.col("q") * F.col("ns") > _R135_MULT * F.col("tq")))
    return (dom.join(supp, dom.l_suppkey == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("n_dominated"))
            .orderBy(F.desc("n_dominated"), "s_name")
            .limit(_R135_TOP))


# ---------------------------------------------------------------------------
# r136: part-supplier census (the TPC-H Q16 shape) — distinct supplier
# counts per (p_brand, p_type), excluding complaint-list suppliers (the
# NOT IN subquery; here: negative account balance).  Spark-first the
# NOT IN is one anti-join before the distinct count.
#
# Scale: the exclusion list is an aggregate of the supplier dim (AQE
# broadcasts it when small); the census is one distinct-aggregate over
# the (brand, type, supplier) projection.
# ---------------------------------------------------------------------------

_R136_ORACLE = """
SELECT p.p_brand, p.p_type,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
ORDER BY n_suppliers DESC, p.p_brand, p.p_type
"""


@register("r136_part_supplier_census", _R136_ORACLE,
          tags=("relational", "join", "groupby"))
def r136_part_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct non-excluded suppliers per (brand, type) — TPC-H Q16
    shape with the NOT IN as an anti-join."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    excl = (_t(spark, sf_dir, "supplier")
            .filter(F.col("s_acctbal") < 0)
            .select(F.col("s_suppkey").alias("l_suppkey")))
    return (li.join(excl, "l_suppkey", "left_anti")
            .join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type")
            .agg(F.count_distinct("l_suppkey").cast("long")
                 .alias("n_suppliers"))
            .orderBy(F.desc("n_suppliers"), "p_brand", "p_type"))


# ---------------------------------------------------------------------------
# r137: customer-spend Gini coefficient — the inequality summary a CRM
# reads next to r121's HHI.  G = (2 * sum(i * x_i)) / (n * sum(x))
# - (n + 1) / n over spend ranked ascending.  The rank comes from
# `distributed_rank` (two-pass range partitioning — never a global
# window).  Overflow discipline (r8 ADVICE): each rk * cents term fits
# int64 to ~3e6 customers, but SUM(rk * cents) is bounded by n * total
# and crosses 2^63 around sf 5-10 (~1e6 customers × ~2e14 total cents
# ≈ 2e20), where non-ANSI Spark would wrap SILENTLY while DuckDB stays
# exact — so both engines sum in wide exact integers (Spark
# decimal(38,0), DuckDB's native HUGEINT sum), good past 1e38, then
# make ONE deterministic correctly-rounded cast to double at the
# output edge.  The Gini itself is ONE fixed-order float expression of
# those exact wide integers (double range 1e308 — no overflow).
# ---------------------------------------------------------------------------

_R137_ORACLE = """
WITH spend AS (
  SELECT c_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, c_custkey) AS rk
  FROM spend
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS total_cents,
       CAST(sum(CAST(rk AS HUGEINT) * cents) AS DOUBLE)
         AS rank_weighted_cents,
       (2.0 * CAST(sum(CAST(rk AS HUGEINT) * cents) AS DOUBLE))
         / (count(*) * CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE))
         - (count(*) + 1.0) / count(*) AS gini
FROM ranked
"""


@register("r137_spend_gini", _R137_ORACLE,
          tags=("relational", "stats", "rank"))
def r137_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend via distributed_rank."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    spend = (o.join(cust, o.o_custkey == cust.c_custkey)
             .groupBy("c_custkey").agg(F.sum("c").cast("long").alias("cents")))
    ranked = distributed_rank(spend, ["cents", "c_custkey"], "rk")
    # exact wide-integer moments: rk is widened BEFORE the multiply
    # (mirrors the oracle's CAST(rk AS HUGEINT) * cents) so even the
    # per-term product never touches int64; sums are decimal(38,0) —
    # exact far past the int64 wrap point
    rw = F.sum(F.col("rk").cast("decimal(19,0)") * F.col("cents"))
    tot = F.sum(F.col("cents").cast("decimal(38,0)"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        tot.cast("double").alias("total_cents"),
        rw.cast("double").alias("rank_weighted_cents"),
        ((F.lit(2.0) * rw.cast("double")) / (n * tot.cast("double"))
         - (n + F.lit(1.0)) / n)
        .alias("gini"))


# ---------------------------------------------------------------------------
# r138: shipping-priority revenue top-10 (the TPC-H Q3 shape) — unshipped
# BUILDING-segment revenue per order at a date cutoff.  Revenue is
# round(sum, 2) on both engines (the repo's float-sum discipline,
# r117); the top-k compiles to TakeOrderedAndProject.
#
# Scale: both date filters push to the scans; one orderkey-keyed shuffle
# joins the fact sides; customer pre-filtered before its join.
# ---------------------------------------------------------------------------

_R138_CUT = "1997-01-01"
_R138_TOP = 10

_R138_ORACLE = f"""
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '{_R138_CUT}'
  AND l.l_shipdate > TIMESTAMP '{_R138_CUT}'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, o.o_orderkey
LIMIT {_R138_TOP}
"""


@register("r138_shipping_priority", _R138_ORACLE,
          tags=("relational", "join"))
def r138_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped BUILDING orders by revenue (TPC-H Q3 shape)."""
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderdate") < F.lit(_R138_CUT).cast("timestamp"))
         .select("o_orderkey", "o_custkey", "o_orderdate",
                 "o_orderpriority"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > F.lit(_R138_CUT).cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (o.join(cust, o.o_custkey == cust.c_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("orderdate"),
                     "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
            .orderBy(F.desc("revenue"), "o_orderkey")
            .limit(_R138_TOP))


# ---------------------------------------------------------------------------
# r139: local-supplier volume (the TPC-H Q5 shape) — revenue where the
# customer and the lineitem's supplier sit in the SAME nation, per
# nation of one region.  The mixed join condition (equi orderkey +
# equi suppkey + the nationkey equality) evaluates inside the joins.
# ---------------------------------------------------------------------------

_R139_REGION = "AFRICA"

_R139_ORACLE = f"""
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{_R139_REGION}'
GROUP BY 1
ORDER BY revenue DESC, n.n_name
"""


@register("r139_local_supplier_volume", _R139_ORACLE,
          tags=("relational", "join"))
def r139_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-nation customer/supplier revenue per nation of one region
    (TPC-H Q5 shape)."""
    nat = _t(spark, sf_dir, "nation")
    reg = (_t(spark, sf_dir, "region")
           .filter(F.col("r_name") == _R139_REGION))
    region_nations = (nat.join(F.broadcast(reg),
                               nat.n_regionkey == reg.r_regionkey)
                      .select("n_nationkey", "n_name"))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(region_nations),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "c_nationkey", "n_name"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (o.join(cust, o.o_custkey == cust.c_custkey)
            .join(li, o.o_orderkey == li.l_orderkey)
            # supplier scales with SF: AQE sizes it; the same-nation
            # predicate rides the join condition
            .join(supp, (li.l_suppkey == supp.s_suppkey)
                  & (supp.s_nationkey == cust.c_nationkey))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "n_name"))


# ---------------------------------------------------------------------------
# r140: market share by year (the TPC-H Q8 shape) — one nation's share
# of a region's PROMO-part revenue per order year.  Share is rsum/rsum
# (the q90 pattern: both sums rounded identically before the division).
# ---------------------------------------------------------------------------

_R140_REGION = "AMERICA"
_R140_NATION = "BRAZIL"
_R140_TYPE = "PROMO"

_R140_ORACLE = f"""
WITH fact AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{_R140_TYPE}'
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
               AND r.r_name = '{_R140_REGION}'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = '{_R140_NATION}' THEN vol
                      ELSE 0 END), 2) AS nation_vol,
       round(sum(vol), 2) AS total_vol,
       round(sum(CASE WHEN supp_nation = '{_R140_NATION}' THEN vol
                      ELSE 0 END), 2) / round(sum(vol), 2) AS mkt_share
FROM fact GROUP BY 1 ORDER BY 1
"""


@register("r140_market_share_by_year", _R140_ORACLE,
          tags=("relational", "join", "olap"))
def r140_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's share of a region's PROMO revenue per year (TPC-H
    Q8 shape): conditional aggregation, never two fact passes."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vol"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.year("o_orderdate").cast("long").alias("o_year"))
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_type") == _R140_TYPE).select("p_partkey"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation")
    reg = (_t(spark, sf_dir, "region")
           .filter(F.col("r_name") == _R140_REGION))
    region_nat = (nat.join(F.broadcast(reg),
                           nat.n_regionkey == reg.r_regionkey)
                  .select(F.col("n_nationkey").alias("cn_key")))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nat = nat.select(F.col("n_nationkey").alias("sn_key"),
                          F.col("n_name").alias("supp_nation"))
    fact = (li.join(part, li.l_partkey == part.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(cust, o.o_custkey == cust.c_custkey)
            .join(F.broadcast(region_nat),
                  cust.c_nationkey == F.col("cn_key"))
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(supp_nat), supp.s_nationkey == F.col("sn_key")))
    is_nation = (F.col("supp_nation") == _R140_NATION).cast("int")
    return (fact.groupBy("o_year")
            .agg(F.round(F.sum(F.col("vol") * is_nation), 2)
                 .alias("nation_vol"),
                 F.round(F.sum("vol"), 2).alias("total_vol"))
            .select("o_year", "nation_vol", "total_vol",
                    (F.col("nation_vol") / F.col("total_vol"))
                    .alias("mkt_share"))
            .orderBy("o_year"))


# ---------------------------------------------------------------------------
# r141: product-type profit by supplier nation and year (the TPC-H Q9
# shape, adapted: no partsupp table in this corpus, so profit =
# discounted revenue of ECONOMY-type parts).  Round(sum, 2) per cell.
# ---------------------------------------------------------------------------

_R141_TYPE = "ECONOMY"

_R141_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{_R141_TYPE}'
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""


@register("r141_nation_year_profit", _R141_ORACLE,
          tags=("relational", "join", "olap"))
def r141_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECONOMY-part revenue by supplier nation and order year (TPC-H
    Q9 shape without partsupp)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vol"))
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_type") == _R141_TYPE).select("p_partkey"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation"))
    return (li.join(part, li.l_partkey == part.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum("vol"), 2).alias("profit"))
            .orderBy("nation", F.desc("o_year")))


# ---------------------------------------------------------------------------
# r142: customer order-count distribution (the TPC-H Q13 shape) — how
# many customers placed k non-finished orders, k = 0 included (the LEFT
# join is the point of Q13).  All-integer output.
#
# Scale: the orders side pre-aggregates to customer grain BEFORE the
# left join, so the join moves customer-count rows; the final histogram
# is a bounded-domain aggregate.
# ---------------------------------------------------------------------------

_R142_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                     AND o.o_orderstatus <> 'F'
  GROUP BY 1
) x
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("r142_order_count_distribution", _R142_ORACLE,
          tags=("relational", "join", "groupby"))
def r142_order_count_distribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Histogram of non-finished orders per customer, zero bucket
    included (TPC-H Q13 shape)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (_t(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") != "F")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n")))
    joined = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey,
                       "left")
    return (joined.select(F.coalesce(F.col("n"), F.lit(0)).cast("long")
                          .alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


# ---------------------------------------------------------------------------
# r143: small-quantity revenue (the TPC-H Q17 shape) — lineitems whose
# quantity is below 20% of their part's average quantity.  The
# correlated AVG subquery decorrelates to one part-grain aggregate and
# the threshold is the exact integer cross-multiplication
# 5 * qty * n_part > sum_qty_part (quantities are whole numbers).
# ---------------------------------------------------------------------------

_R143_ORACLE = """
WITH pa AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         count(*)::BIGINT AS cq
  FROM lineitem GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
       round(sum(l.l_extendedprice), 2) AS small_qty_revenue
FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
WHERE 5 * CAST(l.l_quantity AS BIGINT) * pa.cq < pa.sq
"""


@register("r143_small_quantity_revenue", _R143_ORACLE,
          tags=("relational", "join"))
def r143_small_quantity_revenue(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Revenue locked in below-20%-of-average-quantity lineitems (TPC-H
    Q17 shape, exact cross-multiplied threshold)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice",
        F.col("l_quantity").cast("long").alias("q"))
    pa = li.groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("cq"))
    return (li.join(pa, "l_partkey")
            .filter(F.lit(5) * F.col("q") * F.col("cq") < F.col("sq"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_lineitems"),
                 F.round(F.sum("l_extendedprice"), 2)
                 .alias("small_qty_revenue")))


# ---------------------------------------------------------------------------
# Round-9 wave: the last TPC-H query shapes absent from the registry —
# Q6 / Q12 / Q15 / Q19 / Q22 analogs (r144-r148), adapted to the corpus
# columns (no l_shipmode/l_receiptdate/c_phone/p_container in the test
# schema; each substitution is noted).  Float discipline: every money
# aggregate is EXACT integer cent (x100) or cent-percent (x10000) units
# summed as BIGINT, with at most ONE fixed-order float expression at the
# output edge — never an engine-ordered float sum.
# ---------------------------------------------------------------------------

_R144_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cp
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("r144_forecast_revenue_change", _R144_ORACLE,
          tags=("relational",))
def r144_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue increase from dropping small discounts (TPC-H Q6 shape):
    one scan, every predicate pushed to parquet, map-combined exact
    cent-percent (price-cents x discount-percent) BIGINT sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")
                   * F.round(F.col("l_discount") * 100).cast("long"))
             .cast("long").alias("revenue_cp")))


_R145_CUT = 45  # days from order to ship that counts as late

_R145_ORACLE = f"""
SELECT l.l_returnflag AS shipclass,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL {_R145_CUT} DAY
GROUP BY 1
ORDER BY 1
"""


@register("r145_latemode_priority", _R145_ORACLE,
          tags=("relational", "join"))
def r145_latemode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority mix of slow shipments by ship class (TPC-H Q12 shape;
    the corpus has no l_shipmode/l_receiptdate, so the mode is
    l_returnflag and lateness is shipdate >= orderdate + 45 days):
    one orderkey-keyed join, conditional integer counts, 3-row result."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (o.join(li, o.o_orderkey == li.l_orderkey)
            .filter(F.col("l_shipdate")
                    >= F.date_add(F.col("o_orderdate"), _R145_CUT))
            .groupBy(F.col("l_returnflag").alias("shipclass"))
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(hi, 0).otherwise(1)).cast("long")
                 .alias("low_line_count"))
            .orderBy("shipclass"))


_R146_Q0, _R146_Q1 = "1996-01-01", "1996-04-01"

_R146_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS revenue_cp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_R146_Q0}'
    AND l_shipdate < TIMESTAMP '{_R146_Q1}'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.revenue_cp
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.revenue_cp = (SELECT max(revenue_cp) FROM rev)
ORDER BY s.s_suppkey
"""


@register("r146_top_supplier", _R146_ORACLE, tags=("relational", "join"))
def r146_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue supplier for a quarter (TPC-H Q15 shape): the view +
    scalar-subquery max decorrelated to a supplier-grain EXACT
    cent-percent aggregate, a 1-row broadcast max, and an equality
    join-back — ties kept, exact integer equality (never float =)."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit(_R146_Q0).cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit(_R146_Q1).cast("timestamp")))
          .select("l_suppkey",
                  (F.round(F.col("l_extendedprice") * 100).cast("long")
                   * (100 - F.round(F.col("l_discount") * 100).cast("long")))
                  .alias("cp")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum("cp").cast("long").alias("revenue_cp")))
    top = rev.agg(F.max("revenue_cp").alias("revenue_cp"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(top), "revenue_cp")
            .join(sup, rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "revenue_cp")
            .orderBy("s_suppkey"))


_R147_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("r147_brand_disjunction", _R147_ORACLE,
          tags=("relational", "join"))
def r147_brand_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive promo-eligibility revenue (TPC-H Q19 shape; no
    p_container in the corpus, so each arm is brand + size-range +
    quantity-range): the OR-of-ANDs stays ONE predicate after the join —
    Catalyst extracts the common p_brand IN (...) / l_quantity range
    conjuncts for scan-level pushdown on both sides."""
    pa = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    arm = lambda b, smax, q0, q1: (  # noqa: E731 — local predicate builder
        (F.col("p_brand") == b) & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(q0, q1))
    return (li.join(pa, li.l_partkey == pa.p_partkey)
            .filter(arm("Brand#12", 15, 1, 11)
                    | arm("Brand#23", 25, 10, 20)
                    | arm("Brand#34", 35, 20, 30))
            .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                 F.sum((F.round(F.col("l_extendedprice") * 100).cast("long")
                        * (100 - F.round(F.col("l_discount") * 100)
                           .cast("long"))))
                 .cast("long").alias("revenue_cp")))


_R148_NATIONS = (3, 9, 13, 17, 21)
_R148_CUT = "2001-01-01"  # "lapsed" = no order on/after this date

_R148_ORACLE = f"""
WITH pos AS (
  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM customer
  WHERE c_acctbal > 0.0 AND c_nationkey IN {_R148_NATIONS}
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer c, pos
WHERE c.c_nationkey IN {_R148_NATIONS}
  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.total_cents
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '{_R148_CUT}')
GROUP BY 1
ORDER BY 1
"""


@register("r148_prospect_customers", _R148_ORACLE,
          tags=("relational", "join"))
def r148_prospect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich never-ordered prospects by nation (TPC-H Q22 shape; the
    corpus has no c_phone, so the country-code list is c_nationkey IN
    (...)): the scalar above-average predicate is EXACT integers
    (cents * n > total_cents — no float avg comparison to diverge at a
    boundary), broadcast as a 1-row frame; lapsed (no order since
    2001-01-01 — the corpus gives every customer SOME order, so
    strict never-ordered is vacuous) is a left anti-join against the
    date-filtered orders side."""
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_nationkey").isin(*_R148_NATIONS))
            .select("c_custkey", "c_nationkey",
                    F.round(F.col("c_acctbal") * 100).cast("long")
                    .alias("cents")))
    pos = (cust.filter(F.col("cents") > 0)
           .agg(F.sum("cents").cast("long").alias("total_cents"),
                F.count(F.lit(1)).cast("long").alias("n")))
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate")
                      >= F.lit(_R148_CUT).cast("timestamp"))
              .select("o_custkey"))
    return (cust.crossJoin(F.broadcast(pos))
            .filter(F.col("cents") * F.col("n") > F.col("total_cents"))
            .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 F.sum("cents").cast("long").alias("totacctbal_cents"))
            .orderBy("c_nationkey"))
