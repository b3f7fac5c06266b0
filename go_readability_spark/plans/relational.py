"""Relational-shell operators ([S] tier, SURVEY.md §2) demonstrated over the
driver's testdata tables, each with a DuckDB oracle twin.

These are the cross-document dataflow shapes the extraction pipeline uses:
bucketed metrics aggregation, broadcast anti-join resume, full-outer golden
comparison, salted-key distribution, readerable pre-screen — plus the
window/join/rollup shapes the registry checks over the events and orders
tables (top-k, sessionization, as-of and range joins, hourly segment
rollup, view→click attribution, ROLLUP).

Cross-engine determinism: double SUMs are order-dependent, so every summed
double goes through DECIMAL (exact, associative) and the final value is
cast back to double — bit-identical regardless of partitioning.  Hash/salt
functions use plain modular arithmetic (not engine-specific hash64s) so the
oracle can reproduce them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

N_BUCKETS = 16
SALT = 64
# Deterministic LCG-style salt shared with the oracle (not xxhash64, which
# DuckDB can't reproduce; production uses pmod(xxhash64(doc_id), B)).
_SALT_EXPR = "pmod(doc_id * 1103515245 + 12345, {m})"
_SALT_DUCK = "((doc_id * 1103515245 + 12345) % {m} + {m}) % {m}"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- metrics agg
def metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket corpus metrics — the extraction_metrics aggregation shape
    (FIXTURES.md §3): one hash-shuffle, map-side partial agg."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("bucket_id", F.expr(_SALT_EXPR.format(m=N_BUCKETS)).cast("int"))
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket_id")
    )


def metrics_agg_oracle_sql() -> str:
    salt = _SALT_DUCK.format(m=N_BUCKETS)
    return f"""
SELECT CAST({salt} AS INT) AS bucket_id,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, max(n_chars) AS max_chars
FROM documents GROUP BY 1 ORDER BY bucket_id
"""


# ------------------------------------------------------------- resume anti-join
def resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume shape: corpus buckets anti-joined against the
    'done' lineage set (broadcast — lineage is B rows at any scale)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "bucket_id", F.expr(_SALT_EXPR.format(m=N_BUCKETS)).cast("int")
    )
    done = spark.range(0, N_BUCKETS, 3).select(
        F.col("id").cast("int").alias("bucket_id")
    )  # synthetic lineage: buckets 0,3,6,... already done
    pending = docs.join(F.broadcast(done), "bucket_id", "left_anti")
    return (
        pending.groupBy("bucket_id")
        .agg(F.count("*").alias("n_pending"), F.min("doc_id").alias("first_doc"))
        .orderBy("bucket_id")
    )


def resume_anti_join_oracle_sql() -> str:
    salt = _SALT_DUCK.format(m=N_BUCKETS)
    return f"""
WITH bucketed AS (
  SELECT *, CAST({salt} AS INT) AS bucket_id FROM documents
), done AS (
  SELECT CAST(x AS INT) AS bucket_id FROM range(0, {N_BUCKETS}, 3) t(x)
)
SELECT bucket_id, count(*) AS n_pending, min(doc_id) AS first_doc
FROM bucketed WHERE bucket_id NOT IN (SELECT bucket_id FROM done)
GROUP BY bucket_id ORDER BY bucket_id
"""


# ------------------------------------------------------------ golden compare
def golden_compare_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-comparison shape: full-outer join of 'actual' vs 'expected'
    frames + per-row match verdicts, aggregated.  Here: recomputed char
    count vs the table's n_chars column."""
    docs = _t(spark, sf_dir, "documents")
    actual = docs.select("doc_id", F.length("text").alias("len_actual"))
    expected = docs.select("doc_id", F.col("n_chars").alias("len_expected"))
    joined = actual.join(expected, "doc_id", "full_outer")
    return (
        joined.select(
            F.when(F.col("len_actual") == F.col("len_expected"), "match")
            .otherwise("mismatch")
            .alias("verdict")
        )
        .groupBy("verdict")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("verdict")
    )


def golden_compare_join_oracle_sql() -> str:
    return """
WITH actual AS (SELECT doc_id, length(text) AS len_actual FROM documents),
     expected AS (SELECT doc_id, n_chars AS len_expected FROM documents),
     joined AS (
       SELECT CASE WHEN a.len_actual = e.len_expected THEN 'match'
                   ELSE 'mismatch' END AS verdict
       FROM actual a FULL OUTER JOIN expected e USING (doc_id)
     )
SELECT verdict, count(*) AS n_docs FROM joined GROUP BY verdict ORDER BY verdict
"""


# --------------------------------------------------------- salt distribution
def skew_salt_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-repartition key balance audit: row count per salt cell — the
    check that keeps task sizes uniform (scaling-efficiency guard)."""
    docs = _t(spark, sf_dir, "documents")
    per_cell = (
        docs.withColumn("salt_cell", F.expr(_SALT_EXPR.format(m=SALT)).cast("int"))
        .groupBy("salt_cell")
        .agg(F.count("*").alias("n_docs"))
    )
    return per_cell.agg(
        F.count("*").alias("n_cells"),
        F.min("n_docs").alias("min_cell"),
        F.max("n_docs").alias("max_cell"),
        (F.max("n_docs") / F.avg("n_docs")).cast("double").alias("skew_ratio"),
    )


def skew_salt_distribution_oracle_sql() -> str:
    salt = _SALT_DUCK.format(m=SALT)
    return f"""
WITH per_cell AS (
  SELECT CAST({salt} AS INT) AS salt_cell, count(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT count(*) AS n_cells, min(n_docs) AS min_cell, max(n_docs) AS max_cell,
       CAST(max(n_docs) / avg(n_docs) AS DOUBLE) AS skew_ratio
FROM per_cell
"""


# ------------------------------------------------------- readerable prescreen
def readerable_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-column IsProbablyReaderable approximation (readerable.go:76-102):
    score = sqrt(n_chars - 140) for docs over the minimum, corpus-level
    pass-rate — the cheap pre-filter that skips non-articles before the
    expensive kernel."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.when(F.col("n_chars") > 140, F.sqrt(F.col("n_chars") - 140))
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("score") > 20.0).cast("long")).alias("n_readerable"),
        )
        .orderBy("source")
    )


def readerable_prescreen_oracle_sql() -> str:
    return """
WITH scored AS (
  SELECT source,
         CASE WHEN n_chars > 140 THEN sqrt(n_chars - 140) ELSE 0.0 END AS score
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN score > 20.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_readerable
FROM scored GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- top-k window
def topk_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-group top-k: window row_number with a total (tie-broken) order —
    the Spark-level form of the kernel's top-5 candidate selection."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "o_custkey",
            "rank",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
        .orderBy("o_custkey", "rank")
    )


def topk_orders_per_customer_oracle_sql(k: int = 3) -> str:
    return f"""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, rank, o_orderkey,
       round(CAST(o_totalprice AS DOUBLE), 2) AS totalprice
FROM ranked WHERE rank <= {k} ORDER BY o_custkey, rank
"""


# --------------------------------------------------------------- sessionize
SESSION_GAP_MIN = 30


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via lag window + running sum — per-user
    session counts and mean session length."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is the
        # identity mapping and matches DuckDB's naive epoch_us.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn(
        "new_session",
        (
            F.col("ts_us") - F.lag("ts_us", 1).over(w)
            > SESSION_GAP_MIN * 60 * 1_000_000
        )
        .cast("int")
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = flagged.withColumn(
        "session_idx", F.coalesce(F.sum("new_session").over(w2), F.lit(0))
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def sessionize_events_oracle_sql() -> str:
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > {gap_us}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id, event_id,
         coalesce(sum(new_session) OVER
                  (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING), 0) AS session_idx
  FROM flagged
), per_session AS (
  SELECT user_id, session_idx, count(*) AS n_events
  FROM sess GROUP BY user_id, session_idx
)
SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS max_session_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


# ----------------------------------------------------------- windowed events
def _hourly_rollup(rows: DataFrame, key: str) -> DataFrame:
    """Tumbling hourly rollup of (ts, <key>, value) rows: (hour, <key>,
    n_events, sum_value), the sum taken in decimal(18,4) so it is exact."""
    return (
        rows.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), key)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .orderBy("hour", key)
    )


def segment_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, segment) dimension from the customer table."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )


def events_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events enriched with the customer's market segment, rolled up per
    (hour, segment).  The inner join drops events of unknown users.  No
    broadcast hint: Catalyst broadcasts a sub-threshold dimension on its
    own, and an oversized one degrades to a shuffled join instead of an
    over-memory broadcast."""
    ev = _t(spark, sf_dir, "events").join(segment_dim(spark, sf_dir), "user_id")
    return _hourly_rollup(ev, "segment")


def events_segment_rollup_oracle_sql() -> str:
    return """
SELECT date_trunc('hour', e.ts) AS hour, c.c_mktsegment AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY hour, segment
"""


# ------------------------------------------------------- interval attribution
def view_click_pairs(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """(view, click) pairs of one user with the click at most 30 minutes
    after the view: (user_id, view_id, view_ts, click_id, click_ts)."""
    v = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    cond = (
        (v.user_id == c.click_user)
        & (c.click_ts >= v.view_ts)
        & (c.click_ts <= F.expr("view_ts + INTERVAL 30 minutes"))
    )
    return v.join(c, cond, "inner").select(
        "user_id", "view_id", "view_ts", "click_id", "click_ts"
    )


def view_click_attribution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click attribution as an interval join over the events table, per
    view-hour: (hour, n_pairs, n_attributed_views)."""
    ev = _t(spark, sf_dir, "events")
    pairs = view_click_pairs(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )
    return (
        pairs.groupBy(F.date_trunc("hour", F.col("view_ts")).alias("hour"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("view_id").alias("n_attributed_views"),
        )
        .orderBy("hour")
    )


def view_click_attribution_oracle_sql() -> str:
    return """
SELECT date_trunc('hour', v.ts) AS hour,
       count(*) AS n_pairs,
       count(DISTINCT v.event_id) AS n_attributed_views
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
GROUP BY 1
ORDER BY hour
"""


# ---------------------------------------------------------------- as-of join
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: enrich each event with the customer's most recent order
    on-or-before the event date, rolled up per event type (match rate +
    total staleness).  Spark has no native ASOF JOIN; the scalable form is
    tag-union + carry-forward window — one shuffle on the key, no range
    explosion, never a per-row subquery:

      union(orders tagged 0, events tagged 1)
        → window(partitionBy key, orderBy (date, tag))
        → last(order_date, ignorenulls) over rows unbounded-preceding

    Ordering ties are benign by construction: tied order rows share the
    same order_date (it IS the sort key), and the tag sorts orders before
    same-day events, so the carried value is deterministic.  At 100 TB both
    sides shuffle once on user_id and the window is a sorted streaming
    pass — the same cost as a co-partitioned merge join.
    """
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("string").alias("event_type"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )
    e = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.lit(1).alias("is_event"),
        "event_type",
        F.lit(None).cast("date").alias("order_date"),
    )
    w = Window.partitionBy("user_id").orderBy("d", "is_event").rowsBetween(
        Window.unboundedPreceding, 0
    )
    carried = o.unionByName(e).withColumn(
        "last_order_date", F.last("order_date", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("is_event") == 1)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("last_order_date").alias("n_matched"),
            F.sum(F.datediff(F.col("d"), F.col("last_order_date")))
            .cast("long")
            .alias("sum_lag_days"),
        )
        .orderBy("event_type")
    )


def events_asof_orders_oracle_sql() -> str:
    # DuckDB has a native ASOF JOIN; with ties in order_date the picked row
    # is arbitrary but its order_date is not — only the date is consumed.
    return """
WITH e AS (
  SELECT event_type, user_id, CAST(ts AS DATE) AS d FROM events
), o AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS order_date FROM orders
), matched AS (
  SELECT e.event_type, e.d, o.order_date
  FROM e ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.d >= o.order_date
)
SELECT event_type, count(*) AS n_events, count(order_date) AS n_matched,
       CAST(sum(d - order_date) AS BIGINT) AS sum_lag_days
FROM matched GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------- range join
RANGE_WINDOW_US = 5 * 60 * 1_000_000  # 5-minute co-occurrence window


def event_cooccurrence_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: pairs of same-user events at most 5 minutes
    apart, counted per ordered type pair — the burst/co-occurrence shape.
    Spark has no native range join either; a naive theta-join degenerates
    to a per-key nested loop.  The scalable form is band bucketing: bucket
    ts by the window width, probe the own and NEXT bucket only (pairs are
    time-ordered, so backward adjacency is redundant), then verify the
    exact predicate:

      a × explode([bucket, bucket+1]) ⋈ b on (user_id, bucket)
        → filter 0 ≤ ts_b − ts_a ≤ W and (ts_a, id_a) < (ts_b, id_b)

    Every candidate pair appears exactly once (its two buckets differ), the
    join is a pure equi-join on a high-cardinality key, and the fan-out is
    2× the input — never |events|² per user.  Pair order is made total via
    (ts, event_id) so ties at equal timestamps are deterministic.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    a = ev.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("ts_us").alias("ts_a"),
        F.explode(
            F.expr(
                f"array(ts_us div {RANGE_WINDOW_US}, ts_us div {RANGE_WINDOW_US} + 1)"
            )
        ).alias("bucket"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("ts_us").alias("ts_b"),
        F.expr(f"ts_us div {RANGE_WINDOW_US}").alias("bucket"),
    )
    pairs = a.join(b, ["user_id", "bucket"]).filter(
        (F.col("ts_b") - F.col("ts_a") >= 0)
        & (F.col("ts_b") - F.col("ts_a") <= RANGE_WINDOW_US)
        & (
            (F.col("ts_a") < F.col("ts_b"))
            | ((F.col("ts_a") == F.col("ts_b")) & (F.col("id_a") < F.col("id_b")))
        )
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("ts_b") - F.col("ts_a")).alias("sum_gap_us"),
        )
        .orderBy("type_a", "type_b")
    )


def event_cooccurrence_range_join_oracle_sql() -> str:
    # The oracle states the predicate directly; DuckDB's IEJoin handles the
    # inequality pair without the banding the distributed plan needs.
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_pairs,
       CAST(sum(b.ts_us - a.ts_us) AS BIGINT) AS sum_gap_us
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND b.ts_us - a.ts_us BETWEEN 0 AND {RANGE_WINDOW_US}
 AND (a.ts_us < b.ts_us OR (a.ts_us = b.ts_us AND a.event_id < b.event_id))
GROUP BY type_a, type_b ORDER BY type_a, type_b
"""


# -------------------------------------------------------------------- rollup
def corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP aggregation (source × lang hierarchies + grand
    total in one pass) — the OLAP grouping-sets shape.  Spark expands the
    rollup into grouping sets inside a single hash aggregate: one shuffle,
    partial aggregation on every level, no per-level re-scan."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy(F.asc_nulls_first("source"), F.asc_nulls_first("lang"))
    )


def corpus_rollup_oracle_sql() -> str:
    return """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(source, lang)
ORDER BY source NULLS FIRST, lang NULLS FIRST
"""
