"""Event-time operators over the ``events`` table — the batch twins of the
structured-streaming surface (vat_etl_spark/streaming/). Tumbling / sliding /
session windows and keep-earliest dedup, all oracle-verified; the streaming
module reuses the same builders over ``readStream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.numeric import dsum, dsum_sql
from vat_etl_spark.functions.ranks import two_pass_ntile_multi
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
  count(*) AS n_events, {dsum_sql("value")} AS total_value
FROM events GROUP BY 1, 2
"""


@query("events_tumbling_window", oracle=_TUMBLING_SQL)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows (batch form of the streaming
    windowed aggregation; add withWatermark on a stream)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


_SLIDING_SQL = f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS w, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS w, value
  FROM events
)
SELECT w AS win_start, count(*) AS n_events, {dsum_sql("value")} AS total_value
FROM assigned GROUP BY w
"""


@query("events_sliding_window", oracle=_SLIDING_SQL)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands in two
    windows; the SQL twin materializes the same assignment via UNION ALL."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL '30 minutes'
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_last, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


@query("events_sessionize", oracle=_SESSION_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user, via the native
    session_window operator — on a stream this becomes stateful session
    aggregation with watermark-driven eviction."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )


_DEDUP_SQL = """
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


@query("events_dedup_earliest", oracle=_DEDUP_SQL)
def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-earliest dedup per (user, event_type) — deterministic alternative
    to dropDuplicates (which keeps an arbitrary row); the streaming twin is
    dropDuplicatesWithinWatermark."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id", "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- applyInPandas per-group operator -----------------------------------------

_USER_STATS_SQL = """
SELECT user_id, count(*) AS n_events,
       cast(sum(cast(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY user_id
"""


@query("events_user_stats_pandas", oracle=_USER_STATS_SQL)
def events_user_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stats via ``groupBy(...).applyInPandas`` — the engine's
    custom-group-operator surface (Arrow-batched, one pandas frame per key
    group). Money is fixed-point (integer cents via floor(x*100+0.5), the
    same expression the oracle runs) so the result is order-independent and
    engine-exact. The plan shuffles once on user_id, identical to the
    equivalent built-in aggregate; at 100 TB the same code runs with
    per-group memory bounded by the largest single user."""
    import pandas as pd

    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "total_cents": [int(pdf["cents"].sum())],
                "first_ts": [pdf["ts"].min()],
                "last_ts": [pdf["ts"].max()],
            }
        )

    out_schema = (
        "user_id bigint, n_events bigint, total_cents bigint, "
        "first_ts timestamp, last_ts timestamp"
    )
    return e.groupBy("user_id").applyInPandas(stats, out_schema)


_GAPS_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(ts) AS session_start, max(ts) AS session_last,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_seq
"""


@query("events_gaps_islands", oracle=_GAPS_SQL)
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: lag to mark gap starts, running sum
    to number sessions, group — the windowed-SQL form of session_window
    (pytest asserts both produce identical sessions). One shuffle on
    user_id shared by the window and the aggregate."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = e.select(
        "user_id", "ts",
        F.when(gap > 30 * 60, 1).otherwise(0).alias("new_session"),
    )
    wrun = W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
    numbered = marked.select(
        "user_id", "ts", F.sum("new_session").over(wrun).alias("session_seq")
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_last"),
        F.count("*").alias("n_events"),
    )


_SCD2_SQL = """
SELECT user_id, event_type AS attr_value, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       THEN 1 ELSE 0 END AS is_current
FROM (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
WHERE prev_type IS NULL OR prev_type <> event_type
"""


@query("events_scd2_intervals", oracle=_SCD2_SQL)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change stream: collapse repeated
    attribute values (lag-compare), then each surviving change opens a
    validity interval closed by the next change's timestamp (lead), with
    an is_current flag on the open interval. Both window passes share one
    shuffle on user_id — the standard warehouse history-table operator
    the reference's full-replace SQLite sink (fianl2.py:253-256) lacks."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id
)
SELECT
  (SELECT count(*) FROM s1) AS n_view,
  (SELECT count(*) FROM s2) AS n_view_click,
  (SELECT count(*) FROM s3) AS n_view_click_purchase
"""


@query("events_funnel", oracle=_FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): each stage is
    the earliest qualifying event strictly after the previous stage's
    time. Stage frontiers are per-user 1-row aggregates joined back to the
    filtered event stream — every join and aggregate shuffles on user_id,
    so at scale the three stages are co-partitioned and AQE turns the
    small frontier sides into broadcasts."""
    e = _t(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.agg(F.count("*").alias("n_view"))
        .crossJoin(s2.agg(F.count("*").alias("n_view_click")))
        .crossJoin(s3.agg(F.count("*").alias("n_view_click_purchase")))
    )


_DECAY_SQL = """
WITH e AS (
  SELECT user_id, cast(round(value * 100) AS BIGINT) AS cents,
    cast(ts AS DATE) AS d
  FROM events
),
m AS (SELECT *, max(d) OVER (PARTITION BY user_id) AS md FROM e),
t AS (SELECT user_id, cents, (md - d) // 7 AS k FROM m)
SELECT user_id, count(*) AS n_events,
  sum(cast(cents AS DOUBLE) / cast(1 << k AS DOUBLE)) AS decayed_score_cents
FROM t GROUP BY user_id
"""


@query("events_decayed_score", oracle=_DECAY_SQL)
def events_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user value: Σ value·(1/2)^(weeks-of-age), anchored
    at each user's last active day — the standard decayed engagement /
    RFM-style score where a purchase last week counts double one from two
    weeks ago.

    Exact float contract WITHOUT decimal machinery: the half-life is
    dyadic, and the weight is built as 1/shiftleft(1,k) (an exact power of
    two — never libm pow()). Each term is an integer-cents value scaled by
    2^-k, so every partial sum fits a 53-bit significand (≈16-bit cents ×
    k ≤ a few weeks) — the float sum is EXACT and therefore
    association-order-free, which is what makes it safe under Spark's
    nondeterministic shuffle-merge order AND hash-identical to DuckDB.
    Scale shape: one user-keyed window + agg on the same key (single
    shuffle)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.to_date("ts").alias("d"),
    )
    m = e.withColumn("md", F.max("d").over(W.partitionBy("user_id")))
    t = m.select(
        "user_id",
        "cents",
        F.expr("datediff(md, d) div 7").cast("int").alias("k"),
    )
    # F.shiftleft only takes a literal bit count — use the SQL form for a
    # column-valued shift (still an exact power of two, never libm pow)
    term = F.col("cents").cast("double") / F.expr("shiftleft(1, k)").cast("double")
    return t.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(term).alias("decayed_score_cents"),
    )


_RFM_SQL = """
WITH p AS (
  SELECT user_id, cast(ts AS DATE) AS d,
    cast(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
anchor AS (SELECT max(d) AS d1 FROM p),
base AS (
  SELECT user_id,
    (SELECT d1 FROM anchor) - max(d) AS recency_days,
    count(*) AS frequency,
    cast(sum(cents) AS BIGINT) AS monetary_cents
  FROM p GROUP BY user_id
),
scored AS (
  SELECT *,
    cast(ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS INTEGER) AS r_score,
    cast(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_score,
    cast(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS INTEGER) AS m_score
  FROM base
)
SELECT user_id, cast(recency_days AS BIGINT) AS recency_days,
  frequency, monetary_cents, r_score, f_score, m_score,
  CASE
    WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
    WHEN r_score <= 2 THEN 'recent'
    WHEN f_score <= 2 THEN 'loyal'
    WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
    ELSE 'regular'
  END AS segment
FROM scored
"""


@query("events_rfm_segmentation", oracle=_RFM_SQL)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary quintiles
    + rule-based segment labels) over purchase events — the marketing-
    analytics workhorse for lifecycle campaigns.

    Determinism: metrics are exact integers (days, counts, cents); each
    ntile orders by (metric, user_id) — the tie-break key that makes
    quintile assignment a total order (the verified-safe ntile contract,
    scores 1 = best). Scale shape: one filtered fact agg to user grain;
    the three quintile assignments are FUSED two-pass range-partitioned
    ranks (functions/ranks.py two_pass_ntile_multi — layout-free, same
    results as global ntile, no single-partition WindowExec; asserted by
    plans.plan_violations). Exactly TWO driver-coordinated jobs for all
    three metrics — one shared boundary sample + one fused bucket-count
    aggregate that also carries the recency anchor max(last_d) — down
    from nine (3x sample + 3x count + anchor + ...) when each ntile ran
    its own passes. The recency quintile orders by (last_d DESC,
    user_id): recency_days = datediff(anchor, last_d) is strictly
    decreasing in last_d, so this is the same total order as
    (recency_days ASC, user_id) without needing the anchor before
    bucketizing."""
    p = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # user-grain metric table, persisted: the shared boundary-sample job,
    # the fused count job and the final plan each consume it — without the
    # persist the fact scan+agg would re-run per job.
    per_user = p.groupBy("user_id").agg(
        F.max("d").alias("last_d"),
        F.count("*").alias("frequency"),
        F.sum("cents").alias("monetary_cents"),
    )
    per_user = per_user.persist()
    scored, extras = two_pass_ntile_multi(
        per_user,
        [
            ([("last_d", "desc"), ("user_id", "asc")], "r_score"),
            ([("frequency", "desc"), ("user_id", "asc")], "f_score"),
            ([("monetary_cents", "desc"), ("user_id", "asc")], "m_score"),
        ],
        5,
        extra_aggs={"d1": F.max("last_d")},
    )
    d1 = extras["d1"]
    scored = scored.withColumn(
        "recency_days", F.datediff(F.lit(d1), F.col("last_d")).cast("bigint")
    )
    seg = (
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "at_risk")
        .otherwise("regular")
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


_BOUNCE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_seq,
    ts
  FROM marked
),
per_session AS (
  SELECT user_id, session_seq, cast(min(ts) AS DATE) AS day,
    count(*) AS n_events
  FROM sessions GROUP BY 1, 2
)
SELECT day, count(*) AS n_sessions,
  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  cast(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS bounce_rate
FROM per_session GROUP BY day
"""


@query("events_bounce_rate", oracle=_BOUNCE_SQL)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min inactivity gap) that
    contain exactly one event, keyed to the session's start day — the
    composition of sessionization and a day-grain aggregate that every
    product-analytics dashboard carries.

    Counts are integers and the rate one IEEE division, so the oracle
    hash-matches. Scale shape: the gaps-and-islands pass shuffles once on
    user_id; everything after is session-grain (≪ events) then day-grain
    (calendar-bounded)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",  # kept: the running-sum window orders on (ts, event_id)
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias("new_session"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_seq"),
    )
    per_session = sessions.groupBy("user_id", "session_seq").agg(
        F.to_date(F.min("ts")).alias("day"), F.count("*").alias("n_events")
    )
    return per_session.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("bounce_rate"),
    )


_SEASONAL_SQL = """
WITH hourly AS (
  SELECT cast(ts AS DATE) AS day, hour(ts) AS hr,
    dayofweek(cast(ts AS DATE)) AS dow,
    count(*) AS n
  FROM events GROUP BY 1, 2, 3
),
baseline AS (
  SELECT dow, hr, sum(n) AS tot, count(*) AS n_slots FROM hourly GROUP BY 1, 2
)
SELECT h.day, h.hr, h.n,
  CAST(b.tot AS BIGINT) AS baseline_total, b.n_slots AS baseline_slots,
  cast(b.tot AS DOUBLE) / b.n_slots AS baseline_mean,
  CASE WHEN h.n * b.n_slots > 2 * b.tot THEN 'high'
       WHEN 2 * h.n * b.n_slots < b.tot THEN 'low'
       ELSE 'normal' END AS flag
FROM hourly h JOIN baseline b ON h.dow = b.dow AND h.hr = b.hr
WHERE h.n * b.n_slots > 2 * b.tot OR 2 * h.n * b.n_slots < b.tot
"""


@query("events_seasonal_anomaly", oracle=_SEASONAL_SQL)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each (day, hour) event count is
    compared against the mean for its (day-of-week, hour-of-day) slot and
    flagged when >2× or <½× the seasonal baseline — load anomalies judged
    against the RIGHT comparison group (Monday 9am vs other Monday 9ams,
    never the global mean).

    The threshold test is integer cross-multiplication (n·slots vs 2·total)
    — no float comparison anywhere near the decision boundary, so both
    engines flag identical rows; the reported baseline_mean is display-only
    division. Scale shape: one fact agg to the (day,hour) grain, a
    dow×hour (≤168-row) baseline re-agg, broadcast back."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hr"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
    ).agg(F.count("*").alias("n"))
    hourly = hourly.persist()
    baseline = hourly.groupBy(
        F.col("dow").alias("b_dow"), F.col("hr").alias("b_hr")
    ).agg(F.sum("n").alias("tot"), F.count("*").alias("n_slots"))
    j = hourly.join(
        F.broadcast(baseline),
        (F.col("dow") == F.col("b_dow")) & (F.col("hr") == F.col("b_hr")),
    )
    hi = F.col("n") * F.col("n_slots") > 2 * F.col("tot")
    lo = 2 * F.col("n") * F.col("n_slots") < F.col("tot")
    return j.where(hi | lo).select(
        "day",
        "hr",
        "n",
        F.col("tot").alias("baseline_total"),
        F.col("n_slots").alias("baseline_slots"),
        (F.col("tot").cast("double") / F.col("n_slots")).alias("baseline_mean"),
        F.when(hi, "high").when(lo, "low").otherwise("normal").alias("flag"),
    )


_ATTRIBUTION_SQL = """
WITH purchases AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT event_id AS tid, user_id, epoch_us(ts) AS tus,
    cast(json_extract_string(props, '$.k') AS INTEGER) % 4 AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
joined AS (
  SELECT p.pid, t.tid, t.channel, t.tus
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id AND t.tus < p.pus
   AND p.pus - t.tus <= 604800000000
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rn,
    count(*) OVER (PARTITION BY pid) AS cnt
  FROM joined
),
credited AS (
  SELECT channel,
    CASE WHEN cnt = 1 THEN 1000000
         WHEN cnt = 2 THEN 500000
         WHEN rn = 1 OR rn = cnt THEN 400000
         ELSE 200000 // (cnt - 2)
              + (CASE WHEN rn - 1 <= 200000 % (cnt - 2) THEN 1 ELSE 0 END)
    END AS credit
  FROM ranked
)
SELECT channel, count(*) AS n_touches,
  cast(sum(credit) AS BIGINT) AS credit_micro,
  cast(sum(credit) AS DOUBLE) / 1000000 AS credited_purchases
FROM credited GROUP BY channel
"""


@query("events_attribution_position", oracle=_ATTRIBUTION_SQL)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every purchase
    distributes EXACTLY 1,000,000 integer micro-credits over the
    click/view touches in its trailing 7 days — 40% to the first touch,
    40% to the last, 20% split over the middle with the integer remainder
    going to the earliest middle touches (the proration discipline of
    fin_allocate_proration applied to marketing attribution). Credits are
    conserved by construction: sum(credit_micro) == 10^6 × attributed
    purchases, with no float leakage ever — the classic failure of
    share-as-double attribution pipelines.

    Channel comes out of the JSON props (engine JSON surface), the touch
    window is an integer-µs range join keyed on user_id, and per-purchase
    ranking is a purchase-keyed window — one user shuffle + one purchase
    shuffle. Scale: fan-out bounded by touches-per-purchase-window;
    skewed mega-users split by AQE."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("pus"),
    )
    touches = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.unix_micros("ts").alias("tus"),
        (F.get_json_object("props", "$.k").cast("int") % 4).alias("channel"),
    )
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("tus") < F.col("pus"))
        & (F.col("pus") - F.col("tus") <= F.lit(604_800_000_000)),
    )
    wp = W.partitionBy("pid")
    ranked = joined.select(
        "pid",
        "tid",
        "channel",
        F.row_number().over(wp.orderBy("tus", "tid")).alias("rn"),
        F.count("*").over(wp).alias("cnt"),
    )
    credit = (
        F.when(F.col("cnt") == 1, 1_000_000)
        .when(F.col("cnt") == 2, 500_000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("cnt")), 400_000)
        .otherwise(
            F.expr("200000 div (cnt - 2)")
            + F.when(F.col("rn") - 1 <= F.expr("200000 % (cnt - 2)"), 1).otherwise(0)
        )
    )
    return (
        ranked.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("credit").alias("credit_micro"),
            (F.sum("credit").cast("double") / F.lit(1_000_000)).alias(
                "credited_purchases"
            ),
        )
    )


_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, cast(ts AS DATE) AS d FROM events
),
grp AS (
  SELECT user_id, d,
    d - cast(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER)
      AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, count(*) AS len, min(d) AS streak_start,
    max(d) AS streak_end
  FROM grp GROUP BY 1, 2
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY len DESC, streak_start) AS rk
  FROM streaks
)
SELECT user_id, len AS longest_streak_days, streak_start, streak_end
FROM best WHERE rk = 1
"""


@query("events_longest_streak", oracle=_STREAK_SQL)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE active days per user (engagement streaks
    — the retention mechanic every consumer product tracks), via the
    classic date-minus-rank trick: within a user, consecutive days share
    the constant `day − row_number()` anchor, so streaks fall out of one
    GROUP BY with no iteration.

    Everything is integer date arithmetic; earliest streak wins ties
    deterministically. Scale shape: dedup to (user, day) grain first (the
    aggregate-first discipline — windows run over active-day rows, not
    raw events), then two user-keyed windows and a user-keyed aggregate
    share one shuffle."""
    e = _t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"),
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
    )
    best = streaks.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.desc("len"), F.asc("streak_start"))
        ),
    )
    return best.where(F.col("rk") == 1).select(
        "user_id",
        F.col("len").alias("longest_streak_days"),
        "streak_start",
        "streak_end",
    )


_PIT_SQL = """
WITH dim AS (
  SELECT user_id, event_type AS status, ts AS valid_from,
    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM (
    SELECT user_id, event_type, ts, event_id,
      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events WHERE event_type <> 'purchase'
  ) WHERE prev IS NULL OR prev <> event_type
),
facts AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts,
  coalesce(d.status, 'unknown') AS status_at_purchase,
  d.valid_from
FROM facts f LEFT JOIN dim d
  ON f.user_id = d.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


@query("join_point_in_time", oracle=_PIT_SQL)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) correct dimension join — the feature-store
    operator that prevents training-data leakage: each purchase is joined
    to the user-status SCD2 interval that was valid AT ITS TIMESTAMP
    (status = latest preceding non-purchase event type), never to a later
    version of the dimension.

    The SCD2 build shares one user shuffle across both window passes; the
    PIT join is equi on user_id with the interval containment as residual
    — at 100 TB both sides co-partition on the key and a validity-month
    band column bounds the residual scan (same banding as the range-join
    family). LEFT semantics keep pre-history facts ('unknown'), so fact
    cardinality is preserved — the invariant PIT joins must hold."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nonp = e.where(F.col("event_type") != "purchase")
    changes = nonp.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("valid_to"),
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("status"), F.lit("unknown")).alias("status_at_purchase"),
        "valid_from",
    )


_NEW_RETURNING_SQL = """
WITH du AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS day FROM events),
first_day AS (SELECT user_id, min(day) AS d0 FROM du GROUP BY user_id)
SELECT du.day,
  count(*) AS active_users,
  CAST(sum(CASE WHEN du.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
  CAST(sum(CASE WHEN du.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
  cast(sum(CASE WHEN du.day > f.d0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS returning_share
FROM du JOIN first_day f ON du.user_id = f.user_id
GROUP BY du.day
"""


@query("events_new_vs_returning", oracle=_NEW_RETURNING_SQL)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever active day) vs
    RETURNING — the growth-accounting decomposition behind every DAU
    chart ('is growth acquisition or retention?').

    Scale shape: dedup to (user, day) grain, derive each user's first day
    as a re-aggregate of that same grain, join back on user_id (both
    sides co-partition — one shuffle), aggregate to calendar days.
    Integer counts + one terminal division."""
    e = _t(spark, sf_dir, "events")
    du = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_day = du.groupBy(F.col("user_id").alias("f_user")).agg(
        F.min("day").alias("d0")
    )
    j = du.join(first_day, F.col("user_id") == F.col("f_user"))
    is_new = F.when(F.col("day") == F.col("d0"), 1).otherwise(0)
    is_ret = F.when(F.col("day") > F.col("d0"), 1).otherwise(0)
    return j.groupBy("day").agg(
        F.count("*").alias("active_users"),
        F.sum(is_new).alias("new_users"),
        F.sum(is_ret).alias("returning_users"),
        (F.sum(is_ret).cast("double") / F.count("*")).alias("returning_share"),
    )


_FUNNEL_TIME_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
),
gaps AS (
  SELECT 'view_to_click' AS stage,
    epoch_us(s2.t_click) - epoch_us(s1.t_view) AS gap_us
  FROM s1 JOIN s2 ON s1.user_id = s2.user_id
  UNION ALL
  SELECT 'click_to_purchase',
    epoch_us(s3.t_purchase) - epoch_us(s2.t_click)
  FROM s2 JOIN s3 ON s2.user_id = s3.user_id
)
SELECT stage, count(*) AS n_users,
  cast(min(gap_us) AS BIGINT) AS min_gap_us,
  quantile_cont(gap_us, 0.5) AS median_gap_us,
  quantile_cont(gap_us, 0.9) AS p90_gap_us,
  cast(max(gap_us) AS BIGINT) AS max_gap_us
FROM gaps GROUP BY stage
"""


@query("events_funnel_time_to_convert", oracle=_FUNNEL_TIME_SQL)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel transition (view→click,
    click→purchase): median/p90 of the gap between a user's stage
    frontiers — the latency companion to events_funnel's count-based
    drop-off (a funnel that converts but takes 3 days is a different
    product problem than one that converts in 3 minutes).

    Same co-partitioned stage-frontier joins as the funnel; gaps are
    integer µs and percentiles the verified-safe interpolated form.
    Output is 2 rows regardless of volume."""
    e = _t(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    g1 = s1.join(s2, "user_id").select(
        F.lit("view_to_click").alias("stage"),
        (F.unix_micros("t_click") - F.unix_micros("t_view")).alias("gap_us"),
    )
    g2 = s2.join(s3, "user_id").select(
        F.lit("click_to_purchase").alias("stage"),
        (F.unix_micros("t_purchase") - F.unix_micros("t_click")).alias("gap_us"),
    )
    return g1.unionByName(g2).groupBy("stage").agg(
        F.count("*").alias("n_users"),
        F.min("gap_us").alias("min_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("median_gap_us"),
        F.expr("percentile(gap_us, 0.9)").alias("p90_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


_WILSON_SQL = """
WITH daily AS (
  SELECT cast(ts AS DATE) AS day,
    count(*) AS n,
    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
  FROM events GROUP BY 1
),
w AS (
  SELECT day, n, errors,
    cast(errors AS DOUBLE) / cast(n AS DOUBLE) AS p,
    cast(1.96 AS DOUBLE) AS z
  FROM daily
)
SELECT day, n, errors, p AS error_rate,
  (p + z * z / (2 * n) - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
    / (1 + z * z / n) AS ci_low,
  (p + z * z / (2 * n) + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
    / (1 + z * z / n) AS ci_high
FROM w
"""


@query("dq_error_rate_wilson_ci", oracle=_WILSON_SQL)
def dq_error_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error rate with a Wilson-score 95% confidence interval — the
    statistically honest version of an error-rate dashboard: on a
    200-event day, 3% vs 5% is noise, and the CI says so (the naive ±
    normal interval misbehaves exactly at the low rates monitoring cares
    about; Wilson doesn't).

    Every term is +,−,×,÷,sqrt over exact integer-derived doubles — all
    IEEE correctly-rounded and cross-engine deterministic (the verified
    sqrt contract; no libm transcendentals) — with the expression tree
    spelled IDENTICALLY in both engines, z=1.96 a shared literal. One
    fact agg to day grain, then map-side arithmetic."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "errors"
        ),
    )
    p = F.col("errors").cast("double") / F.col("n").cast("double")
    z = F.lit(1.96).cast("double")
    half = z * F.sqrt(p * (1 - p) / F.col("n") + z * z / (4 * F.col("n") * F.col("n")))
    center = p + z * z / (2 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return daily.select(
        "day",
        "n",
        "errors",
        p.alias("error_rate"),
        ((center - half) / denom).alias("ci_low"),
        ((center + half) / denom).alias("ci_high"),
    )


_LTV_SQL = """
WITH p AS (
  SELECT user_id, cast(round(value * 100) AS BIGINT) AS cents,
    cast(date_trunc('week', ts) AS DATE) AS w
  FROM events WHERE event_type = 'purchase'
),
cohort AS (SELECT user_id, min(w) AS w0 FROM p GROUP BY user_id),
sizes AS (SELECT w0, count(*) AS cohort_users FROM cohort GROUP BY w0),
weekly AS (
  SELECT c.w0, (p.w - c.w0) // 7 AS offset_w, sum(p.cents) AS rev
  FROM p JOIN cohort c ON p.user_id = c.user_id
  GROUP BY 1, 2
),
cum AS (
  SELECT w0, offset_w, rev,
    sum(rev) OVER (PARTITION BY w0 ORDER BY offset_w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM weekly
)
SELECT cum.w0 AS cohort_week, cast(offset_w AS INTEGER) AS week_offset,
  s.cohort_users,
  cast(rev AS BIGINT) AS revenue_cents,
  cast(cum_rev AS BIGINT) AS cum_revenue_cents,
  cast(cum_rev AS DOUBLE) / (s.cohort_users * 100) AS ltv_per_user
FROM cum JOIN sizes s ON cum.w0 = s.w0
"""


@query("events_cohort_ltv", oracle=_LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue per user by first-purchase
    cohort × week offset — the money companion to the retention matrix
    (events_cohort_retention counts WHO comes back; this accumulates WHAT
    they spend, the curve payback/CAC decisions read).

    Integer cents throughout; the cumulative walk is an integer window
    over week offsets (≤ span weeks per cohort); ltv_per_user is one
    terminal division. Scale shape: fact → (cohort, offset) grain before
    any window runs — the aggregate-first discipline. (Week grain because
    the events table spans one month — month cohorts would be a 1-row
    curve; probe the data before picking grains.)"""
    e = _t(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.to_date(F.date_trunc("week", "ts")).alias("w"),
    )
    cohort = p.groupBy(F.col("user_id").alias("c_user")).agg(F.min("w").alias("w0"))
    sizes = cohort.groupBy(F.col("w0").alias("s_w0")).agg(
        F.count("*").alias("cohort_users")
    )
    weekly = (
        p.join(cohort, F.col("user_id") == F.col("c_user"))
        .groupBy("w0", F.expr("datediff(w, w0) div 7").alias("offset_w"))
        .agg(F.sum("cents").alias("rev"))
    )
    win = W.partitionBy("w0").orderBy("offset_w").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = weekly.withColumn("cum_rev", F.sum("rev").over(win))
    return cum.join(F.broadcast(sizes), F.col("w0") == F.col("s_w0")).select(
        F.col("w0").alias("cohort_week"),
        F.col("offset_w").cast("int").alias("week_offset"),
        "cohort_users",
        F.col("rev").alias("revenue_cents"),
        F.col("cum_rev").alias("cum_revenue_cents"),
        (
            F.col("cum_rev").cast("double") / (F.col("cohort_users") * 100)
        ).alias("ltv_per_user"),
    )


def _scd2_build(e: DataFrame) -> DataFrame:
    """Change-collapse an event stream into SCD2 intervals (helper shared
    by the incremental-maintenance pipeline below; same shape as
    events_scd2_intervals)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        F.col("event_id").alias("src_event_id"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


_SCD2_INCR_SQL = """
SELECT user_id, event_type AS attr_value, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       THEN 1 ELSE 0 END AS is_current
FROM (
  SELECT user_id, event_type, ts, event_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
WHERE prev IS NULL OR prev <> event_type
"""


@query("pipeline_scd2_incremental", oracle=_SCD2_INCR_SQL)
def pipeline_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance, proven equal to a full rebuild: the
    history table is built from events BEFORE Jan 15, then the Jan-15+
    delta is applied INCREMENTALLY — closed intervals are untouched, each
    affected user's open interval is re-derived from (its own row replayed
    as a pseudo-change + that user's delta), unaffected users pass
    through. The ORACLE is the from-scratch rebuild over all events, so
    the driver's hash gate IS the proof that merge == recompute (the same
    contract pipeline_incremental_agg pins for aggregates, here for
    history tables — the op that lets a 100 TB dimension absorb a daily
    delta without re-reading years of history).

    Scale shape: the delta pass touches delta ∪ affected-users' current
    rows only; everything is user-keyed (one co-partitioned shuffle
    family), and the anti/semi splits broadcast the affected-user set."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    t0 = F.lit("2024-01-15").cast("timestamp")
    hist = e.where(F.col("ts") < t0)
    delta = e.where(F.col("ts") >= t0)
    base = _scd2_build(hist)
    affected = delta.select("user_id").distinct()
    closed = base.where(F.col("valid_to").isNotNull())
    open_rows = base.where(F.col("valid_to").isNull())
    current_unaffected = open_rows.join(affected, "user_id", "left_anti")
    pseudo = open_rows.join(affected, "user_id", "left_semi").select(
        "user_id",
        F.col("attr_value").alias("event_type"),
        F.col("valid_from").alias("ts"),
        F.col("src_event_id").alias("event_id"),
    )
    recomputed = _scd2_build(pseudo.unionByName(delta))
    out = lambda df: df.select(  # noqa: E731
        "user_id", "attr_value", "valid_from", "valid_to", "is_current"
    )
    return out(closed).unionByName(out(current_unaffected)).unionByName(
        out(recomputed)
    )


_SESSION_PATHS_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
prefix AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT path, count(*) AS n_users FROM prefix GROUP BY path
"""


@query("events_session_paths", oracle=_SESSION_PATHS_SQL)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path analysis: each user's FIRST THREE event types in
    chronological order folded to a '>'-joined path, then the frequency of
    each distinct entry path — the "how do journeys start" question. The
    prefix is isolated BEFORE any collect: a user-keyed row_number window
    (Spark's sort-based WindowExec — spillable disk sort, no per-user
    array) keeps rank ≤ 3, so the collect_list that builds the path
    aggregates at most 3 structs per user. That bounded-state shape is
    exactly how path analysis stays tractable at 100 TB — collecting a
    user's ENTIRE history into one array before slicing would put an
    unbounded journey in a single aggregation buffer (and whole-journey
    paths explode combinatorially anyway; prefixes don't). One window
    shuffle + one tiny path aggregate."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    prefix = first3.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return prefix.groupBy("path").agg(F.count("*").alias("n_users"))
