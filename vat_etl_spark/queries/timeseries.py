"""Time-series operators: calendar-spine gap-fill with linear interpolation,
multi-resolution rollup cascades, and MATCH_RECOGNIZE-style event-sequence
pattern matching.

The reference's time axis is just "period = month from sheet name"
(fianl2.py:89-100, 167-195); a warehouse engine needs the standard
time-series toolkit on top of that. All three ops here aggregate FIRST and
run the expensive construct (global window / per-user sequence build) over
the reduced grain, which is what keeps them viable at 100 TB:

- gap-fill windows run over the *calendar grain* (rows = days in span, not
  input rows), so the single-partition ordered window is bounded by the date
  span regardless of data volume;
- the rollup cascade re-aggregates *partials* (day -> month -> year), so the
  month and year passes shuffle day-grain rows, not raw facts, and the
  persisted day grain keeps the fact scan to exactly one;
- sequence strings are built per user key (distributed groupBy), each
  bounded by that user's event count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.numeric import dsumx, dsumx_sql
from vat_etl_spark.functions.ranks import two_pass_prefix_sum
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


_GAPFILL_SQL = f"""
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS day, {dsumx_sql("o_totalprice")} AS rev
  FROM orders WHERE o_totalprice > 400000 GROUP BY 1
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS (
  SELECT cast(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
j AS (SELECT s.day, d.rev FROM spine s LEFT JOIN daily d USING (day)),
w AS (
  SELECT day, rev,
    last_value(rev IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(rev IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT day,
  CASE WHEN rev IS NOT NULL THEN rev
       ELSE pv + (nv - pv) * (cast(datediff('day', pd, day) AS DOUBLE)
                              / cast(datediff('day', pd, nd) AS DOUBLE))
  END AS revenue,
  (rev IS NULL) AS interpolated
FROM w
"""


@query("ts_gapfill_interpolate", oracle=_GAPFILL_SQL)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily high-value revenue with missing calendar days filled by linear
    interpolation between the nearest known neighbors.

    Calendar spine = ``sequence(min_day, max_day)`` exploded; known values
    attach by left join; prev/next known points come from IGNORE-NULLS
    last/first over the day order. Interpolation arithmetic is pure IEEE
    double over operands that are themselves exact (dsumx endpoints, integer
    datediffs), so Spark and DuckDB agree bitwise. The ordered window has no
    partition key, but its input is the *calendar grain* — bounded by the
    date span (~2.4k rows here, 36.5k rows for a century), never by data
    volume, so the single-partition sort is a non-issue at any SF."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsumx(F.col("o_totalprice")).alias("rev")
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    j = spine.join(daily, "day", "left")

    wp = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wn = W.orderBy("day").rowsBetween(W.currentRow, W.unboundedFollowing)
    known_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    pv = F.last("rev", ignorenulls=True).over(wp)
    pd = F.last(known_day, ignorenulls=True).over(wp)
    nv = F.first("rev", ignorenulls=True).over(wn)
    nd = F.first(known_day, ignorenulls=True).over(wn)
    frac = F.datediff(F.col("day"), pd).cast("double") / F.datediff(nd, pd).cast(
        "double"
    )
    return j.select(
        "day",
        F.coalesce(F.col("rev"), pv + (nv - pv) * frac).alias("revenue"),
        F.col("rev").isNull().alias("interpolated"),
    )


_CASCADE_SQL = """
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS p,
         sum(cast(o_totalprice AS DECIMAL(30,6))) AS td, count(*) AS n
  FROM orders GROUP BY 1
),
monthly AS (
  SELECT cast(date_trunc('month', p) AS DATE) AS p, sum(td) AS td, sum(n) AS n
  FROM daily GROUP BY 1
),
yearly AS (
  SELECT cast(date_trunc('year', p) AS DATE) AS p, sum(td) AS td, sum(n) AS n
  FROM monthly GROUP BY 1
)
SELECT grain, p AS period_start,
       cast(round(td, 2) AS DOUBLE) AS total_revenue,
       CAST(n AS BIGINT) AS n_orders
FROM (
  SELECT 'day' AS grain, * FROM daily
  UNION ALL SELECT 'month', * FROM monthly
  UNION ALL SELECT 'year', * FROM yearly
)
"""


@query("ts_rollup_cascade", oracle=_CASCADE_SQL)
def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (hypertable-style continuous-aggregate
    cascade): day partials -> month from day -> year from month, all three
    grains in one result tagged by ``grain``.

    The month and year aggregations consume *partials*, not raw facts — at
    100 TB the fact scan happens once (day grain, persisted: Catalyst does
    NOT auto-reuse the aggregate subtree across UNION branches — verified
    against the executed AQE plan, which showed 3 fact scans without the
    persist and 1 with it), and the coarser grains re-shuffle only day-grain
    rows (bounded by the calendar). Decimal partial sums stay exact through
    every level, so re-aggregating partials is lossless — the decimal
    analogue of a mergeable sketch."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("p")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("td"),
        F.count("*").alias("n"),
    )
    daily = daily.persist()
    monthly = daily.groupBy(F.trunc("p", "month").alias("p")).agg(
        F.sum("td").alias("td"), F.sum("n").alias("n")
    )
    yearly = monthly.groupBy(F.trunc("p", "year").alias("p")).agg(
        F.sum("td").alias("td"), F.sum("n").alias("n")
    )
    tagged = (
        daily.select(F.lit("day").alias("grain"), "p", "td", "n")
        .unionByName(monthly.select(F.lit("month").alias("grain"), "p", "td", "n"))
        .unionByName(yearly.select(F.lit("year").alias("grain"), "p", "td", "n"))
    )
    return tagged.select(
        "grain",
        F.col("p").alias("period_start"),
        F.round("td", 2).cast("double").alias("total_revenue"),
        F.col("n").alias("n_orders"),
    )


_PATTERN_SQL = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
)
SELECT user_id, length(seq) AS seq_len,
       len(regexp_extract_all(seq, 'vp')) AS n_adjacent_conv,
       len(regexp_extract_all(seq, 'v[^p]*p')) AS n_eventual_conv
FROM seqs
"""


@query("events_pattern_match", oracle=_PATTERN_SQL)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: per user, encode the
    time-ordered event stream as a one-char-per-event string (c/s/e/v/p) and
    count regex pattern hits — ``vp`` (view immediately followed by
    purchase) and ``v[^p]*p`` (view eventually converting).

    The encode is a distributed groupBy: ``collect_list(struct(ts, event_id,
    initial))`` -> ``array_sort`` (map-side, O(k log k) per user) ->
    ``transform``+``array_join``. State per key is that user's event count,
    so it scales horizontally; both regexes are deterministic-automaton
    patterns on which Java regex and RE2 agree on non-overlapping match
    counts. The streaming analogue is applyInPandasWithState keyed the same
    way (streaming/events.py)."""
    e = _t(spark, sf_dir, "events")
    seq_structs = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    seq = F.array_join(F.transform(seq_structs, lambda x: x["c"]), "")
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("seq_len"),
            F.regexp_count(F.col("seq"), F.lit("vp")).alias("n_adjacent_conv"),
            F.regexp_count(F.col("seq"), F.lit("v[^p]*p")).alias("n_eventual_conv"),
        )
    )


_COHORT_SQL = """
WITH um AS (
  SELECT DISTINCT user_id, year(ts) * 12 + month(ts) AS mon FROM events
),
c AS (
  SELECT user_id, mon, min(mon) OVER (PARTITION BY user_id) AS cmon FROM um
)
SELECT make_date(cast((cmon - 1) / 12 AS INTEGER), ((cmon - 1) % 12) + 1, 1)
         AS cohort_month,
       mon - cmon AS month_offset, count(*) AS n_users
FROM c GROUP BY 1, 2
"""


@query("events_cohort_retention", oracle=_COHORT_SQL)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity month, with
    distinct-user counts at each month offset since the cohort start — the
    standard product-analytics triangle.

    Shape: dedup to user-months first (the only pass over raw events), then
    a per-user window min for the cohort month (no self-join), then a
    calendar-grain aggregate. Every stage after the dedup works on at most
    |users| x |months| rows, so the matrix costs one fact scan + one
    key-partitioned shuffle at any data volume."""
    e = _t(spark, sf_dir, "events")
    mon = (F.year("ts") * 12 + F.month("ts")).alias("mon")
    um = e.select("user_id", mon).distinct()
    cmon = F.min("mon").over(W.partitionBy("user_id"))
    c = um.select("user_id", "mon", cmon.alias("cmon"))
    cohort_month = F.make_date(
        ((F.col("cmon") - 1) / 12).cast("int"),
        ((F.col("cmon") - 1) % 12) + 1,
        F.lit(1),
    )
    return (
        c.groupBy(
            cohort_month.alias("cohort_month"),
            (F.col("mon") - F.col("cmon")).alias("month_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


_TRANSITION_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
)
SELECT prev, event_type AS curr, count(*) AS n,
       cast(count(*) AS DOUBLE)
         / sum(count(*)) OVER (PARTITION BY prev) AS prob
FROM s WHERE prev IS NOT NULL GROUP BY prev, event_type
"""


@query("events_transition_matrix", oracle=_TRANSITION_SQL)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between event
    types: per user, each event is paired with its predecessor (lag over the
    deterministic ts/event_id order), then pairs are counted globally and
    normalized per source state.

    The lag window is key-partitioned (per user) so it distributes; the
    transition matrix itself is |event_types|^2 rows — the classic
    big-input/tiny-output funnel. The probability is an IEEE division of two
    exact integers, so it is bit-identical cross-engine."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    counts = s.groupBy("prev", F.col("event_type").alias("curr")).agg(
        F.count("*").alias("n")
    )
    prob = F.col("n").cast("double") / F.sum("n").over(W.partitionBy("prev"))
    return counts.select("prev", "curr", "n", prob.alias("prob"))


_CONCURRENCY_SQL = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL
         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS new_session,
    event_id
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sess AS (
  SELECT user_id, sid, min(ts) AS s0, max(ts) AS s1
  FROM numbered GROUP BY user_id, sid
),
bounds AS (
  SELECT s0 AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT s1 + INTERVAL '1 second' AS t, -1 AS delta FROM sess
),
swept AS (
  SELECT t, sum(delta) OVER (ORDER BY t, delta
                             ROWS UNBOUNDED PRECEDING) AS concurrency
  FROM bounds
)
SELECT cast(date_trunc('day', t) AS DATE) AS day,
       CAST(max(concurrency) AS BIGINT) AS peak_concurrent_sessions
FROM swept GROUP BY 1
"""


@query("events_max_concurrency", oracle=_CONCURRENCY_SQL)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the sweep-line algorithm:
    sessionize (30-min gap), emit +1 at session start and −1 just after
    session end, running-sum the boundary stream in time order, take the
    daily max.

    The running sum is pure integer arithmetic (order-independent-exact
    under the deterministic (t, delta) order — −1 before +1 at equal
    timestamps, the conservative tie rule), so the sweep is oracle-exact.
    Scale shape: sessionization and boundary emission are key-partitioned;
    only the boundary stream (2 rows per session, not per event) reaches
    the global sweep, which runs as ``two_pass_prefix_sum``
    (functions/ranks.py): range buckets by (t, delta) → per-bucket delta
    sums → broadcast opening balances → local running sum. No
    single-partition WindowExec (asserted by plans.plan_violations)."""
    e = _t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wu)
    marked = e.select(
        "user_id", "ts", "event_id",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias("new_session"),
    )
    sid = F.sum("new_session").over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = (
        marked.select("user_id", "ts", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s0"), F.max("ts").alias("s1"))
    )
    bounds = sess.select(F.col("s0").alias("t"), F.lit(1).alias("delta")).unionByName(
        sess.select(
            (F.col("s1") + F.expr("INTERVAL 1 SECOND")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    # bounds is the full sessionization (two per-user window passes) — the
    # two-pass sweep's sample and bucket-sum jobs would re-run it; persist
    bounds = bounds.persist()
    swept = two_pass_prefix_sum(
        bounds, [("t", "asc"), ("delta", "asc")], "delta", out_col="concurrency"
    )
    return swept.groupBy(F.to_date("t").alias("day")).agg(
        F.max("concurrency").alias("peak_concurrent_sessions")
    )


_YOY_SQL = """
WITH monthly AS (
  SELECT cast(date_trunc('month', o_orderdate) AS DATE) AS m,
         sum(cast(o_totalprice AS DECIMAL(30,6))) AS td
  FROM orders GROUP BY 1
)
SELECT m,
  cast(round(td, 2) AS DOUBLE) AS revenue,
  cast(td AS DOUBLE)
    / lag(cast(td AS DOUBLE), 1) OVER (ORDER BY m) - 1 AS mom_growth,
  cast(td AS DOUBLE)
    / lag(cast(td AS DOUBLE), 12) OVER (ORDER BY m) - 1 AS yoy_growth
FROM monthly
"""


@query("ts_yoy_growth", oracle=_YOY_SQL)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year growth rates on the monthly
    revenue series — lag(1) and lag(12) over the calendar-ordered exact
    decimal totals, then one IEEE division each (NULL for the first
    month/year, standard KPI semantics).

    Same calendar-grain discipline as the other ts_* ops: the global
    ordered window sees |months| rows, so its single partition is
    irrelevant at any data volume; growth is computed from bit-identical
    operands, so the ratios are oracle-exact."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.trunc("o_orderdate", "month").alias("m")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("td")
    )
    w = W.orderBy("m")
    tdd = F.col("td").cast("double")
    return monthly.select(
        "m",
        F.round("td", 2).cast("double").alias("revenue"),
        (tdd / F.lag(tdd, 1).over(w) - 1).alias("mom_growth"),
        (tdd / F.lag(tdd, 12).over(w) - 1).alias("yoy_growth"),
    )


_ROLLING_DAU_SQL = """
WITH du AS (
  SELECT DISTINCT cast(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day,
       count(DISTINCT u.user_id) AS users_7d,
       count(*) AS user_days_7d
FROM days d
JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
"""


@query("ts_rolling_distinct_users", oracle=_ROLLING_DAU_SQL)
def ts_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (rolling DAU/WAU): distinct
    (day, user) pairs first, then a banded range join from the day spine
    onto the trailing window, then count distinct per anchor day.

    Distinct-over-a-sliding-window cannot be a window function (COUNT
    DISTINCT is not frame-able), so the exact spelling is this range join
    over the *day grain* — the fact table is touched once for the dedup;
    the join fans out at most 7 × |day-user| rows. At 100 TB the exact
    form's fan-out is still fine (it is grain-bounded), but the cheaper
    path is per-day HLL sketches merged over the trailing window
    (agg_hll_mergeable shows the sketch machinery) — estimate vs exact is
    the only trade."""
    e = _t(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().alias("d")
    u = du.alias("u")
    cond = (F.col("u.day") >= F.date_sub(F.col("d.day"), 6)) & (
        F.col("u.day") <= F.col("d.day")
    )
    return (
        days.join(u, cond)
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.countDistinct("u.user_id").alias("users_7d"),
            F.count("*").alias("user_days_7d"),
        )
    )


_TWAP_SQL = """
WITH e AS (
  SELECT user_id,
    cast(round(value * 100) AS BIGINT) AS cents,
    epoch_us(ts) AS us,
    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
  FROM events
),
agg AS (
  SELECT user_id,
    count(*) AS n_intervals,
    cast(sum(next_us - us) AS BIGINT) AS total_dur_us,
    sum(cast(cents AS HUGEINT) * (next_us - us)) AS wsum
  FROM e WHERE next_us IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_intervals, total_dur_us,
  cast(wsum AS DOUBLE) / cast(total_dur_us * 100 AS DOUBLE) AS twap
FROM agg
"""


@query("ts_time_weighted_avg", oracle=_TWAP_SQL)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP — the standard metric
    whenever observations are irregularly spaced: a value 'holds' until the
    next event, so each reading is weighted by its holding duration, not
    counted once).

    Exactness contract: durations are integer epoch-microsecond diffs,
    values exact integer cents; the weighted sum is a 64-bit integer sum of
    integer products (per-user bound ≈ max_cents × user_span_us ≈ 10^17 ≪
    2^63 — DuckDB's HUGEINT sum equals Spark's long sum in that domain),
    and the single terminal division is IEEE-exact over identical
    operands. Scale shape: one window + one aggregation, both partitioned
    by user_id — a single shuffle, no skew beyond a user's own event
    count; the tie-break (ts, event_id) makes the lead() deterministic
    under concurrent timestamps."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = e.withColumn("next_us", F.lead("us").over(w)).where(
        F.col("next_us").isNotNull()
    )
    agg = e.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(F.col("next_us") - F.col("us")).alias("total_dur_us"),
        F.sum(F.col("cents") * (F.col("next_us") - F.col("us"))).alias("wsum"),
    )
    return agg.select(
        "user_id",
        "n_intervals",
        "total_dur_us",
        (
            F.col("wsum").cast("double")
            / (F.col("total_dur_us") * 100).cast("double")
        ).alias("twap"),
    )


_CUSUM_SQL = """
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS day,
    sum(cast(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1
),
tot AS (SELECT count(*) AS n, sum(rev_cents) AS t FROM daily),
c AS (
  SELECT day, rev_cents,
    sum(rev_cents) OVER (ORDER BY day) AS cum,
    row_number() OVER (ORDER BY day) AS k
  FROM daily
)
SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
  cast(cum * n - k * t AS BIGINT) AS dev_num_cents,
  cast(cum * n - k * t AS DOUBLE) / cast(n * 100 AS DOUBLE) AS cusum,
  CASE WHEN abs(cum * n - k * t) =
    (SELECT max(abs(cum * n - k * t)) FROM c CROSS JOIN tot)
  THEN TRUE ELSE FALSE END AS is_peak_excursion
FROM c CROSS JOIN tot
"""


@query("ts_cusum_drift", oracle=_CUSUM_SQL)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on the daily-revenue KPI series: the running
    cumulative deviation from the series mean (C_k = Σ_{i≤k}(x_i − μ)),
    whose peak excursion marks the most likely change-point — the standard
    SPC/monitoring primitive for 'did the level of this metric shift?'.

    Exactness: the deviation is kept as the INTEGER numerator
    cum·n − k·total (multiplying through by n avoids a per-row float mean;
    bounded ≈ total_cents × n_days ≪ 2^63), so running sums stay integer
    in both engines; the reported `cusum` is one terminal IEEE division.
    Scale shape: the window runs over the DAY grain (rows = calendar days,
    not orders — the aggregate-first discipline of this module), so the
    single-partition ordered window is bounded by the date span at any
    data volume."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    daily = daily.persist()  # totals agg AND windowed walk
    n, t = daily.agg(F.count("*"), F.sum("rev_cents")).first()
    w = W.orderBy("day")
    c = daily.withColumn("cum", F.sum("rev_cents").over(w)).withColumn(
        "k", F.row_number().over(w)
    )
    dev = F.col("cum") * F.lit(n) - F.col("k") * F.lit(t)
    c = c.select("day", "rev_cents", dev.alias("dev_num_cents"))
    c = c.persist()
    peak = c.agg(F.max(F.abs("dev_num_cents"))).first()[0]
    return c.select(
        "day",
        "rev_cents",
        "dev_num_cents",
        (F.col("dev_num_cents").cast("double") / F.lit(float(n * 100))).alias(
            "cusum"
        ),
        (F.abs("dev_num_cents") == F.lit(peak)).alias("is_peak_excursion"),
    )


_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT event_type,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type, count(gap_us) AS n_gaps,
  cast(min(gap_us) AS BIGINT) AS min_gap_us,
  quantile_cont(gap_us, 0.5) AS p50_gap_us,
  quantile_cont(gap_us, 0.95) AS p95_gap_us,
  cast(max(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@query("ts_interarrival_p95", oracle=_INTERARRIVAL_SQL)
def ts_interarrival_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-gap distribution per event type (p50/p95/min/max of
    the gap between consecutive events) — the standard liveness/SLA
    monitor: 'this feed normally ticks every N seconds; its p95 gap is the
    alert threshold'.

    Gaps are integer epoch-µs diffs (deterministic lag over the
    (ts, event_id) total order); exact linear-interpolation percentiles
    (Spark `percentile` == DuckDB `quantile_cont` — verified bit-stable on
    integer inputs). Scale shape: one event_type-keyed window + one agg on
    the same key — a single shuffle; per-type sequences are the natural
    partition and a hot type splits cleanly by day if needed (gaps only
    break at partition seams, fixable with a boundary-row overlap)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", F.unix_micros("ts").alias("us")
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = e.withColumn("gap_us", F.col("us") - F.lag("us").over(w)).where(
        F.col("gap_us").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("p50_gap_us"),
        F.expr("percentile(gap_us, 0.95)").alias("p95_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def _rolling_hll_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor_day, approx_users_7d, exact_users_7d) — the sketch rollup
    next to its exact banded-join twin; the registered query projects the
    hash-stable columns, pytest asserts the raw estimate."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    # each day's sketch serves anchors day..day+6; anchors are then
    # SEMI-JOINED back to the day spine, so the output grain matches the
    # exact twin (an absent day is not an anchor) and no driver-side
    # max(day) round-trip is needed
    fanned = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor_day"),
        "sk",
    ).join(
        daily.select(F.col("day").alias("anchor_day")), "anchor_day", "left_semi"
    )
    est = (
        fanned.groupBy("anchor_day")
        .agg(F.hll_union_agg("sk").alias("sk7"))
        .select(
            "anchor_day",
            F.hll_sketch_estimate("sk7").cast("long").alias("approx_users_7d"),
        )
    )
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct().alias("d")
    u = du.alias("u")
    cond = (F.col("u.day") >= F.date_sub(F.col("d.day"), 6)) & (
        F.col("u.day") <= F.col("d.day")
    )
    exact = (
        days.join(u, cond)
        .groupBy(F.col("d.day").alias("anchor_day"))
        .agg(F.countDistinct("u.user_id").alias("exact_users_7d"))
    )
    return est.join(exact, "anchor_day")


_ROLLING_HLL_SQL = """
WITH du AS (SELECT DISTINCT cast(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day AS anchor_day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_users_7d,
       TRUE AS within_bound
FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY 1
"""


@query("ts_rolling_distinct_hll", oracle=_ROLLING_HLL_SQL)
def ts_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB spelling of trailing-7-day distinct users: ONE per-day HLL
    sketch pass over the facts, then each day's sketch is broadcast onto
    the ≤7 anchor days it serves (explode of a 7-day sequence) and merged
    with `hll_union_agg` — no per-(day,user) fan-out ever crosses the
    network, only kilobyte sketches.

    This is the estimate/exact trade documented on
    `ts_rolling_distinct_users` (the exact banded-join form) made real.

    ERROR-BOUND ORACLE (round-10 graduation from rows-only): the hash
    gate pins the anchor days + exact trailing counts + the Spark-computed
    verdict ``within_bound`` = |approx − exact| ≤ greatest(3, 5%·exact)
    (~5·rse at lgConfigK=14). The exact side is the audit harness, not
    the serving path — at 100 TB you run the sketch plan alone and the
    audit on a day stratum. Raw estimates stay asserted ±3% in
    tests/test_sampling.py. Scale shape: 1 fact agg to day grain + 1
    day-grain shuffle of sketches; works identically as a streaming
    foreachBatch partial-merge (the sketches are mergeable state)."""
    j = _rolling_hll_frame(spark, sf_dir)
    ap = F.col("approx_users_7d").cast("double")
    ex = F.col("exact_users_7d").cast("double")
    return j.select(
        "anchor_day",
        "exact_users_7d",
        (F.abs(ap - ex) <= F.greatest(F.lit(3.0), 0.05 * ex)).alias("within_bound"),
    )


_ROLLMED_SQL = """
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS day,
    sum(cast(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT day, CAST(rev_cents AS BIGINT) AS rev_cents,
  quantile_cont(rev_cents, 0.5) OVER (
    ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS rolling_median_cents
FROM daily
"""


@query("ts_rolling_median", oracle=_ROLLMED_SQL)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day rolling MEDIAN of daily revenue — the robust
    smoother that, unlike a rolling mean, shrugs off single-day spikes
    (a flash sale doesn't drag the baseline it's judged against).

    Exactness: the frame holds ≤7 integer cent values; both engines
    compute the same linear-interpolated median over the same sorted
    integers (the verified-safe percentile contract). Scale shape: the
    window runs over the DAY grain (aggregate-first discipline), so the
    single-partition ordered frame is calendar-bounded at any volume."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents")
    )
    return daily.select(
        "day",
        "rev_cents",
        F.expr("percentile(rev_cents, 0.5)")
        .over(W.orderBy("day").rowsBetween(-3, 3))
        .alias("rolling_median_cents"),
    )
