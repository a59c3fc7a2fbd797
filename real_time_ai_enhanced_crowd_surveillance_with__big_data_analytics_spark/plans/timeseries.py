"""Time-series analytics plans: gap-fill/LOCF resampling, sliding
active-user windows, time-weighted averages, and robust (MAD) outliers.

The reference's surveillance loop is a per-frame time series (main.py's
while-loop emits one observation per frame); these are the batch
analytics an operator would run over that history — the "historical
trend analysis" its README promises. Each query is a (spark_fn,
oracle_sql) pair per the registry contract.

Scale posture is noted per query; the common theme is that every spine
(hour/day grid) is bounded by calendar span — independent of corpus
row count — so the gap-fill joins stay cheap at 100 TB, and the only
event-cardinality shuffles are standard partial-aggregated groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table


def _ts_str(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# --- gap-filled hourly resample with LOCF -----------------------------------

def _dense_hourly(events: DataFrame, *aggs) -> DataFrame:
    """Per-(type, hour) aggregates joined onto the DENSE hour spine —
    the shared calendar-resample core of ``gap_fill_hourly`` and
    ``hourly_autocorr``. Returns one row per (event_type, bucket) for
    EVERY hour in [min, max]; agg columns are NULL on gap hours. The
    spine (hours-in-range × types) is calendar-bounded, never
    event-bounded, so both join sides after the one hourly aggregate
    are broadcast-sized regardless of corpus size."""
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(*aggs)
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("bucket")
        )
        .crossJoin(events.select("event_type").distinct())
    )
    return spine.join(hourly, ["event_type", "bucket"], "left")


def gap_fill_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly per-type resample over a dense hour spine, missing buckets
    gap-filled, with last-observation-carried-forward on the sum.

    The spine is ``sequence(min_hour, max_hour)`` × distinct types —
    its size is calendar-bounded (hours in range × ~5 types), NOT
    event-bounded, so the cross join and left join are broadcast-sized
    no matter the corpus. One event-cardinality shuffle (the hourly
    groupBy, partial-aggregated map-side); the LOCF window partitions
    by type over the tiny spine. At 100 TB the hourly aggregate is the
    only cost and it's the minimum possible one scan + one shuffle.
    """
    events = load_table(spark, "events", sf)
    joined = _dense_hourly(
        events,
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    locf = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "event_type",
        _ts_str(F.col("bucket")).alias("bucket_hour"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(locf).alias("carried_sum"),
        F.col("n_events").isNull().alias("is_gap"),
    )


GAP_FILL_HOURLY_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events, round(sum(value), 4) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT t.event_type,
       strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       coalesce(h.n_events, 0) AS n_events,
       h.sum_value AS sum_value,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY t.event_type ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_sum,
       h.n_events IS NULL AS is_gap
FROM spine s
CROSS JOIN types t
LEFT JOIN hourly h ON h.event_type = t.event_type AND h.bucket = s.bucket
"""


# --- sliding 7-day distinct actives (DAU / WAU) -----------------------------

def rolling_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Per calendar day: distinct actives that day (DAU) and over the
    trailing 7 days (WAU), on a dense day spine.

    Sliding DISTINCT can't be windowed directly; the scalable form is
    the contribution explode: each distinct (user, day) emits the ≤7
    window-days it contributes to, then one countDistinct per day.
    Spark plans countDistinct as two aggregates — the first keyed on
    the high-cardinality (day, user) pair, partial-aggregated map-side
    — so the low-cardinality day key never concentrates raw rows on one
    reducer. The day spine is calendar-bounded; DAU rides the same
    aggregate via a conditional distinct (contribution where the source
    day equals the window day), so the whole query is one scan + the
    distinct pipeline.
    """
    events = load_table(spark, "events", sf)
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    contrib = user_days.select(
        "user_id",
        "d",
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr("interval 6 days"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    return (
        spine.join(contrib, "day", "left")
        .groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("d") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau_7d"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau_7d")
    )


ROLLING_ACTIVE_USERS_SQL = """
WITH bounds AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
  FROM events
), spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
), ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       count(DISTINCT CASE WHEN u.d = s.day THEN u.user_id END) AS dau,
       count(DISTINCT u.user_id) AS wau_7d
FROM spine s
LEFT JOIN ud u ON u.d BETWEEN s.day - INTERVAL 6 DAY AND s.day
GROUP BY s.day
"""


# --- time-weighted average per user -----------------------------------------

def time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user time-weighted mean of ``value`` — each reading weighted
    by how long it stayed current (seconds until the next reading).

    The weight is the exact integer microsecond gap from ``lead`` over
    (ts, event_id) — the deterministic tiebreak keeps equal-timestamp
    rows stable across engines. One window shuffle on user_id (high
    cardinality, even) + one groupBy reusing the same partitioning, so
    Catalyst plans a single exchange. Users with one event carry no
    duration and are excluded (matching the oracle's HAVING).
    """
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    timed = events.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("tus"),
        "event_id",
    ).withColumn("dt_us", F.lead("tus").over(w) - F.col("tus"))
    return (
        timed.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                (F.max("tus") - F.min("tus")) / F.lit(1000000.0), 6
            ).alias("span_s"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
            ).alias("twa_value"),
        )
        .filter(F.col("n_events") > 1)
    )


TIME_WEIGHTED_AVG_SQL = """
WITH timed AS (
  SELECT user_id, value, epoch_us(ts) AS tus,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dt_us
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       round((max(tus) - min(tus)) / 1000000.0, 6) AS span_s,
       round(sum(value * dt_us) / sum(dt_us), 6) AS twa_value
FROM timed
GROUP BY user_id
HAVING count(*) > 1
"""


# --- robust outliers (median / MAD modified z-score) ------------------------

MAD_Z_THRESHOLD = 3.5


def robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type robust outliers by modified z-score
    ``0.6745·(x − median) / MAD`` (Iglewicz–Hoaglin), the
    heavy-tail-safe twin of the z-score scan in ``value_outliers``.

    Two exact medians (per-type value median, then median absolute
    deviation) — each a 5-row broadcast joined back onto the scan, so
    the events table is never shuffled, only rescanned (4 scans in this
    plan shape since the med subtree feeds two broadcasts; at 100 TB
    you'd compute both medians with ``approx_percentile`` in one pass
    and rescan once — the exact form is the oracle-checkable spec). The score is rounded
    to 6 dp BEFORE thresholding on both engines so a 1-ulp interpolation
    difference inside the median can't flip membership.
    """
    events = load_table(spark, "events", sf)
    # each dim is ≤ n_types rows; localCheckpoint pins the computed
    # result so the broadcast consumers don't re-run the percentile
    # subtree (med otherwise executes once per broadcast — measured 2×
    # slower end-to-end without this)
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    ).localCheckpoint()
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    ).localCheckpoint()
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn(
            "mod_z",
            F.round(0.6745 * (F.col("value") - F.col("med")) / F.col("mad"), 6),
        )
        .filter(F.abs(F.col("mod_z")) > MAD_Z_THRESHOLD)
        .select("event_id", "event_type", "value", "mod_z")
    )


ROBUST_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       round(0.6745 * (d.value - d.med) / m.mad, 6) AS mod_z
FROM dev d JOIN mad m USING (event_type)
WHERE abs(round(0.6745 * (d.value - d.med) / m.mad, 6)) > {MAD_Z_THRESHOLD}
"""


# --- alarm episodes (gaps-and-islands) --------------------------------------

EPISODE_THRESHOLD = 150.0


def alarm_episodes(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal runs of consecutive above-threshold events per user —
    the batch census of the alarm EPISODES the reference's sink
    deduplicates to "once per episode" (SURVEY S6; streaming twin is
    ``pkg/streaming/stateful.py``'s rising-edge state).

    Classic gaps-and-islands: two row_numbers over the same user-keyed
    sort (their difference is constant within a run), then one groupBy
    per island. Catalyst plans ONE exchange — both windows and the
    final aggregate reuse the user_id hash partitioning; the sort is
    per-partition. Deterministic tiebreak (ts, event_id) keeps island
    ids stable across engines.
    """
    return _episode_spans(load_table(spark, "events", sf)).select(
        "user_id",
        _ts_str(F.col("s")).alias("episode_start"),
        _ts_str(F.col("e")).alias("episode_end"),
        "n_events",
        F.round("peak", 4).alias("peak_value"),
    )


def _episode_spans(events: DataFrame) -> DataFrame:
    """Raw-timestamp episode spans (user_id, s, e, n_events, peak) —
    shared by the census and the concurrency sweep so both operate on
    microsecond-exact bounds (the census formats to seconds only in its
    output layer)."""
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_alarm = Window.partitionBy("user_id", "is_alarm").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "is_alarm", F.col("value") > EPISODE_THRESHOLD
    ).withColumn(
        "island", F.row_number().over(w_all) - F.row_number().over(w_alarm)
    )
    return (
        flagged.filter("is_alarm")
        .groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count("*").alias("n_events"),
            F.max("value").alias("peak"),
        )
    )


ALARM_EPISODES_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         value > {EPISODE_THRESHOLD} AS is_alarm,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, value > {EPISODE_THRESHOLD}
                                ORDER BY ts, event_id) AS island
  FROM events
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS episode_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS episode_end,
       count(*) AS n_events,
       round(max(value), 4) AS peak_value
FROM flagged
WHERE is_alarm
GROUP BY user_id, island
"""


# --- daily peak alarm concurrency (sweep line) ------------------------------

def alarm_concurrency_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Peak number of SIMULTANEOUSLY-open alarm episodes per calendar
    day — the control-room staffing metric over the episode census.

    Sweep line, made partition-parallel: each episode explodes into the
    days it covers (clipped to day bounds), then ±1 boundary points
    sort WITHIN each day and a running sum takes the max. A naive
    global sweep is one total-order sort — unshardable at 100 TB; the
    day-partitioned form is embarrassingly parallel and exact, because
    clipping preserves the open-interval count inside every day.
    Touching intervals count as concurrent (+1 sorts before −1 at the
    same instant); the within-tie order doesn't affect the prefix-sum
    maximum, so the result is deterministic.
    """
    ep = _episode_spans(load_table(spark, "events", sf)).select("s", "e")
    per_day = ep.select(
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("day", "s"),
                F.date_trunc("day", "e"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    starts = per_day.select(
        "day", F.greatest("s", F.col("day")).alias("t"), F.lit(1).alias("delta")
    )
    ends = per_day.select(
        "day",
        F.least("e", F.col("day") + F.expr("interval 1 day")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    w = Window.partitionBy("day").orderBy(
        F.col("t").asc(), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        starts.union(ends)
        .withColumn("c", F.sum("delta").over(w))
        .groupBy("day")
        .agg(F.max("c").alias("peak_concurrent"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("peak_concurrent").cast("long").alias("peak_concurrent"),
        )
    )


ALARM_CONCURRENCY_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         value > {EPISODE_THRESHOLD} AS is_alarm,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, value > {EPISODE_THRESHOLD}
                                ORDER BY ts, event_id) AS island
  FROM events
), ep AS (
  SELECT min(ts) AS s, max(ts) AS e
  FROM flagged WHERE is_alarm GROUP BY user_id, island
), per_day AS (
  SELECT s, e,
         unnest(generate_series(date_trunc('day', s), date_trunc('day', e),
                                INTERVAL 1 DAY)) AS day
  FROM ep
), pts AS (
  SELECT day, greatest(s, day) AS t, 1 AS delta FROM per_day
  UNION ALL
  SELECT day, least(e, day + INTERVAL 1 DAY) AS t, -1 AS delta FROM per_day
), swept AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM pts
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(max(c) AS BIGINT) AS peak_concurrent
FROM swept
GROUP BY day
"""


# --- lag-1 autocorrelation of the hourly series -----------------------------

def hourly_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1 Pearson autocorrelation of each type's hourly event-count
    series (gap hours count as 0) — the "is this feed periodic or
    bursty" diagnostic over the resampled stream.

    The correlation is computed from integer co-moments
    (n·Σxy − Σx·Σy over exact BIGINT sums), so both engines do the one
    floating division last — no accumulation-order drift. The series
    per type is calendar-bounded, the only corpus-sized step is the
    hourly aggregate.
    """
    events = load_table(spark, "events", sf)
    dense = _dense_hourly(events, F.count("*").alias("n")).select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    pairs = dense.withColumn("y", F.lag("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    agg = pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "event_type",
        "n_pairs",
        F.round(num / den, 6).alias("autocorr_lag1"),
    )


HOURLY_AUTOCORR_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, s.bucket, coalesce(h.n, 0) AS x
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly h ON h.event_type = t.event_type AND h.bucket = s.bucket
), pairs AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY bucket) AS y
  FROM dense
  QUALIFY y IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n_pairs,
       round((n_pairs * sxy - sx * sy) /
             sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                  * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
         AS autocorr_lag1
FROM agg
"""


# --- hour-of-day seasonality profile ----------------------------------------

def seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Mean events per hour-of-day per type — the diurnal shape of the
    feed (complements ``hourly_autocorr``'s periodicity score with the
    actual profile). Denominator = distinct calendar days observed, so
    the mean is per-day-normalized and gap days count as zero. One
    scan, two bounded aggregates (24×types and a 1-row day count)."""
    events = load_table(spark, "events", sf)
    days = events.agg(
        F.countDistinct(F.date_trunc("day", "ts")).alias("n_days")
    )
    by_hour = events.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(F.count("*").alias("n"))
    return by_hour.crossJoin(F.broadcast(days)).select(
        "event_type",
        "hour_of_day",
        "n",
        F.round(F.col("n") / F.col("n_days"), 6).alias("mean_per_day"),
    )


SEASONAL_PROFILE_SQL = """
WITH days AS (
  SELECT count(DISTINCT date_trunc('day', ts)) AS n_days FROM events
), by_hour AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour_of_day, n,
       round(n / CAST(d.n_days AS DOUBLE), 6) AS mean_per_day
FROM by_hour CROSS JOIN days d
"""


# --- seasonal anomaly detection (volume vs diurnal baseline) ----------------

ANOM_SIGMA = 2  # flag hours more than this many LOO std-devs from cell mean


def seasonal_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Hours whose total event volume is anomalous against the diurnal
    baseline — the monitoring query an operator runs over the
    surveillance feed's own history: outage hours (volume collapse) and
    incident hours (volume spike) against what that hour-of-day
    normally does. Gap hours count as ZERO volume (the dense spine of
    gap_fill_hourly), which is exactly what makes outages visible.

    Statistics are leave-one-out: hour h is scored against the mean/std
    of the OTHER hours in its hour-of-day cell. Self-inclusion is not a
    nicety — with n observations an included point can never exceed
    √(n−1) sigmas of its own sample, so a 2σ rule over a month of
    hourly data (n≈30) would be mathematically near-blind. LOO partials
    come free from the same cell aggregate: n'=n−1, S'=S−c, Q'=Q−c².

    Integer-exact flagging: |c−S'/n'| > ANOM_SIGMA·σ' is evaluated
    cross-multiplied as (c·n'−S')² > ANOM_SIGMA²·(n'·Q'−S'²) — pure
    int64, no division, no float, no rounding anywhere, so the flag
    set is bit-identical across engines (headroom: safe while
    c·n' < 3e9, i.e. ~1e8 events/hour at month granularity; past that
    pre-scale c by an integer granule — same flags, coarser ties).

    Scale shape: ONE event-cardinality aggregate (hourly counts,
    partial map-side); everything after lives on the calendar-bounded
    spine (hours in range) and the 24-row cell table — broadcast joins
    regardless of corpus size.
    """
    events = load_table(spark, "events", sf)
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("bucket")
    )
    dense = spine.join(hourly, "bucket", "left").select(
        "bucket",
        F.hour("bucket").alias("hod"),
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    cell = dense.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    j = dense.join(F.broadcast(cell), "hod")
    dev = F.col("c") * (F.col("n") - 1) - (F.col("s") - F.col("c"))
    thr = (ANOM_SIGMA * ANOM_SIGMA) * (
        (F.col("n") - 1) * (F.col("q") - F.col("c") * F.col("c"))
        - (F.col("s") - F.col("c")) * (F.col("s") - F.col("c"))
    )
    return (
        j.withColumn("dev", dev)
        .withColumn("thr", thr)
        .filter(F.col("dev") * F.col("dev") > F.col("thr"))
        .select(
            _ts_str(F.col("bucket")).alias("bucket_hour"),
            F.col("hod").cast("int").alias("hod"),
            F.col("c").alias("cnt"),
            (F.col("dev") * F.col("dev")).alias("dev_sq"),
            "thr",
            F.when(F.col("dev") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("direction"),
        )
    )


SEASONAL_ANOMALIES_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*) AS c FROM events GROUP BY 1
), dense AS (
  SELECT s.bucket, CAST(hour(s.bucket) AS INT) AS hod,
         CAST(coalesce(h.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN hourly h ON h.bucket = s.bucket
), cell AS (
  SELECT hod, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c*c) AS BIGINT) AS q
  FROM dense GROUP BY 1
), scored AS (
  SELECT d.bucket, d.hod, d.c,
         CAST(d.c*(e.n-1) - (e.s-d.c) AS BIGINT) AS dev,
         CAST({ANOM_SIGMA * ANOM_SIGMA}*((e.n-1)*(e.q - d.c*d.c)
              - (e.s-d.c)*(e.s-d.c)) AS BIGINT) AS thr
  FROM dense d JOIN cell e USING (hod)
)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_hour,
       hod, c AS cnt, CAST(dev*dev AS BIGINT) AS dev_sq, thr,
       CASE WHEN dev > 0 THEN 1 ELSE -1 END AS direction
FROM scored WHERE dev*dev > thr
"""


# --- within-user event-type co-occurrence lift ------------------------------

def cooccurrence_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket lift over whole user histories: for each unordered
    type pair, P(user does both) / (P(a)·P(b)) — the complement of
    ``bigram_lift``'s SEQUENTIAL association. Distinct (user, type)
    pairs self-join on user (per-user work is ≤ C(n_types, 2), bounded
    by the tiny type alphabet, never by event count), probabilities are
    exact count ratios rounded last."""
    events = load_table(spark, "events", sf)
    ut = events.select("user_id", "event_type").distinct()
    nrow = ut.agg(F.countDistinct("user_id").alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("ta"))
    b = ut.select("user_id", F.col("event_type").alias("tb"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_both"))
    )
    singles = ut.groupBy(F.col("event_type").alias("t")).agg(
        F.count("*").alias("n_t")
    )
    return (
        both.join(F.broadcast(singles.withColumnRenamed("t", "ta")), "ta")
        .withColumnRenamed("n_t", "n_a")
        .join(
            F.broadcast(
                singles.select(F.col("t").alias("tb"), F.col("n_t").alias("n_b"))
            ),
            "tb",
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "ta",
            "tb",
            "n_both",
            F.round(
                (F.col("n_both") * F.col("n_users").cast("double"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


COOCCURRENCE_LIFT_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT count(DISTINCT user_id) AS n_users FROM ut
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
), singles AS (
  SELECT event_type AS t, count(*) AS n_t FROM ut GROUP BY 1
)
SELECT pairs.ta, pairs.tb, pairs.n_both,
       round((pairs.n_both * CAST(n.n_users AS DOUBLE))
             / (sa.n_t * sb.n_t), 6) AS lift
FROM pairs
JOIN singles sa ON sa.t = pairs.ta
JOIN singles sb ON sb.t = pairs.tb
CROSS JOIN n
"""


# --- SCD2 temporal-validity join ---------------------------------------------

TIER_HEAVY = 20  # weekly event count ⇒ 'heavy'
TIER_REGULAR = 5  # ⇒ 'regular'; below ⇒ 'light'


def scd2_tier_join(spark: SparkSession, sf: str) -> DataFrame:
    """Classic warehouse SCD2 (type-2 slowly-changing dimension) shape:
    derive weekly per-user activity-tier VERSIONS with [valid_from, valid_to)
    intervals, then join every event to the version valid AT ITS
    event time. A week-w tier takes effect at week w+1 (no
    leakage — the attribute is only known after the week closes);
    events before a user's first version report tier 'new'.

    Scale shape: the dim build is one user-keyed aggregate + a lead
    window on the SAME partitioning; the temporal join is an EQUI join
    on user_id with the interval predicate as a residual filter —
    versions-per-user is small, so the residual fan-out is bounded and
    nothing degenerates into a range/BNL join. Output is the bounded
    (week, tier) matrix."""
    events = load_table(spark, "events", sf)
    week = F.date_trunc("week", F.col("ts"))
    weekly = (
        events.select("user_id", week.alias("wk"))
        .groupBy("user_id", "wk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tier = (
        F.when(F.col("cnt") >= TIER_HEAVY, F.lit("heavy"))
        .when(F.col("cnt") >= TIER_REGULAR, F.lit("regular"))
        .otherwise(F.lit("light"))
    )
    nxt = F.col("wk") + F.expr("INTERVAL 7 DAY")
    w = Window.partitionBy("user_id").orderBy("wk")
    # explicit alias on the dim key: the dim derives from the SAME
    # events DataFrame, and `events.user_id == dim.user_id` would lean
    # on the analyzer's self-join disambiguation (Spark warns
    # 'trivially true equals predicate') — renaming makes the join key
    # unambiguous by construction
    dim = weekly.select(
        F.col("user_id").alias("dim_uid"),
        nxt.alias("valid_from"),
        F.lead(nxt, 1).over(w).alias("valid_to"),
        tier.alias("tier"),
    )
    joined = events.join(
        dim,
        (F.col("user_id") == F.col("dim_uid"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return (
        joined.select(
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
                "week"
            ),
            F.coalesce(F.col("tier"), F.lit("new")).alias("tier"),
        )
        .groupBy("week", "tier")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SCD2_TIER_JOIN_SQL = f"""
WITH weekly AS (
  SELECT user_id, date_trunc('week', ts) AS wk, count(*) AS cnt
  FROM events GROUP BY 1, 2
), dim AS (
  SELECT user_id,
         wk + INTERVAL 7 DAY AS valid_from,
         lead(wk + INTERVAL 7 DAY) OVER (PARTITION BY user_id ORDER BY wk)
           AS valid_to,
         CASE WHEN cnt >= {TIER_HEAVY} THEN 'heavy'
              WHEN cnt >= {TIER_REGULAR} THEN 'regular'
              ELSE 'light' END AS tier
  FROM weekly
)
SELECT strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS week,
       coalesce(d.tier, 'new') AS tier,
       count(*) AS n_events
FROM events e
LEFT JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY 1, 2
"""


# --- CDC upsert compaction (changelog → latest state) ------------------------

CDC_DELETE_TYPE = "error"  # changelog rows of this type are DELETE ops


def cdc_upsert_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Changelog compaction — the MERGE INTO / Delta-Hudi upsert
    pattern: fold a CDC stream of upserts and deletes into the current
    snapshot of a dimension table. Base = ``customer`` (key c_custkey,
    payload c_acctbal); changelog = ``events`` keyed by user_id with
    event_id as the monotone version, ``error`` rows as DELETEs and
    everything else as UPSERTs carrying ``value``. The output is the
    compacted state: latest upsert wins per key, keys whose latest op
    is a delete vanish, untouched base rows pass through, and changelog
    keys absent from the base surface as inserts (path pinned by a
    crafted-frame unit test — the synthetic sf tables have every user
    inside the customer key range).

    Determinism: "latest" is ``max(struct(version, type, value))`` —
    one deterministic aggregate, no RNG; versions are unique in this
    changelog, and if a producer ever replayed one, the struct's full
    lexicographic order still picks the same row on both engines (the
    oracle ranks by the same three keys). The payload passes through
    untouched (round(.,2) on a 2-dp input grid is the identity).

    Scale shape: one partial-aggregated groupBy on the changelog key +
    one key equi-join against the base — exactly the shuffle pattern a
    MERGE executes on a real lakehouse; both sides partition by the
    same key, no window over anything unbounded, changelog never
    rescans history (the incremental-maintenance posture of
    state_merge_rollup, applied to row state instead of aggregates).
    """
    base = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("bkey"), F.col("c_acctbal")
    )
    changes = load_table(spark, "events", sf).select(
        F.col("user_id").alias("ckey"), "event_id", "event_type", "value"
    )
    return compact_changelog(base, changes)


def compact_changelog(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Core MERGE fold: ``base(bkey, c_acctbal)`` +
    ``changes(ckey, event_id, event_type, value)`` → compacted state.
    Split out so tests can drive the insert path with crafted frames."""
    latest = changes.groupBy("ckey").agg(
        F.max(F.struct("event_id", "event_type", "value")).alias("last"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    merged = base.join(latest, base.bkey == latest.ckey, "full_outer")
    return (
        merged.filter(
            F.col("ckey").isNull()
            | (F.col("last.event_type") != CDC_DELETE_TYPE)
        )
        .select(
            F.coalesce("bkey", "ckey").alias("custkey"),
            F.round(
                F.when(
                    F.col("ckey").isNull(), F.col("c_acctbal")
                ).otherwise(F.col("last.value")),
                2,
            ).alias("cur_value"),
            F.when(F.col("ckey").isNull(), F.lit("unchanged"))
            .when(F.col("bkey").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("status"),
            F.coalesce("n_changes", F.lit(0)).alias("n_changes"),
            F.coalesce(F.col("last.event_id"), F.lit(-1)).alias(
                "last_version"
            ),
        )
    )


def cdc_deletions_audit(spark: SparkSession, sf: str) -> DataFrame:
    """The deletion-compliance complement of the CDC fold: every key
    whose LATEST changelog op is a delete — the rows an auditor checks
    actually vanished from the compacted snapshot (the GDPR-erasure
    ledger next to the governance family's k-anonymity/DP releases).
    Per key: the delete's version, how many changelog rows preceded it
    (erasure depth), and whether it targeted a real base row or was an
    orphan delete (a key never in the base — usually a producer bug
    worth surfacing, not silently dropping).

    Same deterministic latest rule and shuffle shape as
    cdc_upsert_compaction: one max-struct aggregate + one key
    equi-join (left join against the base key set, broadcast when the
    dim is small)."""
    base = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("bkey")
    )
    latest = (
        load_table(spark, "events", sf)
        .groupBy(F.col("user_id").alias("ckey"))
        .agg(
            F.max(F.struct("event_id", "event_type", "value")).alias(
                "last"
            ),
            F.count(F.lit(1)).alias("n_changes"),
        )
        .filter(F.col("last.event_type") == CDC_DELETE_TYPE)
    )
    return latest.join(base, latest.ckey == base.bkey, "left").select(
        F.col("ckey").alias("custkey"),
        F.col("last.event_id").alias("deleted_at_version"),
        (F.col("n_changes") - 1).alias("changes_before_delete"),
        F.col("bkey").isNotNull().alias("was_in_base"),
    )


CDC_DELETIONS_AUDIT_SQL = f"""
WITH ranked AS (
  SELECT user_id AS ckey, event_type, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY event_id DESC, event_type DESC,
                                     value DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
), latest AS (
  SELECT ckey, event_id AS deleted_at_version, n_changes
  FROM ranked WHERE rn = 1 AND event_type = '{CDC_DELETE_TYPE}'
)
SELECT l.ckey AS custkey, l.deleted_at_version,
       l.n_changes - 1 AS changes_before_delete,
       c.c_custkey IS NOT NULL AS was_in_base
FROM latest l LEFT JOIN customer c ON l.ckey = c.c_custkey
"""


CDC_UPSERT_COMPACTION_SQL = f"""
WITH ranked AS (
  -- (event_id DESC, event_type DESC, value DESC) = Spark's
  -- max(struct(event_id, event_type, value)) lexicographic rule, so
  -- the two engines agree even if a producer ever replays an
  -- event_id (arg_max's tie pick is unspecified; this one is not)
  SELECT user_id AS ckey, event_type, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY event_id DESC, event_type DESC,
                                     value DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
), latest AS (
  SELECT ckey, event_type AS latest_type, value AS latest_value,
         event_id AS last_version, n_changes
  FROM ranked WHERE rn = 1
)
SELECT coalesce(c.c_custkey, l.ckey) AS custkey,
       round(CASE WHEN l.ckey IS NULL THEN c.c_acctbal
                  ELSE l.latest_value END, 2) AS cur_value,
       CASE WHEN l.ckey IS NULL THEN 'unchanged'
            WHEN c.c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS status,
       coalesce(l.n_changes, 0) AS n_changes,
       coalesce(l.last_version, -1) AS last_version
FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.ckey
WHERE l.ckey IS NULL OR l.latest_type <> '{CDC_DELETE_TYPE}'
"""


# --- mergeable-state rollup maintenance (late-data merge) -------------------

def state_merge_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental rollup maintenance under late-arriving data — the
    reason a 100 TB rollup table stores MERGEABLE state (count / sum /
    min / max in exact integer cents), not finished averages: when a
    late delta arrives for a day that already has state, the pipeline
    aggregates only the delta and merges the two partials; history is
    never rescanned. Here the 5% late slice (``event_id % 20 = 19`` —
    deterministic, timestamps spread across ALL days, so its state
    genuinely collides with on-time state) is carried as a grouping
    key in the first aggregate (= the two state tables built in one
    scan), and the second aggregate IS the merge: counts and cent-sums
    add, min/max combine, and the average is derived only at the end
    from exact integers via the ``event_cube`` projection
    ``floor(sum_cents*1e4/n + 0.5)/1e6`` (round_margin_audit measured
    the plain rounded mean ON a 6dp midpoint — value lives on a 0.01
    grid — and floor-of-exact-ints is the same double in every
    engine/partitioning). ``n_state_shards`` makes the merge
    observable: 2 where a late partial met on-time state.

    Distinct-count analog:
    ``sketch_rollup`` (HLL sketches — mergeable state for the one
    aggregate count/sum/min/max cannot express).
    """
    events = load_table(spark, "events", sf)
    cents = F.round(F.col("value") * 100).cast("long")
    state = (
        events.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
            (F.col("event_id") % 20 == 19).alias("late"),
            cents.alias("cents"),
        )
        .groupBy("day", "event_type", "late")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
    )
    return (
        state.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_state_shards"),
            F.sum("n").alias("n_events"),
            F.sum("s").alias("sum_cents"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            "day",
            "event_type",
            "n_state_shards",
            "n_events",
            "sum_cents",
            (F.col("mn") / 100.0).alias("min_value"),
            (F.col("mx") / 100.0).alias("max_value"),
            (
                F.floor(
                    F.col("sum_cents") * F.lit(10000.0) / F.col("n_events")
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("avg_value"),
        )
    )


STATE_MERGE_ROLLUP_SQL = """
WITH state AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         event_id % 20 = 19 AS late,
         count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS s,
         min(CAST(round(value * 100) AS BIGINT)) AS mn,
         max(CAST(round(value * 100) AS BIGINT)) AS mx
  FROM events
  GROUP BY 1, 2, 3
)
SELECT day, event_type,
       CAST(count(*) AS BIGINT) AS n_state_shards,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(s) AS BIGINT) AS sum_cents,
       min(mn) / 100.0 AS min_value,
       max(mx) / 100.0 AS max_value,
       floor(sum(s) * 10000.0 / sum(n) + 0.5) / 1000000.0 AS avg_value
FROM state
GROUP BY day, event_type
"""


# --- exact EWMA forecast (alpha = 1/2 over the trailing day) ----------------

EWMA_HOURS = 24  # trailing window; alpha=1/2 makes every weight a power of 2


def ewma_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Next-hour revenue forecast per type: exponentially weighted
    moving average with α = 1/2 over the trailing 24 dense hours (gap
    hours contribute 0, zero-padded history beyond the window).

    α = 1/2 makes every EWMA weight an exact power of two, so the
    whole forecast is integer arithmetic: ``num = Σ cents_h ·
    2^(23−j)`` (j = hours back from the series end) and
    ``forecast_cents = num DIV 2^24`` — the closed form of
    ``s_t = α·x_t + (1−α)·s_{t−1}`` with s_0 = 0, no recurrence and no
    floats anywhere.

    Scale: the hourly aggregate is the one corpus shuffle (partial
    map-side); the dense spine is calendar-bounded; the trailing-24
    filter and weighted sum run over ≤24 rows/type. Cents sums keep
    ``num`` BIGINT-exact below ~5e14 cents/hour of revenue.
    """
    events = load_table(spark, "events", sf)
    dense = _dense_hourly(
        events, F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    ).select("event_type", "bucket", F.coalesce("c", F.lit(0)).alias("cents"))
    per_type = Window.partitionBy("event_type")
    tail = (
        dense.withColumn("t_end", F.max("bucket").over(per_type))
        .withColumn(
            "j",
            (
                (F.unix_timestamp("t_end") - F.unix_timestamp("bucket")) / 3600
            ).cast("long"),
        )
        .filter(F.col("j") < EWMA_HOURS)
    )
    return tail.groupBy("event_type").agg(
        F.count("*").alias("hours_used"),
        _ts_str(F.max("bucket")).alias("last_hour"),
        F.expr(
            f"sum(cents * shiftleft(1, {EWMA_HOURS} - 1 - CAST(j AS INT)))"
        ).alias("ewma_num"),
        F.expr(
            f"sum(cents * shiftleft(1, {EWMA_HOURS} - 1 - CAST(j AS INT)))"
            f" DIV shiftleft(1, {EWMA_HOURS})"
        ).alias("forecast_cents"),
    )


EWMA_FORECAST_SQL = f"""
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, s.bucket, coalesce(h.c, 0) AS cents,
         date_diff('hour', s.bucket, (SELECT h1 FROM bounds)) AS j
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly h ON h.event_type = t.event_type AND h.bucket = s.bucket
), tail AS (
  SELECT * FROM dense WHERE j < {EWMA_HOURS}
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS hours_used,
       strftime(max(bucket), '%Y-%m-%d %H:%M:%S') AS last_hour,
       CAST(sum(cents * (1::BIGINT << ({EWMA_HOURS} - 1 - j))) AS BIGINT)
         AS ewma_num,
       CAST(sum(cents * (1::BIGINT << ({EWMA_HOURS} - 1 - j))) AS BIGINT)
         // (1::BIGINT << {EWMA_HOURS}) AS forecast_cents
FROM tail GROUP BY event_type
"""


# --- CUSUM single-changepoint estimate ---------------------------------------

def cusum_changepoints(spark: SparkSession, sf: str) -> DataFrame:
    """Single-changepoint estimate per type over the dense hourly count
    series: the hour t maximizing the CUSUM deviation
    ``|Σ_{i≤t} x_i − (t/N)·Σx|`` — the classic mean-shift location
    statistic, here cross-multiplied to ``|N·cum_t − t·total|`` so the
    argmax is over exact integers (earliest hour on ties; the split
    must leave both sides non-empty).

    The scaled before/after means (``DIV``-floored e6 ratios) quantify
    the shift the argmax found.

    Scale: one corpus shuffle (the hourly aggregate), then windows over
    the calendar-bounded spine. ``N·cum`` is BIGINT-exact below ~1e14
    total events per type-month.
    """
    events = load_table(spark, "events", sf)
    dense = _dense_hourly(events, F.count("*").alias("n")).select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).alias("x")
    )
    per_type = Window.partitionBy("event_type")
    ordered = Window.partitionBy("event_type").orderBy("bucket")
    run = (
        dense.withColumn("t", F.row_number().over(ordered))
        .withColumn(
            "cum",
            F.sum("x").over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("n_hours", F.count("*").over(per_type))
        .withColumn("total", F.sum("x").over(per_type))
        .filter(F.col("t") < F.col("n_hours"))
        .withColumn(
            "dev",
            F.abs(
                F.col("n_hours") * F.col("cum") - F.col("t") * F.col("total")
            ),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("dev").desc(), F.col("bucket").asc()
    )
    return (
        run.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_hours",
            "total",
            _ts_str(F.col("bucket")).alias("change_hour"),
            F.col("dev").alias("cusum_num"),
            F.expr("(1000000 * cum) DIV t").alias("mean_before_e6"),
            F.expr(
                "(1000000 * (total - cum)) DIV (n_hours - t)"
            ).alias("mean_after_e6"),
        )
    )


CUSUM_CHANGEPOINTS_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, s.bucket, coalesce(h.n, 0) AS x
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly h ON h.event_type = t.event_type AND h.bucket = s.bucket
), run AS (
  SELECT event_type, bucket,
         row_number() OVER tw AS t,
         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(count(*) OVER pw AS BIGINT) AS n_hours,
         CAST(sum(x) OVER pw AS BIGINT) AS total
  FROM dense
  WINDOW tw AS (PARTITION BY event_type ORDER BY bucket),
         pw AS (PARTITION BY event_type)
), dev AS (
  SELECT *, abs(n_hours * cum - t * total) AS dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(n_hours * cum - t * total) DESC,
                                     bucket ASC) AS rn
  FROM run WHERE t < n_hours
)
SELECT event_type, n_hours, total,
       strftime(bucket, '%Y-%m-%d %H:%M:%S') AS change_hour,
       dev AS cusum_num,
       (1000000 * cum) // t AS mean_before_e6,
       (1000000 * (total - cum)) // (n_hours - t) AS mean_after_e6
FROM dev WHERE rn = 1
"""


# --- Theil-Sen robust trend ---------------------------------------------------

def theil_sen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen trend per type: the MEDIAN of all pairwise slopes of
    the dense hourly count series — the robust trend estimator (up to
    ~29% outlier contamination cannot move it, unlike OLS, which one
    spike hour drags).

    Slopes are exact rationals ``(dy, dt)``; the median is selected by
    ORDER BY the double quotient with an exact (dy, dt, t1) tiebreak —
    legitimate here because hourly-count rationals are separated by at
    least 1/dt_max² ≈ 2e-6 while the double quotient of small ints is
    accurate to ~1e-12 relative, so the float order IS the rational
    order (the docstring-pinned argument; a general engine would
    compare cross-multiplied). ``slope_e6`` is sign-split before DIV —
    the engines disagree on negative integer-division rounding, so the
    floor runs on |dy| and the sign multiplies back.

    Scale: one corpus shuffle (the hourly aggregate); the pair
    expansion is a self-equi-join on event_type over the
    calendar-bounded spine — ≤ C(hours, 2) pairs per type regardless
    of corpus rows (720h month → 259k pairs/type), then one per-type
    median window over those pairs.
    """
    events = load_table(spark, "events", sf)
    dense = _dense_hourly(events, F.count("*").alias("n")).select(
        "event_type", "bucket", F.coalesce("n", F.lit(0)).alias("x")
    )
    a = dense.select(
        "event_type", F.col("bucket").alias("t1"), F.col("x").alias("x1")
    )
    b = dense.select(
        "event_type", F.col("bucket").alias("t2"), F.col("x").alias("x2")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("t1") < F.col("t2"))
        .select(
            "event_type",
            (F.col("x2") - F.col("x1")).alias("dy"),
            (
                (F.unix_timestamp("t2") - F.unix_timestamp("t1")) / 3600
            ).cast("long").alias("dt"),
        )
    )
    # The spec's k-th pair is selected by (slope, dy, dt, t1) — but t1
    # never reaches the output (only the group's (dy, dt) does), and
    # t1 only breaks ties WITHIN one (dy, dt) group, so the median row's
    # (dy, dt) is simply the group whose cumulative pair count first
    # reaches k. Aggregating to distinct (dy, dt) BEFORE the per-type
    # window collapses the C(H,2)-pair sort (259k rows per type at one
    # task each — single-threaded per type) to a map-side-combined
    # count plus a window over the ~|dy|·|dt|-bounded distinct-slope
    # grid; the pair stream itself never shuffles. Value-identical.
    grp = pairs.groupBy("event_type", "dy", "dt").agg(
        F.count("*").alias("c")
    )
    # (dy, dt) rows are distinct per type, so the default RANGE running
    # frame has no ties and the cumulative sum is a strict prefix count
    ordered = Window.partitionBy("event_type").orderBy(
        (F.col("dy").cast("double") / F.col("dt")).asc(),
        F.col("dy").asc(),
        F.col("dt").asc(),
    )
    per_type = Window.partitionBy("event_type")
    ranked = grp.withColumn("cum", F.sum("c").over(ordered)).withColumn(
        "n_pairs", F.sum("c").over(per_type)
    )
    k = F.expr("(n_pairs + 1) DIV 2")
    return (
        ranked.filter((F.col("cum") - F.col("c") < k) & (k <= F.col("cum")))
        .select(
            "event_type",
            "n_pairs",
            F.col("dy").alias("med_dy"),
            F.col("dt").alias("med_dt"),
            F.expr(
                "CAST(sign(dy) AS BIGINT) * ((1000000 * abs(dy)) DIV dt)"
            ).alias("slope_e6"),
        )
    )


THEIL_SEN_TREND_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM events
), hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT t.event_type, s.bucket, coalesce(h.n, 0) AS x
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly h ON h.event_type = t.event_type AND h.bucket = s.bucket
), pairs AS (
  SELECT a.event_type, a.bucket AS t1,
         CAST(b.x - a.x AS BIGINT) AS dy,
         CAST(date_diff('hour', a.bucket, b.bucket) AS BIGINT) AS dt
  FROM dense a JOIN dense b
    ON a.event_type = b.event_type AND a.bucket < b.bucket
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(dy AS DOUBLE) / dt ASC,
                                     dy ASC, dt ASC, t1 ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT event_type, n_pairs, dy AS med_dy, dt AS med_dt,
       CAST(sign(dy) AS BIGINT) * ((1000000 * abs(dy)) // dt) AS slope_e6
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""


# --- inter-arrival burstiness -------------------------------------------------

def interarrival_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Traffic-shape diagnostic per type: inter-arrival gap statistics
    and the squared coefficient of variation — CV² ≈ 1 is Poisson,
    ≫ 1 is bursty, ≪ 1 is metronomic (the capacity-planning readout
    behind queueing assumptions).

    ``cv2_e6 = 1e6·(n·Σg² − S²)/S²`` over integer second gaps. The
    overflow analysis rides a telescoping identity: S = Σ gaps = last
    − first ≤ the calendar span regardless of row count, so S² and
    Σg² ≤ max_g·S stay small while only n grows — n·Σg² is
    BIGINT-exact below ~1e4 rows-per-second·span²; DECIMAL(38,0)
    beyond. The e6 quotient uses the three-step long division
    (remainder ×1000 per step, intermediates < 2^63 since r < S²).

    Scale: one shuffle onto event_type with a per-type ordered lag —
    the value_rank_profile posture; the 100 TB form lags within
    (type, day) shards and stitches boundaries, same integers.
    """
    events = load_table(spark, "events", sf)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "event_type",
            "event_id",
            "ts",  # full-precision order key (t_s floors to seconds)
            F.col("ts").cast("long").alias("t_s"),
        )
        .withColumn("g", F.col("t_s") - F.lag("t_s").over(w))
        .filter(F.col("g").isNotNull())
    )
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("span_s"),
        F.sum(F.col("g") * F.col("g")).alias("sum_sq"),
        F.max("g").alias("max_gap_s"),
    )
    return agg.select(
        "event_type",
        "n_gaps",
        "span_s",
        "sum_sq",
        "max_gap_s",
        F.expr("(1000 * span_s) DIV n_gaps").alias("mean_gap_ms"),
        F.expr(
            "((n_gaps * sum_sq - span_s * span_s) DIV (span_s * span_s))"
            " * 1000000"
            " + ((1000 * ((n_gaps * sum_sq - span_s * span_s)"
            "             % (span_s * span_s))) DIV (span_s * span_s)) * 1000"
            " + (1000 * ((1000 * ((n_gaps * sum_sq - span_s * span_s)"
            "                     % (span_s * span_s)))"
            "            % (span_s * span_s))) DIV (span_s * span_s)"
        ).alias("cv2_e6"),
    )


def interarrival_burstiness_sharded(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of ``interarrival_burstiness``: the lag runs
    within (event_type, day) SHARDS and the day-boundary gaps are
    stitched from one row per shard — no per-type global sort of the
    event rows anywhere in the plan.

    Losslessness: the per-type second-resolution arrival sequence is
    unique (floor(ts→s) is monotone in the anchor's (ts, event_id)
    order, so tie-break permutations never reorder t_s), and cutting a
    sorted sequence at day boundaries then stitching first/last per
    shard reproduces exactly the anchor's gap multiset — interior gaps
    from the shard-local lag, boundary gaps from
    first_t_s(shard) − last_t_s(previous non-empty shard).

    Scale: the wide window is partitioned by (event_type, shard_day) —
    bounded partitions that AQE can pack, instead of the anchor's one
    sort task per event_type holding that type's ENTIRE history. The
    stitch window orders one row per shard (≤ types × days rows). Same
    integers, same three-step e6 long division.

    Oracle: byte-identical to ``interarrival_burstiness`` (same SQL) —
    the driver hash-checks the sharded rewrite against the ordered-lag
    spec.
    """
    events = load_table(spark, "events", sf)
    base = events.select(
        "event_type",
        "event_id",
        "ts",  # full-precision order key (t_s floors to seconds)
        F.col("ts").cast("long").alias("t_s"),
        F.to_date("ts").alias("shard_day"),
    )
    in_shard = Window.partitionBy("event_type", "shard_day").orderBy(
        "ts", "event_id"
    )
    interior = (
        base.withColumn("g", F.col("t_s") - F.lag("t_s").over(in_shard))
        .filter(F.col("g").isNotNull())
        .select("event_type", "g")
    )
    # one row per non-empty shard: first/last arrival second in anchor
    # order (struct min/max compares ts first, then event_id)
    shard_ends = base.groupBy("event_type", "shard_day").agg(
        F.min(F.struct("ts", "event_id", "t_s"))["t_s"].alias("first_s"),
        F.max(F.struct("ts", "event_id", "t_s"))["t_s"].alias("last_s"),
    )
    across = Window.partitionBy("event_type").orderBy("shard_day")
    boundary = (
        shard_ends.withColumn(
            "g", F.col("first_s") - F.lag("last_s").over(across)
        )
        .filter(F.col("g").isNotNull())
        .select("event_type", "g")
    )
    agg = (
        interior.unionByName(boundary)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("g").alias("span_s"),
            F.sum(F.col("g") * F.col("g")).alias("sum_sq"),
            F.max("g").alias("max_gap_s"),
        )
    )
    return agg.select(
        "event_type",
        "n_gaps",
        "span_s",
        "sum_sq",
        "max_gap_s",
        F.expr("(1000 * span_s) DIV n_gaps").alias("mean_gap_ms"),
        F.expr(
            "((n_gaps * sum_sq - span_s * span_s) DIV (span_s * span_s))"
            " * 1000000"
            " + ((1000 * ((n_gaps * sum_sq - span_s * span_s)"
            "             % (span_s * span_s))) DIV (span_s * span_s)) * 1000"
            " + (1000 * ((1000 * ((n_gaps * sum_sq - span_s * span_s)"
            "                     % (span_s * span_s)))"
            "            % (span_s * span_s))) DIV (span_s * span_s)"
        ).alias("cv2_e6"),
    )


INTERARRIVAL_BURSTINESS_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) // 1000000
           - lag(epoch_us(ts) // 1000000)
             OVER (PARTITION BY event_type ORDER BY ts, event_id) AS g
  FROM events
), agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS span_s,
         CAST(sum(g * g) AS BIGINT) AS sum_sq,
         CAST(max(g) AS BIGINT) AS max_gap_s
  FROM gaps WHERE g IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_gaps, span_s, sum_sq, max_gap_s,
       (1000 * span_s) // n_gaps AS mean_gap_ms,
       ((n_gaps * sum_sq - span_s * span_s) // (span_s * span_s)) * 1000000
       + ((1000 * ((n_gaps * sum_sq - span_s * span_s)
                   % (span_s * span_s))) // (span_s * span_s)) * 1000
       + (1000 * ((1000 * ((n_gaps * sum_sq - span_s * span_s)
                           % (span_s * span_s)))
                  % (span_s * span_s))) // (span_s * span_s) AS cv2_e6
FROM agg
"""


TIMESERIES_QUERIES = {
    "state_merge_rollup": (state_merge_rollup, STATE_MERGE_ROLLUP_SQL),
    "scd2_tier_join": (scd2_tier_join, SCD2_TIER_JOIN_SQL),
    "cdc_upsert_compaction": (
        cdc_upsert_compaction,
        CDC_UPSERT_COMPACTION_SQL,
    ),
    "cdc_deletions_audit": (cdc_deletions_audit, CDC_DELETIONS_AUDIT_SQL),
    "hourly_autocorr": (hourly_autocorr, HOURLY_AUTOCORR_SQL),
    "seasonal_profile": (seasonal_profile, SEASONAL_PROFILE_SQL),
    "seasonal_anomalies": (seasonal_anomalies, SEASONAL_ANOMALIES_SQL),
    "cooccurrence_lift": (cooccurrence_lift, COOCCURRENCE_LIFT_SQL),
    "alarm_episodes": (alarm_episodes, ALARM_EPISODES_SQL),
    "alarm_concurrency_daily": (alarm_concurrency_daily, ALARM_CONCURRENCY_SQL),
    "gap_fill_hourly": (gap_fill_hourly, GAP_FILL_HOURLY_SQL),
    "ewma_forecast": (ewma_forecast, EWMA_FORECAST_SQL),
    "cusum_changepoints": (cusum_changepoints, CUSUM_CHANGEPOINTS_SQL),
    "theil_sen_trend": (theil_sen_trend, THEIL_SEN_TREND_SQL),
    "interarrival_burstiness": (
        interarrival_burstiness,
        INTERARRIVAL_BURSTINESS_SQL,
    ),
    "interarrival_burstiness_sharded": (
        interarrival_burstiness_sharded,
        INTERARRIVAL_BURSTINESS_SQL,
    ),
    "rolling_active_users": (rolling_active_users, ROLLING_ACTIVE_USERS_SQL),
    "time_weighted_avg": (time_weighted_avg, TIME_WEIGHTED_AVG_SQL),
    "robust_outliers": (robust_outliers, ROBUST_OUTLIERS_SQL),
}
