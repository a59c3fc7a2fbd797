"""Surveillance-pipeline plans: detection parsing, validators, NMS,
and the composed crowd-alert pipeline (SURVEY.md §2.2, §2.5, §2.8).

The driver testdata carries no video, so raw 'model output' is
synthesized deterministically from the events table
(operators/detections.py) — the arithmetic is reproduced in the DuckDB
oracles, so parsing/filtering still gets full hash checks. NMS-bearing
plans have no SQL oracle (greedy NMS is order-dependent, SURVEY.md §4)
and take the driver's rows-only check; their semantics are pinned by
unit + property tests instead (tests/test_nms.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.validators import (
    valid_contact,
    valid_name,
    valid_password,
    validation_error,
)
from ..operators.detections import (
    CONFIDENCE_THRESHOLD,
    CROWD_THRESHOLD,
    N_CLASSES,
    parse_detections,
    synthesize_raw,
)
from ..operators.nms import PERSON_IOU, nms
from ..sources.tables import load_table


# --- detection parsing (P2-P4, A3/A4; main.py:105-122) ----------------------

def detection_parse(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, "events", sf)
    return parse_detections(synthesize_raw(events))


# shared detection CTE (det): the parse pipeline as SQL, reused by the
# NMS and crowd oracles
_DUCK_DET_CTE = f"""
raw AS (
  SELECT user_id AS camera_id,
         event_id % 50 AS frame_id,
         event_id,
         list_transform(generate_series(0, {N_CLASSES - 1}),
                        k -> CAST((event_id * (k + 7)) % 100 AS DOUBLE) / 100.0)
           AS scores,
         CAST((event_id * 37) % 416 AS DOUBLE) AS cx,
         CAST((event_id * 91) % 416 AS DOUBLE) AS cy,
         CAST(30 + (event_id % 60) AS DOUBLE) AS bw,
         CAST(30 + ((event_id * 7) % 60) AS DOUBLE) AS bh
  FROM events
), det AS (
  SELECT camera_id, frame_id, event_id,
         CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS class_id,
         round(list_max(scores), 6) AS confidence,
         CAST(floor(cx - bw / 2) AS INT) AS x,
         CAST(floor(cy - bh / 2) AS INT) AS y,
         CAST(floor(bw) AS INT) AS w,
         CAST(floor(bh) AS INT) AS h
  FROM raw
  WHERE list_max(scores) > {CONFIDENCE_THRESHOLD}
)"""

DETECTION_PARSE_SQL = f"""
WITH {_DUCK_DET_CTE}
SELECT * FROM det
"""

# Greedy NMS as a recursive specification: rank boxes per frame by
# (confidence DESC, event_id ASC) — the canonical order the Spark
# operator pins — then walk ranks carrying the kept-box list; a box
# joins `kept` iff its IoU with every kept box is <= threshold. All box
# coordinates are integers, so inter/union are exact in DOUBLE and the
# IoU comparison is bit-identical across engines.
_DUCK_NMS_KEPT_CTE = f"""
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY camera_id, frame_id
                            ORDER BY confidence DESC, event_id ASC) AS rk
  FROM det
), step(camera_id, frame_id, rk, kept) AS (
  SELECT camera_id, frame_id, 0,
         CAST([] AS STRUCT(event_id BIGINT, x INT, y INT, w INT, h INT)[])
  FROM (SELECT DISTINCT camera_id, frame_id FROM ranked)
  UNION ALL
  SELECT s.camera_id, s.frame_id, r.rk,
         CASE WHEN len(list_filter(s.kept, k ->
                (greatest(0, least(k.x + k.w, r.x + r.w) - greatest(k.x, r.x))
                 * greatest(0, least(k.y + k.h, r.y + r.h) - greatest(k.y, r.y))
                 * 1.0)
                / (k.w * k.h + r.w * r.h
                   - greatest(0, least(k.x + k.w, r.x + r.w) - greatest(k.x, r.x))
                     * greatest(0, least(k.y + k.h, r.y + r.h) - greatest(k.y, r.y)))
                > {{iou}})) = 0
              THEN list_append(s.kept,
                     {{{{'event_id': r.event_id, 'x': r.x, 'y': r.y,
                        'w': r.w, 'h': r.h}}}})
              ELSE s.kept END
  FROM step s
  JOIN ranked r
    ON r.camera_id = s.camera_id AND r.frame_id = s.frame_id
   AND r.rk = s.rk + 1
), kept_ids AS (
  SELECT camera_id, frame_id, unnest(kept, recursive := true)
  FROM (
    SELECT *, row_number() OVER (PARTITION BY camera_id, frame_id
                                 ORDER BY rk DESC) AS is_last
    FROM step
  ) WHERE is_last = 1
)"""


def _nms_oracle_sql(iou: float) -> str:
    return (
        f"WITH RECURSIVE {_DUCK_DET_CTE},\n{_DUCK_NMS_KEPT_CTE}\n"
        "SELECT d.camera_id, d.frame_id, d.event_id, d.class_id,\n"
        "       d.confidence, d.x, d.y, d.w, d.h\n"
        "FROM kept_ids k\n"
        "JOIN det d ON d.camera_id = k.camera_id\n"
        "          AND d.frame_id = k.frame_id AND d.event_id = k.event_id\n"
    ).format(iou=iou)


def _crowd_oracle_sql(iou: float, threshold: int) -> str:
    return (
        f"WITH RECURSIVE {_DUCK_DET_CTE},\n{_DUCK_NMS_KEPT_CTE}\n"
        "SELECT camera_id, frame_id, count(*) AS n_persons,\n"
        f"       count(*) > {threshold} AS crowded\n"
        "FROM kept_ids GROUP BY camera_id, frame_id\n"
    ).format(iou=iou)


# --- registration validators (F1-F5; verify.py:6-50) -------------------------

def validate_registrations(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's register pipeline (views.py:39-60) in bulk:
    derive candidate fields deterministically from customer rows, apply
    every verify.py rule, report the first failure. Pure codegen'd
    expressions — the regex battery runs JVM-side at scan speed."""
    customer = load_table(spark, "customer", sf)
    derived = customer.select(
        "c_custkey",
        F.substring(
            F.col("c_mktsegment"), 1, (2 + F.col("c_custkey") % 4).cast("int")
        ).alias("first_name"),
        F.when(F.col("c_custkey") % 3 == 0, F.substring(F.col("c_name"), 1, 8))
        .otherwise(F.col("c_name"))
        .alias("last_name"),
        F.concat(
            F.substring(F.col("c_name"), 1, 3),
            F.lit("@"),
            F.col("c_custkey").cast("string"),
        ).alias("password"),
        F.lpad(((F.col("c_custkey") * 7919) % 10000000000).cast("string"), 10, "0").alias(
            "contact"
        ),
    )
    return derived.select(
        "c_custkey",
        "first_name",
        "last_name",
        "password",
        "contact",
        valid_name(F.col("first_name")).alias("first_name_ok"),
        valid_name(F.col("last_name")).alias("last_name_ok"),
        valid_password(F.col("password")).alias("password_ok"),
        valid_contact(F.col("contact")).alias("contact_ok"),
        validation_error(
            F.col("first_name"), F.col("last_name"), F.col("password"), F.col("contact")
        ).alias("error"),
    )


VALIDATE_REGISTRATIONS_SQL = r"""
WITH derived AS (
  SELECT c_custkey,
         substr(c_mktsegment, 1, CAST(2 + c_custkey % 4 AS INT)) AS first_name,
         CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, 8) ELSE c_name END
           AS last_name,
         substr(c_name, 1, 3) || '@' || CAST(c_custkey AS VARCHAR) AS password,
         lpad(CAST((c_custkey * 7919) % 10000000000 AS VARCHAR), 10, '0')
           AS contact
  FROM customer
), checked AS (
  SELECT *,
         regexp_matches(first_name, '^[A-Za-z]+$') AND length(first_name) > 2
           AS first_name_ok,
         regexp_matches(last_name, '^[A-Za-z]+$') AND length(last_name) > 2
           AS last_name_ok,
         regexp_matches(password, '^[A-Za-z\d@$!#%*?&]{6,20}$')
           AND regexp_matches(password, '[a-z]')
           AND regexp_matches(password, '[A-Z]')
           AND regexp_matches(password, '[0-9]')
           AND regexp_matches(password, '[@$!#%*?&]') AS password_ok,
         regexp_matches(contact, '^[6-9][0-9]{9}$') AS contact_ok
  FROM derived
)
SELECT c_custkey, first_name, last_name, password, contact,
       first_name_ok, last_name_ok, password_ok, contact_ok,
       CASE WHEN NOT first_name_ok THEN 'invalid_first_name'
            WHEN NOT last_name_ok THEN 'invalid_last_name'
            WHEN NOT password_ok THEN 'invalid_password'
            WHEN NOT contact_ok THEN 'invalid_contact'
            ELSE NULL END AS error
FROM checked
"""


# --- NMS + composed crowd pipeline (W3 + A1 + P10; rows-only checks) --------

def nms_detections(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy NMS over parsed detections, keyed by frame, with the
    canonical (confidence DESC, event_id ASC) suppression order.

    Greedy NMS is order-dependent (SURVEY.md §4 item 1) — but with the
    order pinned and integer box coordinates (exact IoU in DOUBLE), it
    admits a recursive-CTE SQL specification, so even this pandas-UDF
    operator gets a full DuckDB hash check alongside the goldens in
    tests/test_nms.py."""
    events = load_table(spark, "events", sf)
    det = parse_detections(synthesize_raw(events))
    return nms(
        det, ["camera_id", "frame_id"], PERSON_IOU, order_cols=["event_id"]
    )


def crowd_alerts_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The full reference main loop (S1→P4→W3→A1→P10, main.py:188-233):
    parse → NMS → per-frame count → crowd flag. Oracle: count over the
    recursive-CTE NMS specification."""
    events = load_table(spark, "events", sf)
    det = parse_detections(synthesize_raw(events))
    kept = nms(det, ["camera_id", "frame_id"], PERSON_IOU, order_cols=["event_id"])
    return (
        kept.groupBy("camera_id", "frame_id")
        .agg(F.count("*").alias("n_persons"))
        .select(
            "camera_id",
            "frame_id",
            "n_persons",
            (F.col("n_persons") > CROWD_THRESHOLD).alias("crowded"),
        )
    )


# --- fire pipeline (A2+P6+P10+W2; main.py:154-185 color path) ---------------

RED_PIXEL_THRESHOLD = 15000  # reference main.py:171
FRAME_PIXELS = 416 * 416


def fire_alerts(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's de-facto fire detector end-to-end in batch form:
    per-frame red-pixel count (stands in for countNonZero of the HSV
    inRange mask — the per-pixel work stays in a UDF at the edge, only
    the count enters the relation, SURVEY.md §1.2) → threshold
    (>15000) → rising-edge alarm per camera (main.py:171-185).

    Pixel counts are synthesized deterministically from events; the
    whole pipeline is codegen'd expressions + one window shuffle.
    """
    events = load_table(spark, "events", sf)
    frames = events.select(
        F.col("user_id").alias("camera_id"),
        F.col("event_id").alias("frame_id"),
        ((F.col("event_id") * 104729 + F.col("user_id")) % FRAME_PIXELS).alias(
            "red_pixel_count"
        ),
    )
    from ..operators.edge_trigger import rising_edges

    flagged = rising_edges(
        frames,
        F.col("red_pixel_count") > RED_PIXEL_THRESHOLD,
        key_cols=["camera_id"],
        order_col="frame_id",
        flag_name="fire",
    )
    return flagged.filter(F.col("fire_edge")).select(
        "camera_id",
        "frame_id",
        "red_pixel_count",
        F.col("fire_episode").alias("episode"),
    )


FIRE_ALERTS_SQL = f"""
WITH frames AS (
  SELECT user_id AS camera_id, event_id AS frame_id,
         (event_id * 104729 + user_id) % {FRAME_PIXELS} AS red_pixel_count
  FROM events
), lagged AS (
  SELECT *, (red_pixel_count > {RED_PIXEL_THRESHOLD}) AS fire,
         coalesce(lag(red_pixel_count > {RED_PIXEL_THRESHOLD})
                  OVER (PARTITION BY camera_id ORDER BY frame_id), false)
           AS prev_fire
  FROM frames
), flagged AS (
  SELECT *, CAST(sum(CASE WHEN fire AND NOT prev_fire THEN 1 ELSE 0 END)
              OVER (PARTITION BY camera_id ORDER BY frame_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS episode
  FROM lagged
)
SELECT camera_id, frame_id, red_pixel_count, episode
FROM flagged WHERE fire AND NOT prev_fire
"""


# --- set operations (SURVEY §2.7: exposed though reference has none) ---------

def user_cohorts_setops(spark: SparkSession, sf: str) -> DataFrame:
    """union/intersect/except over per-type user cohorts: clickers ∩
    purchasers, clickers ∖ purchasers, signup ∪ error — each tagged.
    Deliberately expressed through Spark's set operators (SURVEY §2.7
    coverage; ~6 small shuffles on the deduped cohort ids). When the
    cohorts share one fact table like here, the 100 TB rewrite is a
    single conditional aggregation — groupBy(user_id).agg(bool_or per
    type) then derive membership — one fact shuffle total; the set-op
    form stays the right tool when cohorts come from different
    sources."""
    events = load_table(spark, "events", sf)

    def cohort(t: str) -> DataFrame:
        return events.filter(F.col("event_type") == t).select("user_id").distinct()

    both = cohort("click").intersect(cohort("purchase"))
    only_click = cohort("click").exceptAll(cohort("purchase"))
    su_or_err = cohort("signup").union(cohort("error")).distinct()
    return (
        both.withColumn("cohort", F.lit("click_and_purchase"))
        .unionAll(only_click.withColumn("cohort", F.lit("click_only")))
        .unionAll(su_or_err.withColumn("cohort", F.lit("signup_or_error")))
        .select("cohort", "user_id")
    )


def user_cohorts_onepass(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of ``user_cohorts_setops``: ONE fact shuffle.
    Since every cohort derives from the same events table, membership
    is a conditional aggregation — groupBy(user_id) with one bool_or
    per type — and the three set expressions become boolean algebra on
    that single pass (click∧purchase, click∧¬purchase, signup∨error),
    exploded to the anchor's tagged long format. The set-op anchor's
    ~6 distinct shuffles collapse to one partial-aggregated user-keyed
    shuffle; the anchor stays the right tool when cohorts come from
    DIFFERENT sources.

    Oracle: byte-identical to ``user_cohorts_setops`` (same SQL) — the
    rewrite is hash-checked against the set-op spec.
    """
    events = load_table(spark, "events", sf)
    flags = (
        events.filter(
            F.col("event_type").isin("click", "purchase", "signup", "error")
        )
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("event_type") == t, True).otherwise(False)
                ).alias(t)
                for t in ("click", "purchase", "signup", "error")
            ]
        )
    )
    tagged = flags.select(
        "user_id",
        F.array_compact(
            F.array(
                F.when(
                    F.col("click") & F.col("purchase"),
                    F.lit("click_and_purchase"),
                ),
                F.when(
                    F.col("click") & ~F.col("purchase"), F.lit("click_only")
                ),
                F.when(
                    F.col("signup") | F.col("error"),
                    F.lit("signup_or_error"),
                ),
            )
        ).alias("cohorts"),
    )
    return tagged.select(
        F.explode("cohorts").alias("cohort"), "user_id"
    )


USER_COHORTS_SETOPS_SQL = """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
signups AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
errors AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT 'click_and_purchase' AS cohort, user_id
  FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM purchasers)
UNION ALL
SELECT 'click_only', user_id
  FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM purchasers)
UNION ALL
SELECT 'signup_or_error', user_id
  FROM (SELECT user_id FROM signups UNION SELECT user_id FROM errors)
"""


# --- django_session mirror (session expiry scan) ------------------------------

# Django's SESSION_COOKIE_AGE default: two weeks
SESSION_TTL_DAYS = 14
# fixed "now" for the expiry predicate (the engine has no Date.now —
# a real deployment binds this to the query's submission time); sits
# mid-corpus so both active and expired sessions exist at every SF
SESSION_NOW = "2024-01-20 00:00:00"


def session_expiry_scan(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's SECOND persisted table, mirrored: Django keeps
    ``django_session(session_key PK, session_data, expire_date)``
    alongside ``auth_user`` (crowd_surveillance/settings.py:78-83;
    db.sqlite3 DDL), written on every login and scanned by
    ``clearsessions`` / session middleware with the one query the ORM
    ever issues against it — ``expire_date > now()``. This runs that
    expiry scan in bulk over sessions derived deterministically from
    login-shaped events (signup/click), completing the persisted
    surface ``validate_registrations`` started for ``auth_user``
    (VERDICT r8 Next #7).

    Per user: total/active/expired session counts, the
    lexicographically first active session key (md5 hex, the same
    32-char alnum shape Django keys have — exercises cross-engine md5
    parity), and the latest expiry formatted at seconds precision.

    Scale: one filtered scan (event_type IN — pushed to parquet), one
    map-side-combined groupBy on user_id; conditional aggregates do
    active/expired in the same pass. No joins, no windows.
    """
    ev = load_table(spark, "events", sf)
    now = F.lit(SESSION_NOW).cast("timestamp")
    sess = ev.filter(F.col("event_type").isin("signup", "click")).select(
        "user_id",
        F.md5(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
            )
        ).alias("session_key"),
        (F.col("ts") + F.expr(f"INTERVAL {SESSION_TTL_DAYS} DAYS")).alias(
            "expire_date"
        ),
    )
    active = F.col("expire_date") > now
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(active.cast("long")).alias("n_active"),
        F.sum((~active).cast("long")).alias("n_expired"),
        F.min(F.when(active, F.col("session_key"))).alias(
            "first_active_key"
        ),
        F.date_format(F.max("expire_date"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_expire"
        ),
    )


SESSION_EXPIRY_SCAN_SQL = f"""
WITH sess AS (
  SELECT user_id,
         md5(CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))
           AS session_key,
         ts + INTERVAL {SESSION_TTL_DAYS} DAY AS expire_date
  FROM events
  WHERE event_type IN ('signup', 'click')
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN expire_date > TIMESTAMP '{SESSION_NOW}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       CAST(sum(CASE WHEN expire_date > TIMESTAMP '{SESSION_NOW}'
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_expired,
       min(CASE WHEN expire_date > TIMESTAMP '{SESSION_NOW}'
                THEN session_key END) AS first_active_key,
       strftime(max(expire_date), '%Y-%m-%d %H:%M:%S') AS last_expire
FROM sess GROUP BY user_id
"""


SURVEILLANCE_QUERIES = {
    "fire_alerts": (fire_alerts, FIRE_ALERTS_SQL),
    "session_expiry_scan": (session_expiry_scan, SESSION_EXPIRY_SCAN_SQL),
    "user_cohorts_setops": (user_cohorts_setops, USER_COHORTS_SETOPS_SQL),
    "user_cohorts_onepass": (user_cohorts_onepass, USER_COHORTS_SETOPS_SQL),
    "detection_parse": (detection_parse, DETECTION_PARSE_SQL),
    "validate_registrations": (validate_registrations, VALIDATE_REGISTRATIONS_SQL),
    "nms_detections": (nms_detections, _nms_oracle_sql(PERSON_IOU)),
    "crowd_alerts_pipeline": (
        crowd_alerts_pipeline,
        _crowd_oracle_sql(PERSON_IOU, CROWD_THRESHOLD),
    ),
}
