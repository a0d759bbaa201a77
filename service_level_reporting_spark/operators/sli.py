"""SLI ingest/aggregation semantics — the reference's beating heart.

Reference: SLR pulls raw ZMON datapoints from KairosDB, resamples to 1-minute
grain, then combines multiple group-by series into one value per minute
according to the indicator's aggregation spec
(``{"type": "average"|"weighted"|"sum"|"min"|"max", "weight_keys": [...]}``)
— upstream:app/resources/sli.py [H] (SURVEY.md §2.4 A1–A3, §2.2 P2–P4).

Here ``events`` stands in for the raw datapoint stream: ``event_type`` is the
indicator/check key, ``user_id`` the entity, ``ts``/``value`` the datapoint,
``props`` the ZMON tags (FIXTURES.md §A).

Scale notes (100 TB): every query below is a single scan → (optional filter,
pushed to parquet) → partial/final hash aggregate; the only shuffle is on the
group keys. With events stored partitioned by ``date(ts)`` the time filters
become partition pruning; bucketing by series key would make A1 shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark import functions as SF
from service_level_reporting_spark import tables
from service_level_reporting_spark.registry import register
from service_level_reporting_spark.tables import load_tables

# The SLO target band used by the literal-target queries (targets have no
# physical table in testdata — FIXTURES.md §A mapping note). Values outside
# [LO, HI] breach; bounds themselves are compliant (functions.is_breach).
TARGET_LO = 5.0
TARGET_HI = 95.0


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("events",))["events"]


# ---------------------------------------------------------------------------
# Flagship (M0): the daily health report — A4 daily agg + A5 breach count +
# A6 compliance (over the 'error' indicator series), A7 error rate and A8
# distinct entities (over ALL events) — in ONE pass. Answers the reference's
# core report question — "did we meet the SLO each day?"
# (upstream:app/resources/report.py#get_report [H]).
#
# Round-2 consolidation: slo_daily_breaches + report_error_rate_daily +
# agg_distinct_users shared a full events scan and the day grain; serving
# them as one multi-metric aggregate halves the per-job floor at bench time
# and is how a production report would be written anyway.
# ---------------------------------------------------------------------------

@register(
    "slo_daily_health",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d')                            AS day,
           round(avg(CASE WHEN event_type = 'error' THEN value END), 6)
                                                               AS avg_value,
           min(CASE WHEN event_type = 'error' THEN value END)  AS min_value,
           max(CASE WHEN event_type = 'error' THEN value END)  AS max_value,
           count(CASE WHEN event_type = 'error' THEN 1 END)    AS n_points,
           count(CASE WHEN event_type = 'error'
                       AND (value < {TARGET_LO} OR value > {TARGET_HI})
                      THEN 1 END)                              AS breaches,
           round(1.0 - count(CASE WHEN event_type = 'error'
                                   AND (value < {TARGET_LO} OR value > {TARGET_HI})
                                  THEN 1 END)
                       / nullif(count(CASE WHEN event_type = 'error'
                                           THEN 1 END), 0), 6) AS compliance,
           count(*)                                            AS n_total,
           round(count(CASE WHEN event_type = 'error' THEN 1 END)
                 / count(*), 6)                                AS error_rate,
           count(DISTINCT user_id)                             AS n_users
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
)
def slo_daily_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    is_err = F.col("event_type") == "error"
    err_value = F.when(is_err, F.col("value"))
    # Two-stage plan: partial algebraic aggregates per (day, user), then a
    # day-level rollup where the distinct-user count is count(user_id) over
    # the stage-1 groups. A single-pass agg mixing countDistinct with plain
    # aggregates makes Catalyst insert an Expand (every input row duplicated
    # through the shuffle) — the one flagship plan that DEGRADED with scale
    # on the r3 floor curve (6.15x at sf10).
    #
    # The stage-1 keys are (to_date(ts), user_id) DELIBERATELY: on data
    # hash-clustered on to_date(ts) — the at-rest layout, and how
    # cache_tables caches events, one partition per core —
    # HashPartitioning(to_date(ts)) satisfies
    # ClusteredDistribution([d, user_id]) via Spark's subset rule, so BOTH
    # aggregation stages plan with ZERO exchanges (whole query = one
    # map-only stage). Fresh-plan measurements at sf10 (10M events, same
    # session, same weather): composite 0.96s / packed-single-long-key
    # 1.55s (packing breaks the subset property -> full shuffle) / original
    # Expand plan 1.73s, vs DuckDB 0.32s. The remaining ~3x is aggregate-
    # kernel throughput, not plan shape — there is no shuffle left to
    # remove. (Beware when re-measuring: re-collecting the SAME DataFrame
    # object reuses shuffle outputs via skipped stages and reads ~20x
    # faster than any fresh plan — always rebuild the frame per run.)
    per_user = (
        ev.groupBy(F.to_date("ts").alias("_d"), "user_id")
        .agg(
            F.sum(err_value).alias("_sum_err"),
            F.count(err_value).alias("_n_err"),
            F.min(err_value).alias("_min_err"),
            F.max(err_value).alias("_max_err"),
            SF.breach_count(err_value, TARGET_LO, TARGET_HI).alias("_breaches"),
            F.count(F.lit(1)).alias("_n_rows"),
        )
    )
    n_points = F.sum("_n_err")
    breaches = F.sum("_breaches")
    n_total = F.sum("_n_rows")
    return (
        per_user.groupBy("_d")
        .agg(
            SF.r6(F.try_divide(F.sum("_sum_err"), n_points)).alias("avg_value"),
            F.min("_min_err").alias("min_value"),
            F.max("_max_err").alias("max_value"),
            n_points.alias("n_points"),
            breaches.alias("breaches"),
            SF.r6(SF.compliance(breaches, n_points)).alias("compliance"),
            n_total.alias("n_total"),
            SF.r6(SF.safe_ratio(n_points, n_total)).alias("error_rate"),
            F.count("user_id").alias("n_users"),
        )
        .withColumn("day", F.date_format("_d", "yyyy-MM-dd"))
        .drop("_d")
    )


# ---------------------------------------------------------------------------
# A1 — KairosDB-style 1-minute resample per series
# (aggregators:[{name:'avg', sampling:{value:1, unit:'minutes'}}] [H])
# ---------------------------------------------------------------------------

@register(
    "resample_minute_avg",
    oracle="""
    SELECT date_trunc('minute', ts)  AS minute,
           event_type,
           round(avg(value), 6)      AS avg_value,
           count(*)                  AS n_points
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY date_trunc('minute', ts), event_type
    """,
)
def resample_minute_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events_between pushes the range onto the RAW int64 ts column, so the
    # parquet reader skips row groups (a post-conversion filter cannot push)
    ev = tables.events_between(spark, sf_dir, "2024-01-08", "2024-01-15")
    return (
        ev.groupBy(SF.minute("ts").alias("minute"), "event_type")
        .agg(SF.r6(F.avg("value")).alias("avg_value"),
             F.count(F.lit(1)).alias("n_points"))
    )


# ---------------------------------------------------------------------------
# A2 — cross-series combination per minute (aggregation.type dispatch:
# sum/min/max/average over the per-minute series values [H])
# ---------------------------------------------------------------------------

@register(
    "agg_cross_group",
    oracle="""
    WITH per_series AS (
        SELECT date_trunc('minute', ts) AS minute, event_type, avg(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT minute,
           round(sum(v), 6) AS sum_v,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v,
           round(avg(v), 6) AS avg_v,
           count(*)         AS n_series
    FROM per_series GROUP BY minute
    """,
)
def agg_cross_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_series = (
        _events(spark, sf_dir)
        .groupBy(SF.minute("ts").alias("minute"), "event_type")
        .agg(F.avg("value").alias("v"))
    )
    return per_series.groupBy("minute").agg(
        SF.r6(F.sum("v")).alias("sum_v"),
        SF.r6(F.min("v")).alias("min_v"),
        SF.r6(F.max("v")).alias("max_v"),
        SF.r6(F.avg("v")).alias("avg_v"),
        F.count(F.lit(1)).alias("n_series"),
    )


# ---------------------------------------------------------------------------
# A3 + J3 — weighted average with plain-avg fallback.
# Reference: "weighted" aggregation divides Σ(value·weight)/Σ(weight) where
# the weight comes from sibling series named by `weight_keys`; falls back to
# plain average when weights are absent/zero (upstream:app/resources/sli.py
# weighted branch [H], fallback [M] — OUR contract: NULL or Σw=0 → plain avg).
# Value series: hourly avg of 'purchase'; weight series: hourly volume of
# 'view' — aligned on the truncated-hour key (J3), rolled up per day.
# ---------------------------------------------------------------------------

@register(
    "agg_weighted_average",
    oracle="""
    WITH v AS (
        SELECT date_trunc('hour', ts) AS hr, avg(value) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), w AS (
        SELECT date_trunc('hour', ts) AS hr, sum(value) AS w
        FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT strftime(v.hr, '%Y-%m-%d') AS day,
           round(coalesce(sum(v.v * w.w) / nullif(sum(w.w), 0), avg(v.v)), 6)
               AS weighted_v,
           round(avg(v.v), 6) AS plain_avg_v,
           count(*)           AS n_hours
    FROM v LEFT JOIN w ON v.hr = w.hr
    GROUP BY strftime(v.hr, '%Y-%m-%d')
    """,
)
def agg_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: the v/w series used to be two separate filtered aggregations
    # LEFT-joined on the hour — two full events scans, three exchanges and
    # a broadcast build (plans/r13/agg_weighted_average_before.txt).
    # Conditional aggregation computes both series in ONE scan + ONE hour
    # shuffle: avg(value WHERE purchase) is the v series, sum(value WHERE
    # view) is the w series (NULL when the hour has no view rows — exactly
    # the LEFT-join miss), and the `_n_p > 0` filter reproduces the join's
    # left side (only hours with >=1 purchase row exist in v). Oracle SQL
    # keeps the join spelling; results are identical.
    ev = _events(spark, sf_dir)
    is_p = F.col("event_type") == "purchase"
    is_v = F.col("event_type") == "view"
    joined = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .groupBy(SF.hour("ts").alias("hr"))
        .agg(F.avg(F.when(is_p, F.col("value"))).alias("v"),
             F.count(F.when(is_p, F.lit(1))).alias("_n_p"),
             F.sum(F.when(is_v, F.col("value"))).alias("w"))
        .where(F.col("_n_p") > 0)
    )
    return joined.groupBy(SF.day_str("hr").alias("day")).agg(
        SF.r6(
            F.coalesce(
                F.sum(F.col("v") * F.col("w")) / F.nullif(F.sum("w"), F.lit(0.0)),
                F.avg("v"),
            )
        ).alias("weighted_v"),
        SF.r6(F.avg("v")).alias("plain_avg_v"),
        F.count(F.lit(1)).alias("n_hours"),
    )


# ---------------------------------------------------------------------------
# P2/P3/P4 — the filter surface as one labeled suite (round-2 consolidation;
# each part keeps its own pushdown story, asserted in test_physical_plans):
#   time_range — explicit from/to (GET .../values?from=&to= [M]); pushed on
#     the RAW int64 ns column via events_between so parquet row groups skip.
#   relative   — "last N days" (KairosDB `start_relative` [H]); anchored to
#     max(ts) IN THE DATA (not wall clock) for determinism; the 1-row max is
#     broadcast, so this is scan + scalar-subquery-style filter.
#   tag        — IN-list on the series key + JSON tag extraction (ZMON
#     `tags`/`group_by` [H]; events.props ≈ tags JSON, FIXTURES.md §A).
# ---------------------------------------------------------------------------

@register(
    "filter_events_suite",
    oracle="""
    SELECT 'time_range' AS part, event_id, ts, event_type, value,
           CAST(NULL AS BIGINT) AS k
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
    UNION ALL
    SELECT 'relative', event_id, ts, event_type, value, NULL
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 3 DAY
    UNION ALL
    SELECT 'tag', event_id, NULL, event_type, NULL,
           CAST(json_extract_string(props, '$.k') AS BIGINT)
    FROM events
    WHERE event_type IN ('error', 'purchase')
      AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def filter_events_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_k = F.lit(None).cast("long").alias("k")
    time_range = (
        tables.events_between(spark, sf_dir, "2024-01-10", "2024-01-12")
        .select(F.lit("time_range").alias("part"),
                "event_id", "ts", "event_type", "value", null_k)
    )
    ev = _events(spark, sf_dir)
    anchor = ev.agg(F.max("ts").alias("max_ts"))
    relative = (
        ev.join(F.broadcast(anchor))
        .where(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 3 DAY"))
        .select(F.lit("relative").alias("part"),
                "event_id", "ts", "event_type", "value", null_k)
    )
    k = F.get_json_object("props", "$.k").cast("long")
    tag = (
        ev.where(F.col("event_type").isin("error", "purchase") & (k >= 50))
        .select(F.lit("tag").alias("part"), "event_id",
                F.lit(None).cast(dict(ev.dtypes)["ts"]).alias("ts"),
                "event_type", F.lit(None).cast("double").alias("value"),
                k.alias("k"))
    )
    return time_range.unionByName(relative).unionByName(tag)


# ---------------------------------------------------------------------------
# A12 (r4 session 2, aux) — TIME-WEIGHTED daily average. Plain avg() is
# only correct for regularly-sampled series; real monitoring streams gap
# and burst, and the SLO literature weights each sample by how long it was
# the CURRENT value (step interpolation up to the next sample; the last
# sample of a day holds until midnight). lead() over (series, day) gives
# the hold duration — window-function shape both engines share, so unlike
# most SLI variants this one is fully hash-checkable.
# Deterministic tie-break on equal timestamps: (ts, event_id).
# 100 TB: one window (shuffle on (event_type, day) — the day partition key
# at rest, so with date-partitioned layout the sort is partition-local)
# then a hash agg; no UDF, no second scan.
# ---------------------------------------------------------------------------

@register(
    "agg_time_weighted",
    # r12 (VERDICT #7): rotated INTO the 50-row driver window (was aux
    # since r5) so A12's hash check rides CORRECTNESS_r12+.
    oracle="""
    WITH seq AS (
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS day,
               value,
               epoch(coalesce(
                   lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id),
                   date_trunc('day', ts) + INTERVAL 1 DAY)) - epoch(ts)
                   AS dur
        FROM events
    )
    SELECT event_type, day,
           round(sum(value * dur) / sum(dur), 6) AS twa,
           round(avg(value), 6)                  AS plain_avg,
           count(*)                              AS n_points
    FROM seq
    GROUP BY event_type, day
    """,
)
def agg_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    day = F.to_date("ts")
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    day_end = F.date_add(day, 1).cast("timestamp")
    hold_until = F.coalesce(F.lead("ts").over(w).cast("timestamp"), day_end)
    # ts can surface as TIMESTAMP_NTZ depending on the parquet encoding
    # (SURVEY §1.3); unix_micros needs a zoned timestamp — UTC session, so
    # the cast is a pure reinterpretation
    dur = (F.unix_micros(hold_until)
           - F.unix_micros(F.col("ts").cast("timestamp"))) / 1e6
    seq = ev.select("event_type", SF.day_str("ts").alias("day"),
                    "value", dur.alias("dur"))
    return seq.groupBy("event_type", "day").agg(
        SF.r6(F.sum(F.col("value") * F.col("dur")) / F.sum("dur")).alias("twa"),
        SF.r6(F.avg("value")).alias("plain_avg"),
        F.count(F.lit(1)).alias("n_points"),
    )


# ---------------------------------------------------------------------------
# r4 session 2 — the reference's AGGREGATION-SPEC surface as an API: SLR
# stores a per-SLI JSON spec ({"type": "average"|"weighted"|"sum"|"min"|
# "max", "weight_keys": [...]}, upstream:app/resources/sli.py aggregation
# handling [H]) and builds the minute series from it at ingest. This
# compiles that spec into the corresponding DataFrame plan over the events
# shape: per-minute per-series resample, then the cross-series combine the
# spec names; "weighted" takes its weights from the sibling series listed
# in weight_keys with the documented plain-average fallback (NULL or
# Σw = 0). A malformed spec fails at COMPILE time, not per-row.
# ---------------------------------------------------------------------------

AGG_SPEC_TYPES = ("average", "sum", "min", "max", "weighted")


def sli_from_spec(spark: SparkSession, sf_dir: str, spec) -> DataFrame:
    """Compile an SLR aggregation spec (dict or JSON string) into the
    per-minute SLI DataFrame: (minute, value, n_series). The per-series
    resample is shared; only the combine step differs by spec."""
    import json as _json

    if isinstance(spec, str):
        try:
            spec = _json.loads(spec)
        except ValueError as exc:
            raise ValueError(f"aggregation spec is not JSON: {exc}") from exc
    if not isinstance(spec, dict) or "type" not in spec:
        raise ValueError("aggregation spec must be a dict with a 'type'")
    kind = spec["type"]
    if kind not in AGG_SPEC_TYPES:
        raise ValueError(
            f"unknown aggregation type {kind!r}; one of {AGG_SPEC_TYPES}")

    per_series = (
        _events(spark, sf_dir)
        .groupBy(SF.minute("ts").alias("minute"),
                 F.col("event_type").alias("series"))
        .agg(F.avg("value").alias("v"))
    )

    if kind == "weighted":
        weight_keys = spec.get("weight_keys") or []
        if not weight_keys:
            raise ValueError("'weighted' spec requires non-empty "
                             "'weight_keys'")
        w = (per_series.where(F.col("series").isin(list(weight_keys)))
             .groupBy("minute").agg(F.sum("v").alias("w")))
        vals = per_series.where(~F.col("series").isin(list(weight_keys)))
        joined = vals.join(w, "minute", "left")
        return (
            joined.groupBy("minute")
            .agg(
                SF.r6(F.coalesce(
                    F.sum(F.col("v") * F.col("w"))
                    / F.nullif(F.sum("w"), F.lit(0.0)),
                    F.avg("v"))).alias("value"),
                F.count(F.lit(1)).alias("n_series"))
        )

    combine = {"average": F.avg, "sum": F.sum,
               "min": F.min, "max": F.max}[kind]
    return per_series.groupBy("minute").agg(
        SF.r6(combine("v")).alias("value"),
        F.count(F.lit(1)).alias("n_series"))
