"""Time-series operators: despike, averages, trend, as-of joins, dedup.

Reference parity targets (file:line into /root/reference):
- W3 iterative despike           SDS_transects.py:484-594 (exact port via
  groupBy(transect).applyInPandas — inherently order-dependent, SURVEY §7.3)
- A6 seasonal_average            SDS_transects.py:600-638 (DJF year shift)
- A7 monthly_average             SDS_transects.py:640-678 (trailing cutoff)
- A8 linear trend                SDS_transects.py:680-685 (regr_* builtins)
- J3 as-of tide join             SDS_tools.py:638-678 / SDS_slope.py:86-101
- tidal correction               example.py:324-330
- J4 interpolating validation    SDS_tools.py:919-943
- A9 error statistics            SDS_tools.py:956-960
- W1 close-timestamp dedup       SDS_tools.py:527-598
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .. import kernels


# ----------------------------------------------------------- despike (W3)

def despike_timeseries(ts: DataFrame, max_cross_change: float, time_col: str = "scene_month") -> DataFrame:
    """Per-transect iterative outlier removal (exact sequential port).

    NaN chainages are dropped first (SDS_transects.py:431-435), then the
    fixpoint spike scan runs per transect inside applyInPandas.
    """
    schema = "transect string, %s timestamp, chainage double" % time_col

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=["chainage"]).sort_values(time_col)
        keep = kernels.despike(pdf["chainage"].to_numpy(), max_cross_change)
        return pdf.loc[keep, ["transect", time_col, "chainage"]]

    return (
        ts.select("transect", time_col, "chainage")
        .groupBy("transect")
        .applyInPandas(fn, schema=schema)
    )


def despike_sql(src: str, thr: float) -> str:
    """DuckDB recursive-CTE mirror of `kernels.despike` over
    `src(transect, t, chainage)` — the sequential fixpoint, oracle-able
    after all.

    One recursion level = one pop of the reference's restart scan
    (SDS_transects.py:484-594): each level recomputes every surviving
    point's 5-point-neighborhood outlier predicate (first/last jump,
    isolated outlier, both 2-consecutive combinations, the 1.5x-widened
    3-cluster rule), removes the FIRST popped position, and re-emits the
    transect's rows — unless nothing popped (fixpoint) or the pop hit
    the last two positions (the reference's `k+1 >= len` early exit,
    ported bug-for-bug), in which case the transect drops out of the
    working table. Final rows = each transect's max-level rows.
    Validated against the numpy kernel on 300 randomized spiked series
    (tests/test_tools.py).

    Returns CTE text (no leading WITH RECURSIVE) defining `dsp_step` and
    `dsp_final(transect, t, chainage)`.
    """
    return f"""
    dsp_step(transect, t, chainage, it, term) AS (
      SELECT transect, t, chainage, 0, FALSE FROM {src}
      UNION ALL
      SELECT transect, t, chainage, it + 1, (p >= cnt - 2)
      FROM (
        SELECT s.*, min(CASE WHEN popped THEN k END)
                 OVER (PARTITION BY transect) AS p
        FROM (
          SELECT transect, t, chainage, it, term,
                 k, cnt, dm1, dp1, dm2, dp2,
                 CASE
                   WHEN cnt < 2 THEN FALSE
                   WHEN k = 0 THEN abs(dp1) > {thr!r}
                   WHEN k = cnt - 1 THEN abs(dm1) > {thr!r}
                   ELSE (abs(dm1) > {thr!r} AND abs(dp1) > {thr!r}
                         AND sign(dp1) = sign(dm1))
                     OR (k >= 2 AND k < cnt - 2 AND (
                          (abs(dm1) > {thr!r} AND abs(dp2) > {thr!r}
                           AND sign(dm1) = sign(dp2))
                       OR (abs(dp1) > {thr!r} AND abs(dm2) > {thr!r}
                           AND sign(dp1) = sign(dm2))
                       OR (abs(dm2) > 1.5 * {thr!r} AND abs(dp2) > 1.5 * {thr!r}
                           AND NOT abs(dm1) > {thr!r} AND NOT abs(dp1) > {thr!r}
                           AND sign(dm2) = sign(dp2))))
                 END AS popped
          FROM (
            SELECT transect, t, chainage, it, term,
                   CAST(row_number() OVER w AS BIGINT) - 1 AS k,
                   count(*) OVER (PARTITION BY transect) AS cnt,
                   chainage - lag(chainage)  OVER w AS dm1,
                   chainage - lead(chainage) OVER w AS dp1,
                   lag(chainage) OVER w - lag(chainage, 2) OVER w AS dm2,
                   lead(chainage) OVER w - lead(chainage, 2) OVER w AS dp2
            FROM dsp_step
            WINDOW w AS (PARTITION BY transect ORDER BY t)
          )
        ) s
      )
      WHERE NOT term AND p IS NOT NULL AND k <> p
    ),
    dsp_final AS (
      SELECT transect, t, chainage
      FROM (SELECT *, max(it) OVER (PARTITION BY transect) AS mit FROM dsp_step)
      WHERE it = mit
    )"""


# ------------------------------------------------------ seasonal / monthly

def season_bucket(ts_col: Column) -> Column:
    """Season anchor date: DJF->(y,1,1) with December rolling into the next
    year's DJF, MAM->(y,4,1), JJA->(y,7,1), SON->(y,10,1)
    (SDS_transects.py:617-625)."""
    m = F.month(ts_col)
    y = F.year(ts_col) + F.when(m == 12, F.lit(1)).otherwise(F.lit(0))
    anchor = (
        F.when(m.isin(12, 1, 2), F.lit(1))
        .when(m.isin(3, 4, 5), F.lit(4))
        .when(m.isin(6, 7, 8), F.lit(7))
        .otherwise(F.lit(10))
    )
    return F.make_date(y, anchor, F.lit(1))


def seasonal_average(ts: DataFrame, time_col: str = "scene_month") -> DataFrame:
    """A6: mean chainage per (transect, season bucket)."""
    return (
        ts.filter(F.col("chainage").isNotNull())
        .groupBy("transect", season_bucket(F.col(time_col)).alias("season"))
        .agg(F.avg("chainage").alias("mean_chainage"), F.count(F.lit(1)).alias("n"))
    )


def monthly_average(ts: DataFrame, time_col: str = "scene_month") -> DataFrame:
    """A7: mean per (transect, year-month), dropping buckets whose label
    date (15th) lands within 30 days of the series end
    (SDS_transects.py:660-661)."""
    labeled = ts.filter(F.col("chainage").isNotNull()).withColumn(
        "month_label", F.make_date(F.year(time_col), F.month(time_col), F.lit(15))
    )
    # cutoff scalar stays IN the plan (broadcast 1-row cross join): no
    # eager .collect() on the driver, so the operator composes lazily and
    # the input is scanned once at scale (Catalyst pushes the filter).
    cutoff = labeled.agg(
        F.date_sub(F.max(F.col(time_col).cast("date")), 30).alias("_cut")
    )
    return (
        labeled.crossJoin(F.broadcast(cutoff))
        .filter(F.col("month_label") <= F.col("_cut"))
        .groupBy("transect", "month_label")
        .agg(F.avg("chainage").alias("mean_chainage"), F.count(F.lit(1)).alias("n"))
    )


def trend(ts: DataFrame, time_col: str = "scene_month") -> DataFrame:
    """A8: per-transect linear trend in units/year + correlation, via the
    built-in SQL regression aggregates (scipy.linregress analog,
    SDS_transects.py:680-685). x = years since the transect's first date."""
    w = W.partitionBy("transect")
    x = (
        F.col(time_col).cast("double") - F.min(F.col(time_col).cast("double")).over(w)
    ) / F.lit(365.25 * 86400.0)
    d = ts.filter(F.col("chainage").isNotNull()).withColumn("x_years", x)
    return d.groupBy("transect").agg(
        F.regr_slope(F.col("chainage"), F.col("x_years")).alias("trend"),
        F.regr_intercept(F.col("chainage"), F.col("x_years")).alias("intercept"),
        F.corr(F.col("chainage"), F.col("x_years")).alias("rvalue"),
        F.count(F.lit(1)).alias("n"),
    )


# ------------------------------------------------------------- as-of (J3)

def _running_match(pc: list[str], forward: bool) -> Column:
    """Nearest right row's `_match` struct for each row of a tagged union
    (`_side` 0 = right, 1 = left).

    Both directions use one growing frame: `_ts` ascending for backward,
    descending for forward, with right rows first at equal `_ts` so ties
    match. Spark evaluates unboundedPreceding..currentRow as a running
    aggregate, O(n) per window partition. The struct is non-NULL even
    when its fields are NULL, so a matched NULL value is kept. NULL `_ts`
    rows sort first and match nothing, as long as the caller drops right
    rows whose `_ts` is NULL.
    """
    ts = F.col("_ts").desc_nulls_first() if forward else F.col("_ts").asc_nulls_first()
    w = (
        W.partitionBy(*pc)
        .orderBy(ts, F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return F.last("_match", ignorenulls=True).over(w)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "forward",
    partition_cols: list[str] | None = None,
    bucket_seconds: float | None = None,
) -> DataFrame:
    """Generic as-of join via tagged union + one window pass (no Python).

    forward  -> first right row with right_ts >= left_ts
    backward -> last  right row with right_ts <= left_ts
    (J3 uses forward: first tide sample after the image date,
    SDS_tools.py:669-676.) The matched row's values are returned as they
    are, NULLs included. A NULL `left_ts` matches nothing, and right rows
    with a NULL `right_ts` are ignored.

    Scale: the cost is one sort plus a linear scan per window partition
    (see `_running_match`). With no `bucket_seconds` a window partition
    is one key of `partition_cols`, fine when each key's series fits a
    task. For one global dense series (the tide table) pass
    `bucket_seconds` larger than the right series' max gap: both sides
    are hashed into time buckets and each right row is replicated into
    the adjacent bucket, so the fill stays exact across bucket boundaries
    while the buckets sort and scan in parallel.
    """
    forward = direction == "forward"
    pc = list(partition_cols or [])
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rt = right.filter(F.col(right_ts).isNotNull()).select(
        *pc,
        F.col(right_ts).alias("_ts"),
        F.struct(*value_cols).alias("_match"),
        F.lit(0).alias("_side"),
    )
    if bucket_seconds is not None:
        bkt = F.floor(F.col("_ts").cast("double") / F.lit(float(bucket_seconds)))
        lt = lt.withColumn("_bkt", bkt)
        rt = rt.withColumn("_bkt", F.explode(F.array(bkt, bkt + (-1 if forward else 1))))
        pc = pc + ["_bkt"]
    keep = [c for c in left.columns if c not in value_cols]
    return (
        lt.unionByName(rt, allowMissingColumns=True)
        .select(*keep, "_side", _running_match(pc, forward).alias("_match"))
        .filter(F.col("_side") == 1)
        .select(*keep, *[F.col("_match")[c].alias(c) for c in value_cols])
    )


def tidal_correction(
    ts_with_tide: DataFrame, beach_slope: float, reference_elevation: float = 0.0
) -> DataFrame:
    """Horizontal tide correction: chainage + (tide - ref_elev)/slope
    (example.py:324-330)."""
    corr = (F.col("tide") - F.lit(reference_elevation)) / F.lit(beach_slope)
    return ts_with_tide.withColumn("chainage_corrected", F.col("chainage") + corr)


# --------------------------------------------- validation join (J4) + A9

def validation_join(
    sat: DataFrame,
    survey: DataFrame,
    min_days: int = 3,
    max_days: int = 10,
    time_col: str = "scene_month",
) -> DataFrame:
    """Interpolating temporal join of satellite obs to in-situ surveys
    (SDS_tools.py:919-943): nearest survey if < min_days away; linear
    interpolation between bracketing surveys when min_days..max_days;
    null beyond max_days or when no bracketing pair exists.

    Implemented as two as-of passes (backward + forward) in one tagged
    union + window plan, then a when() cascade — no Python.
    """
    lt = sat.select(
        "transect", F.col(time_col).alias("_ts"), "chainage", F.lit(1).alias("_side")
    )
    rt = survey.filter(F.col("ts").isNotNull()).select(
        "transect",
        F.col("ts").alias("_ts"),
        F.struct(F.col("ts"), F.col("chainage").alias("val")).alias("_match"),
        F.lit(0).alias("_side"),
    )
    # inclusive both ways: equal-ts survey rows are visible to both fills
    d = (
        lt.unionByName(rt, allowMissingColumns=True)
        .select(
            "transect", "_ts", "chainage", "_side",
            _running_match(["transect"], forward=False).alias("_b"),
            _running_match(["transect"], forward=True).alias("_a"),
        )
        .filter(F.col("_side") == 1)
        .select(
            "transect", "_ts", "chainage",
            F.col("_b.ts").alias("_b_ts"), F.col("_b.val").alias("_b_val"),
            F.col("_a.ts").alias("_a_ts"), F.col("_a.val").alias("_a_val"),
        )
    )
    db = F.datediff(F.col("_ts").cast("date"), F.col("_b_ts").cast("date"))
    da = F.datediff(F.col("_a_ts").cast("date"), F.col("_ts").cast("date"))
    closest = F.when(db <= F.coalesce(da, F.lit(10**9)), F.col("_b_val")).otherwise(
        F.col("_a_val")
    )
    x = F.col("_ts").cast("date").cast("timestamp").cast("double")
    xb = F.col("_b_ts").cast("date").cast("timestamp").cast("double")
    xa = F.col("_a_ts").cast("date").cast("timestamp").cast("double")
    interp = F.col("_b_val") + (F.col("_a_val") - F.col("_b_val")) * (x - xb) / (xa - xb)
    dmin2 = F.least(F.coalesce(db, F.lit(10**9)), F.coalesce(da, F.lit(10**9)))
    survey_chainage = (
        F.when(dmin2 > max_days, F.lit(None))
        .when(dmin2 < min_days, closest)
        .when(F.col("_b_ts").isNotNull() & F.col("_a_ts").isNotNull(), interp)
        .otherwise(F.lit(None))
    )
    return d.select(
        "transect",
        F.col("_ts").alias(time_col),
        "chainage",
        survey_chainage.alias("survey_chainage"),
    )


def error_stats(joined: DataFrame) -> DataFrame:
    """A9: RMSE / mean / std / q90 of (satellite - survey)
    (SDS_tools.py:956-960; exact q90 via percentile for oracle parity)."""
    e = F.col("chainage") - F.col("survey_chainage")
    d = joined.filter(F.col("survey_chainage").isNotNull()).withColumn("err", e)
    return d.agg(
        F.sqrt(F.avg(F.col("err") * F.col("err"))).alias("rmse"),
        F.avg("err").alias("mean_err"),
        F.stddev_pop("err").alias("std_err"),
        F.expr("percentile(abs(err), 0.9)").alias("q90"),
        F.count(F.lit(1)).alias("n"),
    )


def tidal_range_stats(tides: DataFrame, partition_cols: list[str] | None = None) -> DataFrame:
    """A12: mean high water / mean low water / tidal range from signal
    peaks (compute_tidal_range analog, SDS_slope.py:70-84). Peak finding
    is sequential -> per-group applyInPandas; one group per location."""
    import numpy as np

    from ..operators.slope import find_peaks_1d

    pc = partition_cols or []
    key_cols = pc or ["_g"]
    d = tides if pc else tides.withColumn("_g", F.lit(1))
    schema = (
        ", ".join(f"{c} string" for c in key_cols)
        + ", mhw double, mlw double, tidal_range double, n_peaks int"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        y = pdf["tide"].to_numpy(float)
        hi = find_peaks_1d(y)
        lo = find_peaks_1d(-y)
        mhw = float(np.mean(y[hi])) if len(hi) else float("nan")
        mlw = float(np.mean(y[lo])) if len(lo) else float("nan")
        keys = {c: [str(pdf[c].iloc[0])] for c in key_cols}
        return pd.DataFrame(
            {**keys, "mhw": [mhw], "mlw": [mlw],
             "tidal_range": [mhw - mlw], "n_peaks": [int(len(hi))]}
        )

    return d.groupBy(*key_cols).applyInPandas(fn, schema=schema)


def containment_dedup(
    df: DataFrame,
    bucket_col: str,
    bbox_cols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
    id_col: str = "id",
) -> DataFrame:
    """J6: among rows sharing a bucket (e.g. same timestamp), drop rows
    whose bbox is strictly contained in another row's bbox
    (merge_overlapping_images analog, SDS_download.py:1143-1268 — the
    container is kept, contained duplicates dropped).

    Self equi-join on the bucket + containment predicate as column math;
    anti-join removes the contained side. Ties (identical bboxes) keep
    the smallest id.
    """
    ax0, ay0, ax1, ay1 = bbox_cols
    a = df.select(
        F.col(bucket_col).alias("_bkt"),
        F.col(id_col).alias("_ida"),
        *[F.col(c).alias(f"_a_{c}") for c in bbox_cols],
    )
    b = df.select(
        F.col(bucket_col).alias("_bkt"),
        F.col(id_col).alias("_idb"),
        *[F.col(c).alias(f"_b_{c}") for c in bbox_cols],
    )
    contains = (
        (F.col(f"_b_{ax0}") <= F.col(f"_a_{ax0}"))
        & (F.col(f"_b_{ay0}") <= F.col(f"_a_{ay0}"))
        & (F.col(f"_b_{ax1}") >= F.col(f"_a_{ax1}"))
        & (F.col(f"_b_{ay1}") >= F.col(f"_a_{ay1}"))
    )
    strictly_bigger = (
        (F.col(f"_b_{ax0}") < F.col(f"_a_{ax0}"))
        | (F.col(f"_b_{ay0}") < F.col(f"_a_{ay0}"))
        | (F.col(f"_b_{ax1}") > F.col(f"_a_{ax1}"))
        | (F.col(f"_b_{ay1}") > F.col(f"_a_{ay1}"))
    )
    identical = ~strictly_bigger & contains
    contained = (
        a.join(b, "_bkt")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(contains & (strictly_bigger | (identical & (F.col("_idb") < F.col("_ida")))))
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )
    return df.join(contained, id_col, "left_anti")


# --------------------------------------------------------------- W1 dedup

def dedup_close_timestamps(
    df: DataFrame,
    ts_col: str,
    gap_seconds: float,
    priority: list[Column],
    partition_cols: list[str] | None = None,
    tiebreakers: list[Column] | None = None,
) -> DataFrame:
    """W1: group rows whose timestamps chain within gap_seconds (session
    window via lag+cumsum) and keep the best row per session ordered by
    `priority` (SDS_tools.py:527-598: drop empties, prefer L9 over L7,
    else keep the longest shoreline). `tiebreakers` make the scan order
    deterministic when timestamps collide."""
    pc = partition_cols or []
    w = W.partitionBy(*pc).orderBy(F.col(ts_col).asc(), *(tiebreakers or []))
    ep = F.col(ts_col).cast("timestamp").cast("double")  # NTZ-safe epoch
    gap = ep - F.lag(ep).over(w)
    d = df.withColumn(
        "_new_session", F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    ).withColumn("_session", F.sum("_new_session").over(w.rowsBetween(W.unboundedPreceding, 0)))
    w2 = W.partitionBy(*pc, "_session").orderBy(*priority)
    return (
        d.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") == 1)
        .drop("_new_session", "_session", "_rn")
    )


# ----------------------------------------------- W2 same-day zone dedup

def same_day_mode_dedup(
    df: DataFrame,
    ts_col: str = "ts",
    zone_col: str = "zone",
    cap: int = 2,
    partition_cols: list[str] | None = None,
    tiebreakers: list[Column] | None = None,
) -> DataFrame:
    """W2: same-day cross-UTM-zone dedup (filter_S2_collection,
    SDS_download.py:970-1024), relational form.

    Reference behavior: a site whose scenes all share one zone passes
    through unchanged (no cap); otherwise only scenes in the site's
    most-common zone survive (count ties -> smallest zone, matching
    np.argmax over np.unique's sorted order) and each day keeps at most
    `cap` scenes (earliest first). Documented deviation: the reference
    windows are pivot-anchored +-24 h; calendar-day buckets are the
    relational equivalent (identical when acquisitions cluster well
    inside a day — the Sentinel-2 case the rule was written for).

    Scale: the zone-mode table is one tiny aggregate broadcast back; the
    cap is a per-(site, day) window. With partition_cols=None the mode is
    global — fine for one site, use partition_cols for a catalog of sites.
    """
    pc = partition_cols or []
    zc = df.groupBy(*pc, zone_col).agg(F.count(F.lit(1)).alias("_n"))
    wz = W.partitionBy(*[F.col(c) for c in pc]) if pc else W.partitionBy(F.lit(1))
    md = (
        zc.withColumn("_rn", F.row_number().over(wz.orderBy(F.desc("_n"), F.asc(zone_col))))
        .withColumn("_nz", F.count(F.lit(1)).over(wz))
        .filter(F.col("_rn") == 1)
        .select(*pc, F.col(zone_col).alias("_mode"), "_nz")
    )
    j = df.join(F.broadcast(md), pc) if pc else df.crossJoin(F.broadcast(md))
    keep_zone = (F.col("_nz") == 1) | (F.col(zone_col) == F.col("_mode"))
    wd = W.partitionBy(*pc, F.to_date(F.col(ts_col))).orderBy(
        F.col(ts_col).asc(), *(tiebreakers or [])
    )
    out = (
        j.filter(keep_zone)
        .withColumn("_rn", F.row_number().over(wd))
        .filter((F.col("_nz") == 1) | (F.col("_rn") <= cap))
    )
    return out.drop("_mode", "_nz", "_rn")


# ------------------------------------------------------------ sessionize

def sessionize(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreaker: str = "event_id",
    value_col: str | None = "value",
    boundary: str = ">",
) -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the time
    since the user's previous event exceeds `gap_seconds`.

    `boundary` selects the exact-gap semantics: the default `'>'` starts
    a new session only when the gap STRICTLY exceeds `gap_seconds` —
    this ALREADY agrees bit-for-bit with Spark's native `session_window`
    (and thus `streaming.ingest.streaming_sessions`), because
    session_window merges adjacent windows: an event at exactly
    prev_ts + gap keeps the session open (pinned by the planted
    exact-boundary parity test in tests/test_streaming.py). `'>='` is
    the alternative half-open semantics where a gap of exactly
    `gap_seconds` starts a new session.

    The classic web-analytics operator (the generalization of the
    reference's same-day grouping, SDS_tools.get_closest_datapoint
    family): one shuffle keyed by user, then two window passes (lag +
    running sum) and a hash aggregate — all JVM. Timestamps compare as
    exact int64 microseconds (`unix_micros`), so engine and oracle agree
    bit-for-bit; ordering ties break on `order_tiebreaker`.

    Returns one row per (user, session): n_events, start/end timestamps,
    duration_s, total_value.
    """
    # parquet timestamps read as TIMESTAMP_NTZ; the session TZ is pinned
    # UTC, so the cast to (ltz) timestamp is offset-free and unix_micros
    # yields the same int64 micros DuckDB's epoch_us computes
    if boundary not in (">", ">="):
        raise ValueError("boundary must be '>' or '>='")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = W.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(order_tiebreaker).asc())
    gap_us = int(round(gap_seconds * 1_000_000))
    delta = us - F.lag(us).over(w)
    exceeded = delta > gap_us if boundary == ">" else delta >= gap_us
    new_sess = F.when(F.lag(us).over(w).isNull() | exceeded, 1).otherwise(0)
    sess = events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.round(
            (F.max(us) - F.min(us)).cast("double") / F.lit(1_000_000.0), 6
        ).alias("duration_s"),
    ]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 6).alias("total_value"))
    return sess.groupBy(user_col, "session_id").agg(*aggs)


def sessionize_sql(
    table: str = "events",
    gap_seconds: float = 1800.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreaker: str = "event_id",
    value_col: str = "value",
    boundary: str = ">",
) -> str:
    """DuckDB mirror of `sessionize` (oracle): epoch_us = unix_micros.

    `boundary='>'` mirrors the batch default AND Spark's native
    `session_window` (which merges adjacent windows, so an exact-gap
    event keeps its session — see tests/test_streaming.py);
    `boundary='>='` mirrors `sessionize(boundary=">=")`, the half-open
    semantics where a gap of exactly `gap_seconds` starts a new session.
    """
    assert boundary in (">", ">=")
    gap_us = int(round(gap_seconds * 1_000_000))
    return f"""
WITH g AS (
  SELECT {user_col}, {ts_col}, {order_tiebreaker}, {value_col},
         epoch_us({ts_col}) AS us,
         CASE WHEN lag(epoch_us({ts_col})) OVER w IS NULL
                   OR epoch_us({ts_col}) - lag(epoch_us({ts_col})) OVER w {boundary} {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM {table}
  WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col} ASC, {order_tiebreaker} ASC)
), s AS (
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY {user_col} ORDER BY {ts_col} ASC,
            {order_tiebreaker} ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT {user_col}, session_id, count(*) AS n_events,
       min({ts_col}) AS start_ts, max({ts_col}) AS end_ts,
       round(CAST(max(us) - min(us) AS DOUBLE) / 1000000.0, 6) AS duration_s,
       round(sum({value_col}), 6) AS total_value
FROM s GROUP BY {user_col}, session_id
"""
