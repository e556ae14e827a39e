"""Time-series operators: as-of vs merge_asof (bucket edges, ties, NULLs,
running-frame plans), despike parity, seasonal DJF rule, validation-join
band semantics, session dedup."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from coastsat_spark import kernels
from coastsat_spark.operators import timeseries as TS


def _merge_asof(left, right, direction, **kw):
    return pd.merge_asof(
        left.sort_values("lts"), right.sort_values("rts"),
        left_on="lts", right_on="rts", direction=direction, **kw,
    ).sort_values("k").reset_index(drop=True)


def _spark_asof(ldf, rdf, value_cols, direction, **kw):
    return (
        TS.asof_join(ldf, rdf, "lts", "rts", value_cols, direction=direction, **kw)
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )


def test_asof_forward_backward_match_pandas(spark):
    rng = np.random.default_rng(2)
    lts = pd.to_datetime("2021-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 10**7, 300)), unit="s"
    )
    rts = pd.to_datetime("2021-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 10**7, 500)), unit="s"
    )
    left = pd.DataFrame({"lts": lts, "k": np.arange(300)})
    right = pd.DataFrame({"rts": rts, "val": rng.normal(size=500)}).drop_duplicates("rts")
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    for direction in ("forward", "backward"):
        # bucket must exceed the right series' max gap (~1.2e5 s here)
        for bucket in (None, 500_000.0):
            got = _spark_asof(ldf, rdf, ["val"], direction, bucket_seconds=bucket)
            exp = _merge_asof(left, right, direction)
            assert np.allclose(got["val"], exp["val"], equal_nan=True), (direction, bucket)


def test_asof_equal_ts_inclusive(spark):
    left = pd.DataFrame({"lts": [pd.Timestamp("2021-01-02")], "k": [0]})
    right = pd.DataFrame(
        {"rts": [pd.Timestamp("2021-01-01"), pd.Timestamp("2021-01-02")], "val": [1.0, 2.0]}
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    fwd = TS.asof_join(ldf, rdf, "lts", "rts", ["val"], "forward").collect()[0]["val"]
    bwd = TS.asof_join(ldf, rdf, "lts", "rts", ["val"], "backward").collect()[0]["val"]
    assert fwd == 2.0 and bwd == 2.0  # >= and <= both include the tie


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


def test_asof_and_validation_plans_use_growing_frames_only(spark):
    # the unboundedFollowing frame is recomputed per row (quadratic per
    # window partition); every fill must be unboundedPreceding..currentRow
    left = spark.createDataFrame(
        pd.DataFrame({"lts": pd.to_datetime(["2021-01-02"]), "k": [0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"rts": pd.to_datetime(["2021-01-01"]), "val": [1.0]})
    )
    plans = [
        _physical_plan(TS.asof_join(left, right, "lts", "rts", ["val"], d, bucket_seconds=b))
        for d in ("forward", "backward")
        for b in (None, 86400.0)
    ]
    sat = pd.DataFrame(
        {"transect": ["A"], "scene_month": pd.to_datetime(["2021-01-02"]), "chainage": [1.0]}
    )
    survey = pd.DataFrame(
        {"transect": ["A"], "ts": pd.to_datetime(["2021-01-01"]), "chainage": [2.0]}
    )
    plans.append(
        _physical_plan(
            TS.validation_join(spark.createDataFrame(sat), spark.createDataFrame(survey))
        )
    )
    for plan in plans:
        assert "unboundedpreceding" in plan
        assert "unboundedfollowing" not in plan


def test_asof_bucketed_boundary_next_bucket_and_ties(spark):
    # 2 h buckets (> the 90 min max right gap) start at even UTC hours
    t = lambda hm: pd.Timestamp("2021-01-01 " + hm)  # noqa: E731
    right = pd.DataFrame(
        {"rts": [t("02:00"), t("03:00"), t("04:00"), t("05:30")], "val": [1.0, 2.0, 3.0, 4.0]}
    )
    lts = ["01:00", "02:00", "02:30", "03:00", "03:30", "04:00", "04:10", "06:00"]
    left = pd.DataFrame({"lts": [t(x) for x in lts], "k": np.arange(len(lts))})
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    fwd = _spark_asof(ldf, rdf, ["val"], "forward", bucket_seconds=7200.0)["val"]
    # 01:00 and 03:30 match a right row on the next bucket's first instant;
    # 02:00, 03:00 and 04:00 tie a right row exactly
    assert fwd[:7].tolist() == [1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0]
    assert pd.isna(fwd[7])
    for direction in ("forward", "backward"):
        got = _spark_asof(ldf, rdf, ["val"], direction, bucket_seconds=7200.0)
        exp = _merge_asof(left, right, direction)
        pd.testing.assert_series_equal(got["val"], exp["val"], check_names=False)


def test_asof_keeps_matched_null_value(spark):
    rdf = spark.createDataFrame(
        [
            (pd.Timestamp("2021-01-01 00:00").to_pydatetime(), 1.0),
            (pd.Timestamp("2021-01-01 01:00").to_pydatetime(), None),
            (pd.Timestamp("2021-01-01 02:00").to_pydatetime(), 3.0),
        ],
        "rts timestamp, val double",
    )
    left = pd.DataFrame(
        {"lts": pd.to_datetime(["2021-01-01 00:30", "2021-01-01 01:30"]), "k": [0, 1]}
    )
    ldf = spark.createDataFrame(left)
    for bucket in (None, 7200.0):
        fwd = _spark_asof(ldf, rdf, ["val"], "forward", bucket_seconds=bucket)["val"]
        bwd = _spark_asof(ldf, rdf, ["val"], "backward", bucket_seconds=bucket)["val"]
        # the 01:00 row matches (after 00:30, before 01:30) and its NULL
        # is returned, not the next/previous non-NULL value
        assert pd.isna(fwd[0]) and fwd[1] == 3.0, bucket
        assert bwd[0] == 1.0 and pd.isna(bwd[1]), bucket


def test_asof_null_timestamps_match_nothing(spark):
    ldf = spark.createDataFrame(
        [(None, 0), (pd.Timestamp("2021-01-01 00:30").to_pydatetime(), 1)],
        "lts timestamp, k long",
    )
    rdf = spark.createDataFrame(
        [(None, 9.0), (pd.Timestamp("2021-01-01 01:00").to_pydatetime(), 1.0)],
        "rts timestamp, val double",
    )
    for bucket in (None, 7200.0):
        fwd = _spark_asof(ldf, rdf, ["val"], "forward", bucket_seconds=bucket)["val"]
        bwd = _spark_asof(ldf, rdf, ["val"], "backward", bucket_seconds=bucket)["val"]
        # the NULL-ts left row matches nothing; the NULL-ts right row is
        # not a backward match for 00:30
        assert pd.isna(fwd[0]) and fwd[1] == 1.0, bucket
        assert pd.isna(bwd[0]) and pd.isna(bwd[1]), bucket


def test_asof_two_value_cols_by_key_match_pandas(spark):
    rng = np.random.default_rng(5)
    base = pd.Timestamp("2021-01-01")
    left = pd.DataFrame(
        {
            "lts": base + pd.to_timedelta(rng.integers(0, 10**6, 200), unit="s"),
            "g": rng.integers(0, 3, 200),
            "k": np.arange(200),
        }
    )
    right = pd.DataFrame(
        {
            "rts": base + pd.to_timedelta(rng.integers(0, 10**6, 400), unit="s"),
            "g": rng.integers(0, 3, 400),
            "val": rng.normal(size=400),
            "tag": rng.integers(0, 1000, 400),
        }
    ).drop_duplicates(["g", "rts"])
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    for direction in ("forward", "backward"):
        got = _spark_asof(ldf, rdf, ["val", "tag"], direction, partition_cols=["g"])
        assert got.columns.tolist() == ["lts", "g", "k", "val", "tag"]
        exp = _merge_asof(left, right, direction, by="g")
        assert np.allclose(got["val"], exp["val"], equal_nan=True), direction
        assert np.array_equal(got["tag"].isna(), exp["tag"].isna()), direction
        hit = got["tag"].notna()
        assert (got["tag"][hit] == exp["tag"][hit]).all(), direction


def test_despike_spark_matches_kernel(spark):
    rng = np.random.default_rng(9)
    rows = []
    for tr in ["A", "B"]:
        base = np.cumsum(rng.normal(scale=0.05, size=40)) + 1.5
        base[[7, 19]] += 3.0  # spikes
        months = pd.date_range("2020-01-01", periods=40, freq="MS")
        rows += [(tr, m.to_pydatetime(), float(v)) for m, v in zip(months, base)]
    pdf = pd.DataFrame(rows, columns=["transect", "scene_month", "chainage"])
    sdf = spark.createDataFrame(pdf)
    got = (
        TS.despike_timeseries(sdf, max_cross_change=1.0)
        .toPandas()
        .sort_values(["transect", "scene_month"])
        .reset_index(drop=True)
    )
    exps = []
    for tr, g in pdf.groupby("transect"):
        g = g.sort_values("scene_month")
        keep = kernels.despike(g["chainage"].to_numpy(), 1.0)
        exps.append(g[keep])
    exp = pd.concat(exps).sort_values(["transect", "scene_month"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert np.allclose(got["chainage"], exp["chainage"])


def test_season_bucket_djf_shift(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(["2020-12-15", "2021-01-10", "2021-02-28", "2021-03-01"])})
    )
    got = df.select(TS.season_bucket(F.col("ts")).alias("s")).toPandas()["s"].astype(str).tolist()
    assert got == ["2021-01-01", "2021-01-01", "2021-01-01", "2021-04-01"]


def test_monthly_average_cutoff(spark):
    months = pd.date_range("2020-01-01", periods=6, freq="MS")
    pdf = pd.DataFrame(
        {
            "transect": "A",
            "scene_month": np.repeat(months, 2),
            "chainage": np.arange(12, dtype=float),
        }
    )
    out = TS.monthly_average(spark.createDataFrame(pdf)).toPandas()
    # last label 2020-06-15 vs cutoff = 2020-06-01 - 30d = 2020-05-02 →
    # June AND May dropped
    assert str(out["month_label"].max()) == "2020-04-15"


def test_trend_matches_numpy(spark):
    months = pd.date_range("2020-01-01", periods=24, freq="MS")
    y = 1.0 + 0.4 * np.arange(24) / 12.0 + np.sin(np.arange(24)) * 0.01
    pdf = pd.DataFrame({"transect": "A", "scene_month": months, "chainage": y})
    out = TS.trend(spark.createDataFrame(pdf)).toPandas().iloc[0]
    x = (months - months.min()).total_seconds() / (365.25 * 86400)
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(out["trend"] - slope) < 1e-6
    assert abs(out["intercept"] - intercept) < 1e-6


def test_validation_join_bands(spark):
    sat = pd.DataFrame(
        {
            "transect": ["A"] * 4,
            "scene_month": pd.to_datetime(
                ["2021-01-10", "2021-02-10", "2021-03-15", "2021-06-01"]
            ),
            "chainage": [10.0, 20.0, 30.0, 40.0],
        }
    )
    survey = pd.DataFrame(
        {
            "transect": ["A"] * 4,
            "ts": pd.to_datetime(["2021-01-09", "2021-02-05", "2021-02-14", "2021-03-30"]),
            "chainage": [1.0, 2.0, 3.0, 4.0],
        }
    )
    out = (
        TS.validation_join(spark.createDataFrame(sat), spark.createDataFrame(survey))
        .toPandas()
        .sort_values("scene_month")
        .reset_index(drop=True)
    )
    # 01-10: 1 day from 01-09 -> closest (1.0)
    assert out["survey_chainage"][0] == 1.0
    # 02-10: 5 days before / 4 after -> interpolate between 02-05 and 02-14
    x = (pd.Timestamp("2021-02-10") - pd.Timestamp("2021-02-05")).days
    span = (pd.Timestamp("2021-02-14") - pd.Timestamp("2021-02-05")).days
    assert abs(out["survey_chainage"][1] - (2.0 + (3.0 - 2.0) * x / span)) < 1e-9
    # 03-15: 29d before next survey? prev 02-14 (29d), next 03-30 (15d) -> >10d -> null
    assert pd.isna(out["survey_chainage"][2])
    # 06-01: >10 days from everything -> null
    assert pd.isna(out["survey_chainage"][3])


def test_validation_join_keeps_nearest_survey_null(spark):
    sat = spark.createDataFrame(
        [("A", pd.Timestamp("2021-01-10").to_pydatetime(), 10.0)],
        "transect string, scene_month timestamp, chainage double",
    )
    survey = spark.createDataFrame(
        [
            ("A", pd.Timestamp("2021-01-08").to_pydatetime(), 5.0),
            ("A", pd.Timestamp("2021-01-09").to_pydatetime(), None),
        ],
        "transect string, ts timestamp, chainage double",
    )
    out = TS.validation_join(sat, survey).collect()
    # the closest survey (01-09) is NULL: its value, not the 01-08 one
    assert len(out) == 1 and out[0]["survey_chainage"] is None


def test_dedup_close_timestamps_keeps_best(spark):
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [
                    "2021-01-01 00:00:00",
                    "2021-01-01 00:03:00",  # within 5 min of previous
                    "2021-01-01 01:00:00",
                ]
            ),
            "grp": ["g"] * 3,
            "quality": [1.0, 5.0, 2.0],
            "rid": [0, 1, 2],
        }
    )
    out = (
        TS.dedup_close_timestamps(
            spark.createDataFrame(pdf),
            ts_col="ts",
            gap_seconds=300,
            priority=[F.desc("quality")],
            partition_cols=["grp"],
            tiebreakers=[F.asc("rid")],
        )
        .toPandas()
        .sort_values("rid")
    )
    assert out["rid"].tolist() == [1, 2]


def test_tidal_correction_formula(spark):
    pdf = pd.DataFrame({"chainage": [10.0], "tide": [0.5]})
    out = TS.tidal_correction(spark.createDataFrame(pdf), beach_slope=0.1).collect()[0]
    assert abs(out["chainage_corrected"] - 15.0) < 1e-12


def test_same_day_mode_dedup(spark):
    """W2 (filter_S2_collection): majority zone kept, same-day cap of 2,
    single-zone sites pass through uncapped."""
    rows = []
    # site A: zones 32 (majority, 5 rows) and 33 (2 rows); day 1 has three
    # zone-32 scenes -> capped to 2; zone-33 scenes dropped entirely
    for h, z in [(1, 32), (2, 32), (3, 32), (4, 33), (30, 33), (26, 32), (50, 32)]:
        rows.append(("A", len(rows), pd.Timestamp("2024-03-01") + pd.Timedelta(hours=h), z))
    # site B: single zone, 3 same-day scenes -> all kept (no cap)
    for h in (1, 2, 3):
        rows.append(("B", len(rows), pd.Timestamp("2024-03-01") + pd.Timedelta(hours=h), 17))
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "scene_id", "ts", "zone"])
    )
    out = TS.same_day_mode_dedup(
        sdf, ts_col="ts", zone_col="zone", cap=2,
        partition_cols=["site"], tiebreakers=[F.asc("scene_id")],
    ).toPandas()
    kept = set(out["scene_id"])
    # site A day 1 (hours 1,2,3 zone 32) capped to first two; zone 33 gone
    assert {0, 1} <= kept and 2 not in kept
    assert 3 not in kept and 4 not in kept
    # day-2 zone-32 scenes kept (hours 26, 50 are days 2 and 3)
    assert {5, 6} <= kept
    # site B: all three kept despite same day (single zone -> passthrough)
    assert {7, 8, 9} <= kept
    assert len(kept) == 7


def test_sessionize_gap_semantics(spark):
    from datetime import datetime as DT

    from coastsat_spark.operators.timeseries import sessionize

    rows = [
        # user 1: three events 10 min apart -> one session
        (1, DT(2024, 1, 1, 0, 0, 0), 1, 1.0),
        (2, DT(2024, 1, 1, 0, 10, 0), 1, 2.0),
        (3, DT(2024, 1, 1, 0, 20, 0), 1, 3.0),
        # gap of exactly 1800s -> SAME session (break requires > gap)
        (4, DT(2024, 1, 1, 0, 50, 0), 1, 4.0),
        # gap of 1800.000001s -> new session
        (5, DT(2024, 1, 1, 1, 20, 0, 1), 1, 5.0),
        # user 2: single event -> singleton session, duration 0
        (6, DT(2024, 1, 1, 9, 0, 0), 2, 7.5),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    out = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(ev, gap_seconds=1800.0).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11["n_events"] == 4 and s11["total_value"] == 10.0
    assert s11["duration_s"] == 3000.0
    s12 = out[(1, 2)]
    assert s12["n_events"] == 1 and s12["duration_s"] == 0.0
    assert out[(2, 1)]["n_events"] == 1 and out[(2, 1)]["total_value"] == 7.5
