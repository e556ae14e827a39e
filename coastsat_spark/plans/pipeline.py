"""End-to-end flagship pipeline (the engine's EP2+EP3 analog, SURVEY.md §3).

    docs --(map: geo/bands/tiles, no shuffle)--> prepared
         --(shuffle 1: pixel agg, JVM)--> pixels
         --(scene gates, JVM)--> kept scenes
         --(shuffle 2: repartition + sort by scene -> mapInPandas)--> shoreline points
         --(broadcast theta-join, no shuffle)--> transect pairs
         --(shuffle 3: (transect, scene) agg)--> chainage time series
         --(despike / as-of tide join / corrections / averages)--> products

Three shuffles total; everything between them is whole-stage-codegen
column math or a bounded-size pandas group.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import tides_df
from ..operators import raster, tiling, transects, timeseries


@dataclass
class PipelineResult:
    prepared: DataFrame
    pixels: DataFrame
    quality: DataFrame
    shorelines: DataFrame
    pairs: DataFrame
    timeseries: DataFrame


def run_flagship(
    spark: SparkSession,
    docs: DataFrame,
    settings: raster.ShorelineSettings | None = None,
    n_transects: int = 41,
    qc: bool = False,
) -> PipelineResult:
    s = settings or raster.ShorelineSettings()
    prepared = tiling.prepare_documents(docs)
    pixels = raster.aggregate_pixels(prepared)
    # the pixel aggregate is the pipeline's natural materialization
    # boundary: ~G*G rows per scene regardless of doc volume. Persisting
    # it means the doc scan + geotag-parse UDF run once, not once per
    # downstream consumer (quality gate, extraction, metrics).
    pixels = pixels.persist()
    quality = raster.scene_quality(pixels, s)
    shorelines = raster.extract_shorelines(pixels, s, quality=quality)
    tr = transects.transects_df(spark, n_transects)
    pairs = transects.transect_join(
        shorelines.select("lon", "lat", "scene_month"), tr, use_bearing=not qc
    )
    if qc:
        # scalar stays IN-PLAN (broadcast 1-row cross join inside
        # qc_intersections) — no driver-side action in the pipeline body
        n_scenes = shorelines.agg(
            F.countDistinct("scene_month").alias("n_scenes")
        )
        ts = transects.qc_intersections(pairs, n_scenes=n_scenes)
    else:
        ts = transects.median_intersections(pairs)
    return PipelineResult(prepared, pixels, quality, shorelines, pairs, ts)


def tidally_corrected(
    spark: SparkSession,
    ts: DataFrame,
    beach_slope: float = 0.1,
    reference_elevation: float = 0.0,
) -> DataFrame:
    """EP3 tail: as-of tide join (J3 forward) + horizontal correction."""
    tides = tides_df(spark)
    with_tide = timeseries.asof_join(
        ts,
        tides,
        left_ts="scene_month",
        right_ts="ts",
        value_cols=["tide"],
        direction="forward",
        bucket_seconds=30 * 86400.0,
    )
    return timeseries.tidal_correction(with_tide, beach_slope, reference_elevation)
