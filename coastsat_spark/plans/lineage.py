"""Checkpoint/resume + per-partition lineage metrics (north-rule items).

The reference's only incremental machinery is the skip-already-downloaded
anti-join (SDS_download.py:629-656) and try/except-per-image fault
isolation (SDS_shoreline.py:203-205). The engine generalizes both:

- `checkpoint(...)`: stage results are materialized to parquet with a
  completion marker; re-running the same (name, fingerprint) reads the
  parquet back instead of recomputing. Resume-after-kill falls out: an
  interrupted write leaves no marker, so the stage reruns; a completed
  one is never recomputed.
- `resume_filter(...)`: the processed-log anti-join (U3) — drop input
  keys already present in a previous successful output, for
  incremental/append processing.
- `partition_metrics(...)`: one lineage row per partition (partition id,
  row count, min/max key, wall time) emitted via mapInPandas — the
  "every partition emits lineage + metrics records" contract. Metrics
  are data, so they flow to a table like everything else.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import DATA_DIR

DEFAULT_ROOT = os.path.join(DATA_DIR, "checkpoints")


def _marker(path: str) -> str:
    return os.path.join(path, "_ENGINE_COMPLETE")


def checkpoint(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
    root: str = DEFAULT_ROOT,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Materialize-or-reuse a stage output.

    `fingerprint` must capture everything the stage depends on (input
    table version, settings hash); a changed fingerprint is a different
    checkpoint directory, so stale reuse is impossible.
    """
    path = os.path.join(root, f"{name}__{fingerprint}")
    if not os.path.exists(_marker(path)):
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        meta = {"name": name, "fingerprint": fingerprint, "completed_at": time.time()}
        with open(_marker(path), "w") as fh:
            json.dump(meta, fh)
    return spark.read.parquet(path)


def resume_filter(
    df: DataFrame, processed: DataFrame | None, key_cols: list[str]
) -> DataFrame:
    """U3 incremental anti-join: keep only rows whose key is not in the
    processed log (SDS_download.py:645-652 analog)."""
    if processed is None:
        return df
    return df.join(processed.select(*key_cols).distinct(), key_cols, "left_anti")


def partition_metrics(df: DataFrame, stage: str, key_col: str | None = None) -> DataFrame:
    """Per-partition lineage rows: (stage, partition_id, n_rows, min_key,
    max_key, wall_ms). Runs as one extra narrow pass (mapInPandas); write
    the result next to the stage output for the lineage table."""

    cols = [key_col] if key_col else df.columns[:1]
    kc = cols[0]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.perf_counter()
        n = 0
        kmin = None
        kmax = None
        for pdf in batches:
            n += len(pdf)
            if len(pdf):
                lo, hi = pdf[kc].min(), pdf[kc].max()
                kmin = lo if kmin is None else min(kmin, lo)
                kmax = hi if kmax is None else max(kmax, hi)
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        yield pd.DataFrame(
            {
                "stage": [stage],
                "partition_id": [pid],
                "n_rows": [n],
                "min_key": [str(kmin)],
                "max_key": [str(kmax)],
                "wall_ms": [round((time.perf_counter() - t0) * 1000, 3)],
            }
        )

    schema = (
        "stage string, partition_id int, n_rows long, min_key string, "
        "max_key string, wall_ms double"
    )
    return df.select(*cols).mapInPandas(fn, schema=schema)


def run_with_lineage(
    spark: SparkSession,
    name: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
    key_col: str | None = None,
    root: str = DEFAULT_ROOT,
) -> tuple[DataFrame, DataFrame]:
    """checkpoint() + a lineage metrics table persisted alongside."""
    out = checkpoint(spark, name, fingerprint, build, root)
    lineage_path = os.path.join(root, f"{name}__{fingerprint}__lineage")
    if not os.path.exists(_marker(lineage_path)):
        partition_metrics(out, name, key_col).write.mode("overwrite").parquet(lineage_path)
        with open(_marker(lineage_path), "w") as fh:
            json.dump({"stage": name}, fh)
    return out, spark.read.parquet(lineage_path)
