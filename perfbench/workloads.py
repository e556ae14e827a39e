"""The benchmark's workloads, their seeded inputs and their checks.

Each workload is a class with `inputs` (the seeded row range to
generate), `setup` (untimed warm-up), `iterate` (one run through the
engine's public API, timed by the caller), `check` (the per-run output
check) and `install` (the spans a traced run adds).
Inputs are `datagen.gen_batch` rows over a row-index range offset by the
seed, written under the run's own work directory; the engine only sees
those tables.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from coastsat_spark import datagen
from coastsat_spark.functions import text
from coastsat_spark.operators import dedup, raster, sinks, tiling, timeseries, transects
from coastsat_spark.plans import pipeline

from .spans import NullTracer

# Row-index layout: every seed owns a 2^24-row block far above the
# indices the library's own tables use (0..96M) and clear of the
# generator's template-doc space at 2^40. There are 2^20 blocks.
_BASE = 1 << 41
_SEED_STRIDE = 1 << 24
_SEED_BLOCKS = 1 << 20


def row_start(seed: int) -> int:
    """First row index of the seed's inputs. Any integer is a seed,
    negative or large: it picks block `seed mod 2^20`."""
    return _BASE + (seed % _SEED_BLOCKS) * _SEED_STRIDE


MONTHS = list(
    pd.period_range(
        pd.Timestamp(datagen.TS_START_S, unit="s"),
        pd.Timestamp(datagen.TS_START_S + datagen.TS_SPAN_S - 1, unit="s"),
        freq="M",
    ).strftime("%Y-%m")
)


def _month_of(ts_s: np.ndarray) -> np.ndarray:
    return pd.to_datetime(ts_s, unit="s").strftime("%Y-%m").to_numpy()


def write_months(start: int, n: int, path: str, months: list[str]) -> int:
    """Generate the webpages rows [start, start+n) whose `warc_month` is
    in `months` and write one parquet file per month under
    `path/warc_month=M/`, the layout `datagen.ensure_webpages` writes.
    Runs in a worker process; returns the rows written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    idx = np.arange(start, start + n, dtype=np.uint64)
    month = _month_of(datagen.doc_ts_seconds(idx))
    keep = np.isin(month, months)
    df = datagen.gen_batch(idx[keep]).drop(columns=["_lat", "_lon"])
    # tz-aware, so the file is marked UTC-adjusted and Spark reads `timestamp`
    df["warc_ts"] = df["warc_ts"].dt.tz_localize("UTC")
    for m, part in df.groupby(month[keep]):
        d = os.path.join(path, f"warc_month={m}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(table, os.path.join(d, "part-00000.snappy.parquet"), compression="snappy")
    return int(keep.sum())


def generate(start: int, n: int, path: str, workers: int) -> list[subprocess.Popen]:
    """Start `workers` processes running `write_months` over the rows
    [start, start+n), the months dealt round-robin. Plain processes, not
    a multiprocessing pool, so that nothing is created outside the
    checkout (a pool's semaphores live in /dev/shm)."""
    code = "import json, sys; from perfbench.workloads import write_months; write_months(*json.loads(sys.argv[1]))"
    return [
        subprocess.Popen([sys.executable, "-c", code, json.dumps([start, n, path, MONTHS[k::workers]])])
        for k in range(workers)
    ]


def value_signature(pdf: pd.DataFrame) -> list:
    """(rows, order-insensitive value hash) with the normalize + sha256
    scheme the oracle gate uses."""
    from tools.check_oracles import value_hash

    return [len(pdf), value_hash(pdf)]


class ShorelineFull:
    """The user-facing product: flagship extraction + tide correction
    over the whole table, every output column written to parquet."""

    name = "shoreline_full"
    n_docs = 60_000
    min_iterations = 2

    def __init__(self, work: str, seed: int):
        self.spark, self.work, self.seed = None, work, seed
        self.docs_path = os.path.join(work, "in", "docs")
        self.out_path = os.path.join(work, "out", "corrected")

    def inputs(self) -> tuple[int, int, str]:
        return row_start(self.seed), self.n_docs, self.docs_path

    def setup(self, spark) -> None:
        """Untimed warm-up of the Python workers, codegen and JIT: the
        flagship over the whole table. The as-of tide join is left cold:
        warming it on a small tide series made the iterations ~20% faster
        but not steadier (10-seed spread 0.146, against 0.064 and 0.171
        in two sets without)."""
        self.spark = spark
        res = pipeline.run_flagship(spark, spark.read.parquet(self.docs_path))
        res.timeseries.write.format("noop").mode("overwrite").save()
        res.pixels.unpersist()

    def sink_plan(self):
        docs = self.spark.read.parquet(self.docs_path)
        res = pipeline.run_flagship(self.spark, docs)
        return res, pipeline.tidally_corrected(self.spark, res.timeseries)

    def iterate(self, tr) -> int:
        res, corrected = self.sink_plan()
        tr.call("sink", corrected.write.mode("overwrite").parquet, self.out_path)
        res.pixels.unpersist()
        return self.n_docs

    def check(self) -> tuple[list, list[str]]:
        pdf = self.spark.read.parquet(self.out_path).toPandas()
        return value_signature(pdf), []

    @staticmethod
    def install(tr) -> None:
        tr.patch(tiling, "prepare_documents", "tiling")
        tr.patch(raster, "aggregate_pixels", "raster.agg")
        tr.patch(raster, "extract_shorelines", "raster.extract", post=extract_probe)
        tr.patch(transects, "transect_join", "transects", post=transect_probe)
        tr.patch(transects, "median_intersections", "transects.median")
        tr.patch(timeseries, "asof_join", "timeseries.asof")


class CorpusDedup:
    """The LLM-curation job: JVM text extraction, MinHash near-duplicate
    assignment with the library defaults (k=128, bands=32, as
    `curate_corpus` calls it), keep canonicals, write the kept docs
    partitioned by `lang`."""

    name = "corpus_dedup"
    n_docs = 60_000
    min_iterations = 2

    def __init__(self, work: str, seed: int):
        self.spark, self.work, self.seed = None, work, seed
        self.docs_path = os.path.join(work, "in", "docs")
        self.out_path = os.path.join(work, "out", "kept")
        self._obs = None

    def inputs(self) -> tuple[int, int, str]:
        return row_start(self.seed), self.n_docs, self.docs_path

    def setup(self, spark) -> None:
        """Untimed warm-up: two whole runs of the workload. After one,
        the next run is still ~20% slower than the third."""
        self.spark = spark
        for _ in range(2):
            self.iterate(NullTracer())

    def _run(self, docs, tr, out_path: str) -> None:
        from pyspark.sql import Observation

        docs_text = tr.call(
            "text",
            docs.select,
            F.xxhash64("url").alias("doc_id"),
            "lang",
            text.extract_text("html").alias("text"),
        )
        assign = tr.call(
            "dedup.assign",
            dedup.minhash_dedup_assign,
            docs_text,
            text_col="text",
            id_col="doc_id",
            post=assign_probe,
        )
        # counted while the sink runs: no extra job
        self._obs = Observation("dedup_counts")
        assign = assign.observe(
            self._obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("doc_id") != F.col("canonical_id")).cast("long")).alias("non_canonical"),
        )
        canon = assign.where(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
        kept = docs_text.join(canon, "doc_id", "left_semi")
        tr.call("sinks", sinks.overwrite_partitions, kept, out_path, ["lang"])

    def iterate(self, tr) -> int:
        docs = self.spark.read.parquet(self.docs_path)
        self._run(docs, tr, self.out_path)
        return self.n_docs

    def check(self) -> tuple[list, list[str]]:
        pdf = self.spark.read.parquet(self.out_path).toPandas()
        counts = self._obs.get
        problems = []
        if counts["docs"] != self.n_docs:
            problems.append(f"assignment has {counts['docs']} rows for {self.n_docs} docs")
        if len(pdf) + counts["non_canonical"] != self.n_docs:
            problems.append(
                f"kept {len(pdf)} + non-canonical {counts['non_canonical']} "
                f"!= {self.n_docs} input docs"
            )
        return value_signature(pdf), problems

    @staticmethod
    def install(tr) -> None:
        tr.patch(dedup, "minhash_band_keys", "dedup.band_keys", post=band_keys_probe)


WORKLOADS = {w.name: w for w in (ShorelineFull, CorpusDedup)}


# ----------------------------------------------------- span probes
# Each runs after its span's clock has stopped, on the span's cached
# inputs and output, and returns counts the per-layer metrics divide.

def extract_probe(args, kwargs, out) -> dict:
    """Scene keep ratio, and `scene_extract_pdf` timed on the driver over
    the same (tile, scene) groups the UDF sees, so kernel time can be
    set against the stage's Python-worker time."""
    pixels = args[0]
    s = args[1] if len(args) > 1 else kwargs.get("s") or raster.ShorelineSettings()
    quality = kwargs.get("quality")
    if quality is None:
        quality = raster.scene_quality(pixels, s)
    qc = quality.agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k")).first()
    keep = quality.filter(F.col("keep")).select("tile", "scene_month")
    groups = raster.with_halo(pixels.join(keep, ["tile", "scene_month"], "left_semi"), grid_log2=s.grid_log2)
    pdf = groups.toPandas().sort_values(["tile", "scene_month"], kind="stable")
    t0 = time.perf_counter()
    for _, g in pdf.groupby(["tile", "scene_month"], sort=False):
        raster.scene_extract_pdf(g.reset_index(drop=True), s, None)
    return {"kernel_s": time.perf_counter() - t0, "scenes": int(qc["n"]), "kept_scenes": int(qc["k"] or 0)}


def transect_probe(args, kwargs, out) -> dict:
    return {"points": args[0].count()}


def band_keys_probe(args, kwargs, out) -> dict:
    return {"band_rows": int(out.agg(F.sum(F.size("bkeys"))).first()[0] or 0)}


def assign_probe(args, kwargs, out) -> dict:
    n = out.where(F.col("doc_id") == F.col("canonical_id")).count()
    return {"canonical": n}
