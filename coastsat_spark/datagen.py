"""Deterministic synthetic Common-Crawl-style webpages table.

Produces the input table mandated by BASELINE.json input_hint —
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— standing in for the reference's satellite-scene inputs. Every byte is a
pure function of (row index, SEED): generation is identical no matter how
rows are partitioned across executors, so the same table can be produced
by Spark (``mapInPandas`` over ``spark.range``) and by the NumPy oracle in
tests, and the per-row invariant "byte-identical extracted ``text`` per
``url``" is checkable exactly.

Spatial semantics (mirrors the reference's coastal scenes):
- a synthetic "coast" curve ``lat = COAST_AMP * sin(2*pi*lon/COAST_WAVELEN)``;
- documents carry a geotag ``<meta name="geo" ...>`` embedded in html,
  Zipf-skewed toward a few coastal-dense clusters (exercises salting /
  AQE skew handling, SURVEY.md §4.2);
- a document is "water-side" when its lat is below the coast curve; the
  rasterizer aggregates per-pixel band values whose normalized-difference
  index separates water(-0.58-ish) from land(+0.29-ish), the analog of
  MNDWI in the reference (``SDS_tools.py:167-203``).

Near-duplicate structure: ~20% of docs are mutated copies of one of 200
template docs (0-3 word substitutions) so exact/MinHash/SimHash dedup
operators have real positives to find.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd

from .hashing import hash_stream, normal, uniform01

SEED = 42

# streams
_S_SITE = 1
_S_TS = 2
_S_CLUSTER = 3
_S_LON_OFF = 4  # uses 2 streams via normal()
_S_LAT_OFF = 5
_S_LANG = 6
_S_NWORDS = 7
_S_DUPMODE = 8
_S_TEMPLATE = 9
_S_NMUT = 10
_S_WORD = 11  # base for per-word hashing
_S_MUT = 12
_S_MARKER = 13

N_SITES = 1000
N_CLUSTERS = 12
ZIPF_POWER = 2.5
CLUSTER_SIGMA_DEG = 1.5
COAST_AMP = 8.0
COAST_WAVELEN = 90.0
LON_MIN, LON_MAX = -44.0, 44.0
TS_START_S = 1577836800  # 2020-01-01T00:00:00Z
TS_SPAN_S = 4 * 365 * 24 * 3600

N_TEMPLATES = 200
_TEMPLATE_BASE = 1 << 40  # index space for template "docs"
DUP_FRAC = 0.20

LANGS = ["en", "es", "fr", "de", "pt", "it", "nl"]
_LANG_CUM = np.cumsum([0.50, 0.15, 0.10, 0.10, 0.05, 0.05, 0.05])

_VOCAB = (
    "tide sand shore wave beach cliff dune reef surf foam salt kelp gull "
    "rock pier cove bay inlet delta marsh storm swell drift crest trough "
    "ebb flow spit berm lagoon shoal strand coast water ocean sea harbor "
    "current channel sediment erosion deposit profile survey transect image "
    "pixel band index threshold contour point line polygon grid cell tile "
    "north south east west morning evening winter"
).split()
assert len(_VOCAB) == 64

_MARKERS = {
    "en": "the and with from they have this that".split(),
    "es": "los las con por para pero este esta".split(),
    "fr": "les des une dans pour avec cette sont".split(),
    "de": "der die das und mit von nicht sind".split(),
    "pt": "uma com nao por mais como dos das".split(),
    "it": "che per una con del non sono alla".split(),
    "nl": "het een van voor met niet zijn maar".split(),
}


def coast_lat(lon: np.ndarray) -> np.ndarray:
    """The synthetic coastline: lat as a function of lon."""
    return COAST_AMP * np.sin(2.0 * np.pi * np.asarray(lon, dtype=np.float64) / COAST_WAVELEN)


def doc_latlon(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (lat, lon) per row index: Zipf-skewed coastal clusters."""
    u = uniform01(idx, _S_CLUSTER, SEED)
    cluster = np.minimum((u**ZIPF_POWER * N_CLUSTERS).astype(np.int64), N_CLUSTERS - 1)
    clon = LON_MIN + cluster * (LON_MAX - LON_MIN) / (N_CLUSTERS - 1)
    clat = coast_lat(clon)
    lon = clon + normal(idx, _S_LON_OFF, SEED) * CLUSTER_SIGMA_DEG
    lat = clat + normal(idx, _S_LAT_OFF, SEED) * CLUSTER_SIGMA_DEG
    lon = np.clip(lon, -179.9, 179.9)
    lat = np.clip(lat, -84.9, 84.9)
    # quantize to 1e-6 deg so the html geotag text round-trips exactly
    return np.round(lat, 6), np.round(lon, 6)


def doc_lang(idx: np.ndarray) -> np.ndarray:
    u = uniform01(idx, _S_LANG, SEED)
    li = np.searchsorted(_LANG_CUM, u, side="right")
    li = np.minimum(li, len(LANGS) - 1)
    return np.array(LANGS, dtype=object)[li]


def doc_ts_seconds(idx: np.ndarray) -> np.ndarray:
    u = uniform01(idx, _S_TS, SEED)
    return TS_START_S + (u * TS_SPAN_S).astype(np.int64)


def _word_indices(eff_idx: np.ndarray, n_words: np.ndarray, lang_idx: np.ndarray):
    """Flat word-index generation for a batch: per word j of doc d,
    vocab word = hash(eff_idx*4096 + j). ~30% of positions draw a
    language marker word instead (signal for the language-ID operator).
    Returns (doc_of_word, flat word strings as object array)."""
    reps = n_words.astype(np.int64)
    doc_of_word = np.repeat(np.arange(len(eff_idx), dtype=np.int64), reps)
    # position within doc
    pos = np.arange(reps.sum(), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(reps)[:-1])), reps
    )
    key = eff_idx[doc_of_word] * 4096 + pos
    h = hash_stream(key, _S_WORD, SEED)
    is_marker = uniform01(key, _S_MARKER, SEED) < 0.30
    vocab_ix = (h % np.uint64(64)).astype(np.int64)
    marker_ix = (h % np.uint64(8)).astype(np.int64)
    words = np.array(_VOCAB, dtype=object)[vocab_ix]
    # marker words depend on the *actual* doc's lang (so near-dups of a
    # template keep their own language signal is NOT wanted -- language is
    # a property of the text; use the effective doc's lang stream instead)
    lang_of_word = lang_idx[doc_of_word]
    marker_table = np.array([_MARKERS[lang] for lang in LANGS], dtype=object)
    words = np.where(is_marker, marker_table[lang_of_word, marker_ix], words)
    return doc_of_word, pos, words


def doc_texts(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic text per row index. Returns (text object array, lang)."""
    idx = np.asarray(idx, dtype=np.uint64)
    n = len(idx)
    lang = doc_lang(idx)
    lang_pos = {l: i for i, l in enumerate(LANGS)}
    lang_idx = np.array([lang_pos[l] for l in lang], dtype=np.int64)

    is_dup = uniform01(idx, _S_DUPMODE, SEED) < DUP_FRAC
    template = (hash_stream(idx, _S_TEMPLATE, SEED) % np.uint64(N_TEMPLATES)).astype(np.int64)
    eff_idx = np.where(is_dup, np.uint64(_TEMPLATE_BASE) + template.astype(np.uint64), idx)

    n_words = 10 + (hash_stream(eff_idx, _S_NWORDS, SEED) % np.uint64(50)).astype(np.int64)
    doc_of_word, pos, words = _word_indices(eff_idx, n_words, lang_idx)

    # mutations for near-dups: k in 0..3 word substitutions at hashed positions
    n_mut = (hash_stream(idx, _S_NMUT, SEED) % np.uint64(4)).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(n_words)[:-1]))
    for m in range(3):
        sel = is_dup & (n_mut > m)
        if not sel.any():
            continue
        d = np.flatnonzero(sel)
        mpos = (
            hash_stream(idx[d] * np.uint64(7) + np.uint64(m), _S_MUT, SEED)
            % n_words[d].astype(np.uint64)
        ).astype(np.int64)
        repl_ix = (
            hash_stream(idx[d] * np.uint64(11) + np.uint64(m), _S_MUT, SEED) % np.uint64(64)
        ).astype(np.int64)
        words[starts[d] + mpos] = np.array(_VOCAB, dtype=object)[repl_ix]

    texts = np.empty(n, dtype=object)
    joined = pd.Series(words).groupby(doc_of_word).agg(" ".join)
    texts[joined.index.to_numpy()] = joined.to_numpy()
    return texts, lang


def gen_batch(idx: np.ndarray) -> pd.DataFrame:
    """Generate one batch of webpages rows for the given row indices."""
    idx = np.asarray(idx, dtype=np.uint64)
    lat, lon = doc_latlon(idx)
    ts_s = doc_ts_seconds(idx)
    texts, lang = doc_texts(idx)
    site = (hash_stream(idx, _S_SITE, SEED) % np.uint64(N_SITES)).astype(np.int64)

    ts = pd.to_datetime(ts_s, unit="s").astype("datetime64[us]")
    iso = pd.Series(ts).dt.strftime("%Y-%m-%dT%H:%M:%SZ").to_numpy()
    urls = np.array(
        [f"https://site{s}.example/{lg}/page/{int(i)}" for s, lg, i in zip(site, lang, idx)],
        dtype=object,
    )
    htmls = np.array(
        [
            (
                f'<html><head><meta name="geo" content="{la:.6f};{lo:.6f}"/>'
                f'<meta name="warc-ts" content="{t}"/>'
                f"<title>site{s}</title></head>"
                f"<body><article>{tx}</article></body></html>"
            ).encode("utf-8")
            for la, lo, t, s, tx in zip(lat, lon, iso, site, texts)
        ],
        dtype=object,
    )
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": lang,
            # internal truth columns (dropped before writing the public table)
            "_lat": lat,
            "_lon": lon,
        }
    )


SF_ROWS = {0.001: 6_000, 0.01: 60_000, 0.1: 600_000}

WEBPAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def webpages_df(spark, n_rows: int, with_truth: bool = False):
    """Distributed deterministic generation: spark.range -> mapInPandas.

    Partition-count independent: every value is a pure function of `id`.
    """
    cols = WEBPAGES_SCHEMA + (", _lat double, _lon double" if with_truth else "")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = gen_batch(pdf["id"].to_numpy())
            if not with_truth:
                out = out.drop(columns=["_lat", "_lon"])
            yield out

    # cap rises with row count: a 256-part cap at 96M rows means 375k-row
    # generator tasks whose peak pandas footprint (x32 concurrent workers)
    # can crash a Python worker under co-tenant memory pressure; ~90k-row
    # tasks keep the per-worker peak bounded at any sf
    parts = max(8, min(1024, n_rows // 8_000 or 1))
    return spark.range(0, n_rows, numPartitions=parts).mapInPandas(gen, schema=cols)


TIDE_COMPONENTS = [  # (amplitude, period seconds) — M2/S2/O1-like
    (0.50, 12.4206 * 3600.0),
    (0.20, 12.0000 * 3600.0),
    (0.10, 25.8193 * 3600.0),
]


def tide_value_sql(ts_expr: str) -> str:
    """Tide level at a timestamp, as portable SQL (Spark + DuckDB).

    Harmonic synthesis — the engine's stand-in for the reference's pyfes
    evaluation (SDS_slope.py:33-53); deterministic and SQL-expressible so
    the as-of tide join has a DuckDB oracle.
    """
    terms = [
        f"{a} * sin(2 * pi() * (epoch({ts_expr}))::double / {p})" for a, p in TIDE_COMPONENTS
    ]
    return " + ".join(terms)


def tides_df(spark, start_s: int = TS_START_S, span_s: int = TS_SPAN_S, step_s: int = 900):
    """15-min tide series (NARRA_tides.csv analog, examples/NARRA_tides.csv:1-5)."""
    from pyspark.sql import functions as F

    n = span_s // step_s
    t = F.timestamp_seconds(F.lit(start_s) + F.col("id") * F.lit(step_s))
    tide = sum(
        F.lit(a) * F.sin(F.lit(2.0 * np.pi) * (F.col("id") * F.lit(float(step_s)) + F.lit(float(start_s))) / F.lit(p))
        for a, p in TIDE_COMPONENTS
    )
    return spark.range(0, n).select(t.alias("ts"), tide.alias("tide"))


# generated tables and checkpoints live beside the package, in the
# checkout it is imported from
DATA_DIR = str(Path(__file__).resolve().parents[1] / "data")


def webpages_path(sf: float, base_dir: str = DATA_DIR) -> str:
    # one canonical dir per scale: 16 and 16.0 must resolve identically,
    # or a float-parsed CLI arg silently regenerates a 20 GB table into
    # "webpages_sf16.0" beside the existing "webpages_sf16" (this
    # happened — the duplicate datagen is also what crashed the first
    # sf16 skew-study run)
    sf_txt = int(sf) if float(sf) == int(sf) else sf
    return os.path.join(base_dir, f"webpages_sf{sf_txt}")


def ensure_webpages(spark, sf: float, base_dir: str = DATA_DIR) -> str:
    """Materialize the webpages table at `sf` as parquet (idempotent).

    Layout mirrors the Iceberg design: partitioned by `warc_month`
    (hidden-partitioning analog of `days(warc_ts)` at this data volume) so
    temporal predicates prune files (SURVEY.md §4.1 partition pruning).
    """
    path = webpages_path(sf, base_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from pyspark.sql import functions as F

        n = SF_ROWS.get(sf) or int(6_000_000 * sf)
        df = webpages_df(spark, n).withColumn(
            "warc_month", F.date_format("warc_ts", "yyyy-MM")
        )
        # One write task per month, NOT cores-per-month: the generator's
        # 32 producer partitions each hold every month, so a naive write
        # emits 32 x 120 ~40 KB files — per-file open/footer/listing
        # overhead then dominates every downstream scan (measured: 11 s
        # first-touch listing of 3984 files for a 162 MB table). The
        # repartition-by-key shuffle packs each month into one file —
        # the small-sf analog of targeting 128 MB-1 GB files at 100 TB
        # (where the same rule sizes N_files = bytes/target per month).
        df.repartition(F.col("warc_month")).write.mode("overwrite").partitionBy(
            "warc_month"
        ).parquet(path)
    return path
