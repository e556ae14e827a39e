"""Deduplication operators for web-scale corpora (training-data pipeline).

These are additions beyond the reference's own surface (the driver brief
makes them first-class): exact, char-n-gram Jaccard, MinHash+LSH and
SimHash near-dup detection over a `documents(doc_id, text, ...)` table.

Scale design:
- exact dedup: one hash aggregate on the text digest (never shuffles the
  full text — group on sha2(text));
- n-gram Jaccard: explode distinct shingles -> self equi-join on shingle
  -> count agg. The shingle join is the classic inverted-index pattern;
  hot shingles are capped (document frequency cut) to bound skew, the
  same defense Common-Crawl dedup pipelines use;
- MinHash: K hash functions evaluated vectorized over flat Arrow
  buffers in one mapInArrow pass (`_map_token_hashes`), banded into B
  buckets -> equi-join on (band, signature slice) so only
  bucket-colliding pairs are compared (LSH);
- SimHash: 64-bit fingerprint, near-dups = identical fingerprints per
  band table (hamming<=k via k-of-B band equality).

Every pair output is canonicalized doc_a < doc_b.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..hashing import splitmix64
from ..kernels import arrow_list_flat

# ------------------------------------------------------------ exact dedup

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: digest-groupBy, keep the smallest id as the
    canonical representative. Returns (doc_id, canonical_id, group_size).
    """
    d = docs.select(id_col, F.sha2(F.col(text_col), 256).alias("_digest"))
    g = d.groupBy("_digest").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        d.join(g, "_digest")
        .select(id_col, "canonical_id", "group_size")
    )


# ----------------------------------------------------- char-n-gram Jaccard

def char_shingles(docs: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct character n-grams per doc, as a pure SQL expression
    (sequence + transform + explode) — DuckDB-oracle-expressible."""
    return docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
                    f"i -> substring({text_col}, i, {n}))"
                )
            )
        ).alias("shingle"),
    ).filter(F.length("shingle") == n)


def jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by exact character-n-gram Jaccard >= threshold.

    Inverted-index self-join; `max_doc_freq` drops shingles appearing in
    more than that many docs (stop-shingles) — the standard skew guard;
    exactness note: dropping universal shingles can only *lower* measured
    similarity, so with max_doc_freq=None results are exact.
    """
    sh = char_shingles(docs, n, text_col, id_col).cache()
    if max_doc_freq is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_doc_freq)
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


# ------------------------------------------------------------ MinHash LSH

# JVM-side tokenizer for dedup fingerprints: lower() then alnum runs. This
# is the xxhash64-token analog of functions.text.tokenize + isalnum filter
# (identical token streams on ASCII text; single non-ASCII alnum symbols
# are dropped here — the corpus is ASCII by construction, datagen._VOCAB).
# Keeping tokenize + hash in the JVM means the *text column never crosses
# the Arrow boundary*: Python only ever sees int64 token-hash arrays.
_TOKEN_HASH_EXPR = (
    "transform(regexp_extract_all(lower({col}), '[a-z]+|[0-9]+', 0), t -> xxhash64(t))"
)


def token_hashes_col(text_col: str) -> "F.Column":
    """array<long> of per-token xxhash64 values, computed entirely JVM-side."""
    return F.expr(_TOKEN_HASH_EXPR.format(col=text_col))


def np_minhash_from_flat(
    flat: np.ndarray, lens: np.ndarray, k: int, shingle_words: int = 3, seed: int = 42
) -> np.ndarray:
    """(n_docs, k) uint64 MinHash signatures from the FLAT token-hash
    stream of a batch plus per-doc lengths (the Arrow list layout, see
    kernels.arrow_list_flat — zero per-row object churn).

    Short docs (fewer than `shingle_words` tokens) are padded to one full
    window by repeating their last token, as a vectorized gather. Per-doc
    np.unique is skipped on purpose: min over a multiset equals min over
    its set, so duplicate shingles cannot change a MinHash slot. Docs
    with zero tokens keep the all-max sentinel row — callers drop them
    (minhash_signatures does) so token-less docs never collide.
    """
    w = shingle_words
    lens = np.asarray(lens, dtype=np.int64)
    flat = np.asarray(flat, dtype=np.int64)
    if not len(flat):
        return np.full((len(lens), k), np.iinfo(np.uint64).max, dtype=np.uint64)
    short = (lens > 0) & (lens < w)
    if short.any():
        out_len = np.where(short, w, lens)
        starts_src = np.concatenate(([0], np.cumsum(lens)[:-1]))
        pos = np.arange(out_len.sum(), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(out_len)[:-1])), out_len
        )
        src = np.repeat(starts_src, out_len) + np.minimum(
            pos, np.repeat(np.maximum(lens - 1, 0), out_len)
        )
        flat = flat[src]
        lens = out_len
    return _np_minhash_core(flat, lens, k, w, seed)


def _np_minhash_core(
    flat: np.ndarray, lens: np.ndarray, k: int, w: int, seed: int
) -> np.ndarray:
    """Digest + blocked-slot core of `np_minhash_from_flat`. `flat`
    holds the padded per-doc token hashes back to back; `lens` the
    padded lengths (0 = token-less doc, keeps the all-max sentinel)."""
    rng_idx = np.arange(k, dtype=np.uint64)
    # per-slot hash = a_i * digest + b_i mod 2^64 (a_i odd -> bijection):
    # the multiply-shift 2-universal family, the same class Spark MLlib's
    # MinHashLSH uses ((a*x+b) mod prime). Digests are already
    # splitmix64-avalanched, so one multiply-add per slot suffices —
    # measured 3.3x faster than a per-slot splitmix64 pass with
    # indistinguishable Jaccard-estimator quality (bias -0.003 vs -0.005,
    # rmse 0.059 both, 300 planted trials at k=64). The slot loop is ~99%
    # of the UDF's arithmetic, so this is the map stage's hot path.
    slot_a = splitmix64(rng_idx + np.uint64(seed * 1000 + 1)) | np.uint64(1)
    slot_b = splitmix64(rng_idx + np.uint64(seed * 1000 + 7919))
    n = len(lens)
    out = np.full((n, k), np.iinfo(np.uint64).max, dtype=np.uint64)
    th = flat.view(np.uint64)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), lens)
    mix = splitmix64(np.arange(w, dtype=np.uint64) + np.uint64(seed * 77 + 5))
    with np.errstate(over="ignore"):
        dig_flat = sum(th[i : len(th) - w + 1 + i] * mix[i] for i in range(w))
    same_doc = doc_of[: len(th) - w + 1] == doc_of[w - 1 :]
    digests = splitmix64(dig_flat[same_doc])
    counts = np.maximum(lens - (w - 1), 0)
    nonempty = np.flatnonzero(counts)
    starts = np.concatenate(([0], np.cumsum(counts[nonempty])[:-1]))
    ends = starts + counts[nonempty]
    # Blocked slot loop: the k hash+min passes run over doc-aligned
    # digest CHUNKS small enough to stay cache-resident. A straight
    # per-slot pass over the whole batch streams the full digest array
    # from DRAM k times — fine for one worker, but 16+ concurrent
    # workers saturate memory bandwidth and kill multi-core scaling
    # (measured: 2.4x instead of 3.7x going 4->16 threads). Chunking
    # turns that into ONE DRAM pass + k cache passes per chunk.
    chunk_target = 1 << 16  # uint64s, ~512 KB per worker
    d0 = 0
    while d0 < len(nonempty):
        d1 = d0
        while d1 < len(nonempty) and ends[d1] - starts[d0] < chunk_target:
            d1 += 1
        d1 = max(d1, d0 + 1)
        dchunk = digests[starts[d0] : ends[d1 - 1]]
        local_starts = starts[d0:d1] - starts[d0]
        docs_sel = nonempty[d0:d1]
        with np.errstate(over="ignore"):
            for i in range(k):
                hv = dchunk * slot_a[i] + slot_b[i]
                out[docs_sel, i] = np.minimum.reduceat(hv, local_starts)
        d0 = d1
    return out


def _map_token_hashes(docs: DataFrame, kernel, out: str, text_col: str, id_col: str) -> DataFrame:
    """One `mapInArrow` over (id, JVM token-hash list): the text column
    never crosses the Arrow boundary, and the list column is read once
    as flat buffers (kernels.arrow_list_flat). `kernel(flat, lens)`
    returns (keep, values): a per-row bool mask (None keeps every row)
    and the Arrow output column for the kept rows. `out` is the output
    column's DDL ("name type"); the id type comes from `docs.dtypes`.

    As a DataFrame transform (not an expression UDF) it is immune to
    InferFiltersFromGenerate, which plans an expression UDF as TWO
    ArrowEvalPython nodes under any downstream explode. Token-less docs
    are dropped in the kernel because a `size(_th) > 0` pre-filter
    would run the whole tokenize a second time."""
    id_type = dict(docs.dtypes).get(id_col, "bigint")
    out_name = out.split()[0]

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            keep, values = kernel(*arrow_list_flat(batch.column(1)))
            ids = batch.column(0) if keep is None else batch.column(0).filter(pa.array(keep))
            yield pa.RecordBatch.from_arrays([ids, values], names=[id_col, out_name])

    return docs.select(F.col(id_col), token_hashes_col(text_col).alias("_th")).mapInArrow(
        batches, f"{id_col} {id_type}, {out}"
    )


def _list_array(rows: np.ndarray, row_lens: np.ndarray) -> "pa.ListArray":
    """array<long> Arrow column from back-to-back int64 values."""
    offs = np.zeros(len(row_lens) + 1, dtype=np.int32)
    np.cumsum(row_lens, out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(rows, type=pa.int64()))


def minhash_signatures(
    docs: DataFrame, k: int = 128, shingle_words: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per doc with >=1 alnum token: (doc_id, sig array<long>).

    Tokenize + token-hash run in the JVM (regexp_extract_all + xxhash64);
    the kernel sees flat int64 buffers only. Token-less and NULL-text
    docs are dropped (they carry no dedup signal and a shared sentinel
    signature would merge them all).
    """

    def kernel(flat, lens):
        has = lens > 0
        sig = np_minhash_from_flat(flat, lens, k, shingle_words)[has]
        return has, _list_array(sig.astype(np.int64).ravel(), np.full(len(sig), k))

    return _map_token_hashes(docs, kernel, "sig array<long>", text_col, id_col)


def _band_buckets(signatures: DataFrame, k: int, bands: int, id_col: str) -> DataFrame:
    """(id, band, bkey) rows: one LSH bucket key per band.

    bkey = xxhash64 over the band's signature slots *as longs* — plain
    codegen-able expressions (element_at + xxhash64), deliberately NOT a
    higher-order `transform` lambda (interpreted, no codegen) and NOT a
    string concat (pointless bytes). Profiled 24.7s -> ~3s at sf0.1.

    The caller-supplied `k` MUST match the signature length: element_at
    past the end returns null silently (non-ANSI), which would make every
    out-of-range band hash identically across all docs — an all-pairs
    candidate explosion. assert_true fails the job loudly instead (one
    int compare per row; returns NULL when it passes, so the filter keeps
    every valid row while forcing evaluation).
    """
    r = k // bands
    guard = F.assert_true(
        F.size("sig") == F.lit(k),
        F.lit(f"signature length != k={k}: pass the k the signatures were built with"),
    )
    signatures = signatures.filter(guard.isNull())
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("sig", b * r + i + 1) for i in range(r)]).alias("bkey"),
        )
        for b in range(bands)
    ]
    return signatures.select(F.col(id_col), F.explode(F.array(*entries)).alias("bk")).select(
        id_col, "bk.band", "bk.bkey"
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 32, id_col: str = "doc_id", k: int = 128
) -> DataFrame:
    """LSH banding: docs sharing any band slice become candidate pairs.

    Explode signatures into (band, slice-hash) keys, equi-join on the key.
    Returns distinct (id_a < id_b) candidates.
    """
    banded = _band_buckets(signatures, k, bands, id_col)
    a = banded.toDF("id_a", "band", "bkey")
    b = banded.toDF("id_b", "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures -> banded candidates ->
    signature-estimated Jaccard >= threshold.

    Estimated Jaccard = fraction of equal signature slots (unbiased).
    """
    sigs = minhash_signatures(docs, k, text_col=text_col, id_col=id_col).cache()
    cand = lsh_candidate_pairs(sigs, bands, id_col=id_col, k=k)
    sa = sigs.toDF("id_a", "sig_a")
    sb = sigs.toDF("id_b", "sig_b")
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / size(sig_a)"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_band_keys(
    docs: DataFrame,
    k: int = 128,
    bands: int = 32,
    shingle_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bkeys array<long>): LSH band keys computed INSIDE the
    MinHash UDF (numpy splitmix64 fold over each band's slots) — the
    assignment path never materializes the k-slot signatures, cutting the
    Arrow return k/bands-fold and skipping the JVM banding pass.

    Shape: ONE `mapInArrow` over (id, token-hash array) via
    `_map_token_hashes` (a pandas UDF spends seconds per batch just
    materializing 10k numpy objects on each side of the boundary).
    Token-less and NULL-text docs get an EMPTY key array (no dedup
    signal; the downstream explode drops them)."""
    r = k // bands
    salts = splitmix64(np.arange(bands, dtype=np.uint64) + np.uint64(0xB00B5))

    def kernel(flat, lens):
        sig = np_minhash_from_flat(flat, lens, k, shingle_words)  # (n, k) uint64
        n = len(lens)
        keys = np.empty((n, bands), dtype=np.uint64)
        for b in range(bands):
            acc = np.full(n, salts[b], dtype=np.uint64)
            for i in range(r):
                acc = splitmix64(acc ^ sig[:, b * r + i])
            keys[:, b] = acc
        has = lens > 0
        return None, _list_array(keys[has].astype(np.int64).ravel(), has * bands)

    return _map_token_hashes(docs, kernel, "bkeys array<long>", text_col, id_col)


def _star_edges(raw: DataFrame, id_col: str) -> DataFrame:
    """(a, b) star edges per LSH bucket: every member points at its
    bucket's min id; singleton buckets (the vast majority) drop before
    any further work.

    Precondition: `raw` (id, bkey) is already hash-partitioned by bkey
    into the session's shuffle-partition count AND persisted, as
    `minhash_dedup_assign` builds it. It is consumed twice — a hash
    aggregate building the dup-bucket table (min id + count, n>1 only)
    and a shuffled-hash join probing it (hinted; zero additional
    exchange because both sides carry the same hashpartitioning(bkey,
    P)). ReusedExchange does NOT fire for these two structurally
    identical branches in Spark 4.1 (measured: both exchanges
    materialized), so the persist is what makes the single full
    exchange and the upstream tokenize+MinHash run once.

    Why not the r5 entire-partition window: WindowExec pays per-GROUP
    buffer/iterator overhead, and LSH bucket keys are mostly unique —
    the r5 stage decomposition (BENCH/minhash_decomp_N16.json, sf4)
    shows the window stage at 20.8 us/row of pure CPU (192M rows ->
    4,000 s CPU, 254 s wall of a 396 s job, cpu/run 0.97), ~30x the
    cost of hash-aggregating the same rows. The extra shuffle READ this
    shape adds (the exchange is fetched twice) is local-disk/NIC
    streaming of 16-byte rows — orders of magnitude cheaper than the
    window's per-group CPU at any scale.

    Why not aggregate + plain join (the r3 shape): AQE's broadcast
    decision is a runtime size estimate, and when it declined (dup
    table past threshold at sf1) the join re-exchanged the full bucket
    table. The explicit repartition + co-partitioned SHJ makes the
    single full exchange deterministic, independent of size estimates.

    Still all-JVM: an earlier A/B against a repartition +
    sortWithinPartitions + mapInPandas formulation showed the Python
    pass scaling NEGATIVELY with cores (Arrow round-trip of the full
    bucket table contends for memory bandwidth).
    """
    dup = (
        raw.groupBy("bkey")
        .agg(F.min(id_col).alias("b"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("bkey", "b")
    )
    return (
        raw.join(dup.hint("shuffle_hash"), "bkey")
        .filter(F.col(id_col) != F.col("b"))
        .select(F.col(id_col).alias("a"), "b")
        .distinct()
    )


def _driver_connected_components(edges_pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Min-label propagation with pointer jumping on a collected edge
    list (numpy, O(log diameter) vector passes).

    The adjacency is presorted ONCE so each round is gather + reduceat +
    scatter — np.minimum.at (unbuffered ufunc) is ~100x slower and made
    this take 12s on a 2M-edge graph; this form takes ~50ms/round."""
    import numpy as np

    if len(edges_pdf) == 0:  # no dup buckets at all -> empty mapping
        return pd.DataFrame({"__node": pd.Series([], dtype="int64"),
                             "__root": pd.Series([], dtype="int64")})
    a = edges_pdf["a"].to_numpy()
    b = edges_pdf["b"].to_numpy()
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    src = np.concatenate([ai, bi])
    dst = np.concatenate([bi, ai])
    order = np.argsort(src, kind="stable")
    src_s, dst_s = src[order], dst[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(src_s)) + 1))
    have = src_s[starts]  # node index owning each adjacency group
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lab
        neigh_min = np.minimum.reduceat(lab[dst_s], starts)
        lab = lab.copy()
        lab[have] = np.minimum(lab[have], neigh_min)
        while True:  # full path compression: fewer outer (gather-heavy) rounds
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, prev):
            break
    return pd.DataFrame({"__node": nodes, "__root": nodes[lab]})


def minhash_dedup_assign(
    docs: DataFrame,
    k: int = 128,
    bands: int = 32,
    max_iters: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    driver_cc_max_edges: int = 5_000_000,
) -> DataFrame:
    """Scale path for MinHash dedup: canonical-id ASSIGNMENT instead of
    pair enumeration.

    Near-dup clusters make the pair set quadratic in cluster size (a
    600-doc template cluster is ~180k pairs); the assignment output is
    linear. Shape (one pass + tiny iterations):

    1. band keys straight from the UDF (no signature materialization);
    2. star edges (member -> bucket-min) from one aggregate + one join
       over the exploded bucket table; singleton buckets (the vast
       majority) drop before the join;
    3. connected components over the compressed edge list (|edges| ~
       |dup docs|, orders of magnitude smaller than the bucket table):
       driver-side numpy pointer jumping below `driver_cc_max_edges`,
       distributed min-label propagation with pointer jumping above it,
       which raises RuntimeError if labels still change after
       `max_iters` rounds.

    Returns (doc_id, canonical_id) where canonical_id is the smallest
    doc id reachable through shared LSH buckets.
    """
    # persist the REPARTITIONED bucket table (16 bytes/row, hash-
    # partitioned by bkey): _star_edges consumes it twice (aggregate
    # build + join probe), and Spark 4.1 does NOT reuse the two
    # structurally identical exchanges (measured: both materialized), so
    # the cache is what makes the tokenize+MinHash UDF AND the bucket
    # exchange single-run. Persist the edge list itself (tiny: ~|dup
    # docs| rows) so count + collect don't recompute. Both are
    # unpersisted before returning — no checkpoint blocks leak into the
    # session, which measurably degrades later queries (blocks pin
    # storage memory until a driver GC lets ContextCleaner reap them).
    spark = docs.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bkeys = minhash_band_keys(docs, k, bands, text_col=text_col, id_col=id_col)
    raw = (
        bkeys.select(F.col(id_col), F.explode("bkeys").alias("bkey"))
        .repartition(p, "bkey")
        .persist()
    )
    star = _star_edges(raw, id_col).persist()
    n_edges = star.count()

    if n_edges == 0:
        raw.unpersist()
        star.unpersist()
        # duplicate-free corpus: no bucket has two members, so every doc
        # is its own canonical — skip CC entirely (the numpy CC would
        # otherwise see an empty adjacency and the distributed loop an
        # empty node set; both are pure overhead here)
        return docs.select(
            F.col(id_col), F.col(id_col).alias("canonical_id")
        )
    if n_edges <= driver_cc_max_edges:
        # the dup-edge graph is a sliver of the corpus (typ. <1% of docs);
        # below the threshold, solve components on the driver (numpy
        # pointer jumping over ~16 bytes/edge) — the same small-side
        # trade a broadcast join makes. Above it, the distributed loop.
        cc = _driver_connected_components(star.toPandas())
        raw.unpersist()
        star.unpersist()
        # drop identity rows (root == node): coalesce() in the final join
        # yields the same answer and the broadcast build side shrinks
        cc = cc[cc["__root"] != cc["__node"]]
        labels = F.broadcast(
            docs.sparkSession.createDataFrame(cc).select(
                F.col("__node").alias(id_col), F.col("__root").alias("label")
            )
        )
    else:
        # distributed min-label propagation with pointer jumping over the
        # symmetrized edge list. Every round's label table is
        # localCheckpoint-ed (cascade-safe, tiny: |dup docs| rows;
        # checkpoints — not plain persists — because each round's
        # unreferenced predecessor would otherwise cascade-invalidate,
        # measured in r1 as an O(rounds^2) silent re-derivation).
        edges = star.union(
            star.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).localCheckpoint(eager=True)
        raw.unpersist()
        star.unpersist()
        nodes = edges.select(F.col("a").alias(id_col)).distinct()
        labels = nodes.withColumn("label", F.col(id_col)).localCheckpoint(eager=True)
        for _ in range(max_iters):
            msgs = edges.join(labels.toDF("b", "cand"), "b").select(
                F.col("a").alias(id_col), "cand"
            )
            hop = (
                labels.select(id_col, F.col("label").alias("cand"))
                .union(msgs)
                .groupBy(id_col)
                .agg(F.min("cand").alias("label"))
            )
            lbl2 = hop.select(F.col("label").alias("_l2"), F.col(id_col).alias("label"))
            merged = (
                hop.join(lbl2, "label", "left")
                .select(
                    id_col,
                    F.least(F.col("label"), F.coalesce("_l2", F.col("label"))).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                merged.join(labels.withColumnRenamed("label", "old"), id_col)
                .filter(F.col("label") != F.col("old"))
                .count()
            )
            labels = merged
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"minhash_dedup_assign: distributed connected components did not "
                f"converge in max_iters={max_iters} rounds"
            )
    # docs never seen in a duplicate bucket are their own canonical
    all_ids = docs.select(F.col(id_col))
    out = all_ids.join(labels, id_col, "left").select(
        id_col, F.coalesce(F.col("label"), F.col(id_col)).alias("canonical_id")
    )
    return out


# ---------------------------------------------------------------- SimHash

def np_simhash_hashes(flat: np.ndarray, lens: np.ndarray, seed: int = 42) -> np.ndarray:
    """64-bit SimHash per doc (sign-aggregated bit votes) from the flat
    token-hash stream of a batch plus per-doc lengths, vectorized across
    the batch: one (total x 64) bit matrix, per-doc vote sums via
    np.add.reduceat. Token-less docs get 0."""
    lens = np.asarray(lens, dtype=np.int64)
    out = np.zeros(len(lens), dtype=np.uint64)
    bitw = np.uint64(1) << np.arange(64, dtype=np.uint64)
    nonempty = np.flatnonzero(lens)
    if nonempty.size == 0:
        return out
    hs = splitmix64(np.asarray(flat, dtype=np.int64).view(np.uint64) + np.uint64(seed))
    bits = ((hs[:, None] & bitw[None, :]) != 0).astype(np.int32)
    starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
    votes = 2 * np.add.reduceat(bits, starts, axis=0) - lens[nonempty, None]
    out[nonempty] = ((votes > 0).astype(np.uint64) * bitw[None, :]).sum(axis=1, dtype=np.uint64)
    return out


def simhash_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) for docs with >=1 alnum token. Tokenize + hash are
    JVM-side (see `_map_token_hashes`); token-less docs are dropped so they
    cannot all collide at the zero fingerprint."""

    def kernel(flat, lens):
        has = lens > 0
        return has, pa.array(np_simhash_hashes(flat, lens)[has].astype(np.int64))

    return _map_token_hashes(docs, kernel, "simhash bigint", text_col, id_col)


def simhash_dup_pairs(
    docs: DataFrame, max_hamming: int = 3, n_bands: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 64 bits into n_bands blocks; any pair within
    max_hamming (< n_bands) must share at least one exact block -> equi-join
    per block, then exact hamming refine via bit_count(xor).
    """
    fp = simhash_fingerprints(docs, text_col, id_col).cache()
    width = 64 // n_bands
    mask = (1 << width) - 1
    banded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.block")
    a = banded.toDF("id_a", "sim_a", "band", "block")
    b = banded.toDF("id_b", "sim_b", "band", "block")
    return (
        a.join(b, ["band", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------- DuckDB mirrors
#
# Relational replicas of the xxhash64-dependent dedup chain so the driver
# can value-hash-check minhash_assign / neardup_pairs (and, via
# functions.text, fingerprints) against DuckDB — previously rows-only
# because DuckDB lacks xxhash64. hashing.xxh64_string_steps replays
# Spark's XXH64 (seed 42, UTF-8 bytes) bit-for-bit in SQL; everything
# above it (shingle digests, multiply-shift slots, band folds, star
# edges, connected components) is the same uint64 algebra the numpy
# kernels compute, expressed over HUGEINT split arithmetic.


def tokhash_cte_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """CTE text (no leading WITH) ending in ``tokh(doc_id, pos, th)``:
    per-token Spark-xxhash64 values (UBIGINT) in document order, exactly
    `token_hashes_col` — same '[a-z]+|[0-9]+' runs over lower(text). The
    string-hash mirror only covers ASCII tokens <32 bytes (the < one-
    stripe regime); a token outside that envelope hashes to NULL, which
    this CTE converts to a HARD error() so the oracle run fails loudly
    instead of silently dropping shingles downstream (sh3's
    t2-IS-NOT-NULL filter would otherwise swallow them and the value
    hash would diverge confusingly — or worse, coincidentally pass)."""
    from ..hashing import staged_sql, u64_to_i64_sql, xxh64_string_steps  # noqa: F401

    toks = f"""
      SELECT {id_col} AS doc_id,
             generate_subscripts(toks, 1) AS pos,
             unnest(toks) AS tok
      FROM (SELECT {id_col},
                   regexp_extract_all(lower({text_col}), '[a-z]+|[0-9]+') AS toks
            FROM {table} WHERE {text_col} IS NOT NULL)
    """
    hashed = staged_sql(toks, xxh64_string_steps("tok", "th", "x_"))
    return (
        "tokh AS (SELECT doc_id, pos, CASE WHEN th IS NULL THEN"
        " error('tokhash mirror: token >31 bytes or non-ASCII — SQL"
        " xxhash64 mirror cannot replay it') ELSE th END AS th"
        f" FROM ({hashed}))"
    )


def _minhash_sig_cte_sql(k: int, shingle_words: int, seed: int) -> str:
    """CTE text from ``tokh`` to ``sig(doc_id, slot, v)`` — the MinHash
    signature slots of np_minhash_from_flat: 3-token shingle digests
    (shifted-multiply fold + splitmix64, short docs padded (t0, last,
    last)), then per-slot multiply-shift minima. Slot/mix constants are
    generated by the same hashing.splitmix64 the kernel uses."""
    assert shingle_words == 3, "mirror is written for the default w=3"
    from ..hashing import (
        addmod64_sql,
        mulmod64_cols_sql,
        mulmod64_sql,
        splitmix64,
        splitmix64_steps,
        staged_sql,
        U64,
    )

    mix = splitmix64(np.arange(shingle_words, dtype=np.uint64) + np.uint64(seed * 77 + 5))
    rng_idx = np.arange(k, dtype=np.uint64)
    slot_a = splitmix64(rng_idx + np.uint64(seed * 1000 + 1)) | np.uint64(1)
    slot_b = splitmix64(rng_idx + np.uint64(seed * 1000 + 7919))
    slot_vals = ",".join(
        f"({i}, {int(a)}::UBIGINT, {int(b)}::UBIGINT)"
        for i, (a, b) in enumerate(zip(slot_a, slot_b))
    )
    draw = (
        f"CAST(({ '+'.join(f'CAST({mulmod64_sql(t, int(m))} AS HUGEINT)' for t, m in zip(('t0','t1','t2'), mix)) })"
        f" % {U64} AS UBIGINT)"
    )
    digested = staged_sql(
        f"SELECT doc_id, {draw} AS draw FROM shing",
        splitmix64_steps("draw", "dig", "sm_"),
    )
    return f"""
    sh3 AS (
      SELECT doc_id, th AS t0, lead(th) OVER w AS t1, lead(th, 2) OVER w AS t2
      FROM tokh WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    shpad AS (
      SELECT doc_id, first(th ORDER BY pos) AS t0,
             last(th ORDER BY pos) AS t1, last(th ORDER BY pos) AS t2
      FROM tokh GROUP BY doc_id HAVING count(*) < 3),
    shing AS (
      SELECT doc_id, t0, t1, t2 FROM sh3 WHERE t2 IS NOT NULL
      UNION ALL SELECT doc_id, t0, t1, t2 FROM shpad),
    digs AS (SELECT doc_id, dig FROM ({digested})),
    slots(slot, sa, sb) AS (SELECT * FROM (VALUES {slot_vals})),
    sig AS (
      SELECT doc_id, slot,
             min({addmod64_sql(mulmod64_cols_sql('dig', 'sa'), 'sb')}) AS v
      FROM digs CROSS JOIN slots GROUP BY 1, 2),
    sigb AS (
      SELECT doc_id, slot // 4 AS band,
             max(CASE WHEN slot % 4 = 0 THEN v END) AS s0,
             max(CASE WHEN slot % 4 = 1 THEN v END) AS s1,
             max(CASE WHEN slot % 4 = 2 THEN v END) AS s2,
             max(CASE WHEN slot % 4 = 3 THEN v END) AS s3
      FROM sig GROUP BY 1, 2)"""


def neardup_oracle_sql(
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.7,
    max_hamming: int = 3,
    seed: int = 42,
    table: str = "documents",
) -> str:
    """DuckDB mirror of q_neardup_pairs: MinHash-LSH pairs (banded
    xxhash64 bucket keys -> distinct candidates -> slot-agreement
    Jaccard >= threshold) UNION simhash pairs. The simhash side is
    computed as the all-pairs hamming filter, which equals the banded
    join + refine EXACTLY by pigeonhole: max_hamming=3 < 4 bands means
    every qualifying pair shares at least one exact 16-bit block, so
    banding changes the candidate set but never the refined result.
    est_jaccard = n/k is a dyadic rational (exact in doubles in both
    engines); round(x, 6) agrees because n*15625/2 is exactly
    representable and both engines round halves away from zero."""
    assert k // bands == 4, "band-key mirror is written for r = k/bands = 4"
    from ..hashing import (
        addmod64_sql,
        splitmix64_steps,
        staged_sql,
        xxh64_longs_chain_steps,
    )

    bkeyed = staged_sql(
        "SELECT doc_id, band, s0, s1, s2, s3 FROM sigb",
        xxh64_longs_chain_steps(["s0", "s1", "s2", "s3"], "bkey", "L"),
    )
    simhashed = staged_sql(
        f"SELECT doc_id, {addmod64_sql('th', seed)} AS thp FROM tokh",
        splitmix64_steps("thp", "hs", "sh_"),
    )
    return f"""
    WITH {tokhash_cte_sql(table)},
    {_minhash_sig_cte_sql(k, 3, seed)},
    bkeys AS (SELECT doc_id, band, bkey FROM ({bkeyed})),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bkeys a JOIN bkeys b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    mh AS (
      SELECT c.id_a, c.id_b,
             sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / CAST({k} AS DOUBLE) AS est
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.slot = sa.slot
      GROUP BY 1, 2),
    hsh AS (SELECT doc_id, hs FROM ({simhashed})),
    votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (hs >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hsh CROSS JOIN generate_series(0, 63) b(bit) GROUP BY 1, 2),
    sfp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0
                      THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
                      ELSE 0 END) AS UBIGINT) AS fp
      FROM votes GROUP BY 1),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.fp, b.fp)) AS hamming
      FROM sfp a JOIN sfp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming})
    SELECT 'minhash' AS method, id_a, id_b, round(est, 6) AS score
    FROM mh WHERE est >= {threshold!r}
    UNION ALL
    SELECT 'simhash' AS method, id_a, id_b, CAST(hamming AS DOUBLE) AS score
    FROM sh"""


def minhash_assign_oracle_sql(
    k: int = 128, bands: int = 32, seed: int = 42, table: str = "documents"
) -> str:
    """DuckDB mirror of q_minhash_assign (minhash_dedup_assign): salted
    splitmix64 band-key folds, star edges per bucket (bucket keyed by
    bkey VALUE across bands, exactly the _star_edges window), connected
    components as a recursive reachability closure, canonical = min id
    in component; docs outside every dup bucket map to themselves."""
    assert k // bands == 4
    from ..hashing import splitmix64, splitmix64_steps, staged_sql

    salts = splitmix64(np.arange(bands, dtype=np.uint64) + np.uint64(0xB00B5))
    salt_vals = ",".join(f"({b}, {int(s)}::UBIGINT)" for b, s in enumerate(salts))
    folded = staged_sql(
        "SELECT doc_id, sigb.band, s0, s1, s2, s3, salt FROM sigb JOIN salts ON salts.band = sigb.band",
        [("a0", "salt")]
        + splitmix64_steps("xor(a0, s0)", "a1", "f0_")
        + splitmix64_steps("xor(a1, s1)", "a2", "f1_")
        + splitmix64_steps("xor(a2, s2)", "a3", "f2_")
        + splitmix64_steps("xor(a3, s3)", "bkey", "f3_"),
    )
    return f"""
    WITH RECURSIVE {tokhash_cte_sql(table)},
    {_minhash_sig_cte_sql(k, 3, seed)},
    salts(band, salt) AS (SELECT * FROM (VALUES {salt_vals})),
    bkeys AS (SELECT doc_id, bkey FROM ({folded})),
    stars AS (
      SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY bkey) AS b,
             count(*) OVER (PARTITION BY bkey) AS n
      FROM bkeys),
    edges AS (SELECT DISTINCT a, b FROM stars WHERE n > 1 AND a <> b),
    esym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(n, m) AS (
      SELECT a, b FROM esym
      UNION
      SELECT r.n, e.b FROM reach r JOIN esym e ON e.a = r.m WHERE e.b <> r.n),
    comp AS (SELECT n AS doc_id, least(n, min(m)) AS canonical_id
             FROM reach GROUP BY 1)
    SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
    FROM {table} d LEFT JOIN comp c USING (doc_id)"""


# -------------------------------------- word-n-gram digests (shared core)

def ngram_digest_expr(th_col: str, n: int) -> "F.Column":
    """array<long> of length-`n` window digests over a token-hash column
    (`token_hashes_col` output): digest = ``xxhash64(th[i], ...,
    th[i+n-1])`` — Spark's multi-argument XxHash64 chain, so the DuckDB
    side can replay it bit-for-bit with `hashing.xxh64_longs_chain_steps`
    (`_ngram_cte_sql`). Docs with fewer than `n` tokens (or NULL text:
    size(NULL) = -1) yield an empty array. All JVM-side: the text column
    never leaves the scan stage, only 8-byte digests shuffle."""
    args = ", ".join(f"element_at({th_col}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({th_col}) >= {n} THEN "
        f"transform(sequence(1, size({th_col}) - {n - 1}), i -> xxhash64({args})) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )


def _ngram_cte_sql(n: int, name: str = "ng") -> str:
    """CTE text from ``tokh`` (see `tokhash_cte_sql`) to
    ``<name>(doc_id, pos0, digest)``: every length-`n` token window as
    (0-based start position, Spark-xxhash64 chain digest), the bit-exact
    mirror of `ngram_digest_expr` — lead() windows gather the n token
    hashes, `xxh64_longs_chain_steps` folds them exactly as Spark's
    multi-argument XxHash64 does. `name` lets one oracle chain several
    n values side by side (operators/selection.py unions n=1..N)."""
    from ..hashing import staged_sql, xxh64_longs_chain_steps

    lead_cols = [f"lead(th, {j}) OVER w AS t{j}" for j in range(1, n)]
    sel = ",\n             ".join(["th AS t0"] + lead_cols)
    inner = (
        f"SELECT doc_id, pos - 1 AS pos0, {sel}\n"
        "      FROM tokh WINDOW w AS (PARTITION BY doc_id ORDER BY pos)"
    )
    folded = staged_sql(
        f"SELECT * FROM ({inner}) WHERE t{n - 1} IS NOT NULL",
        xxh64_longs_chain_steps([f"t{j}" for j in range(n)], "digest", f"G{name}"),
    )
    return f"{name} AS (SELECT doc_id, pos0, digest FROM ({folded}))"


# --------------------------------------------- benchmark decontamination

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation set (the GPT-3 appendix-C / PaLM
    protocol: any n-gram collision with the eval set marks the document
    contaminated; `min_hits` raises the bar, `hit_frac` supports
    fraction-threshold policies). Returns one row per input document:
    (doc_id, n_ngrams, n_hit, hit_frac, contaminated).

    Scale shape: the benchmark side is evaluation sets — megabytes, not
    terabytes — so its distinct digest set is explicitly `broadcast()`;
    the 100 TB document side contributes only int64 window digests to
    the hash aggregate (map-side combined), and the text column never
    leaves the scan. No shuffle touches document text, and the only
    exchange is the per-doc count aggregate.
    """
    bench = (
        benchmark.select(token_hashes_col(bench_text_col).alias("_th"))
        .select(F.explode(ngram_digest_expr("_th", n)).alias("digest"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    g = (
        docs.select(F.col(id_col), token_hashes_col(text_col).alias("_th"))
        .select(id_col, F.explode_outer(ngram_digest_expr("_th", n)).alias("digest"))
    )
    hits = (
        g.join(F.broadcast(bench), "digest", "left")
        .groupBy(id_col)
        .agg(
            F.count("digest").alias("n_ngrams"),
            F.count("_hit").alias("n_hit"),
        )
    )
    return hits.select(
        id_col,
        "n_ngrams",
        "n_hit",
        F.when(F.col("n_ngrams") > 0, F.col("n_hit") / F.col("n_ngrams"))
        .otherwise(F.lit(0.0))
        .alias("hit_frac"),
        (F.col("n_hit") >= min_hits).alias("contaminated"),
    )


def decontaminate_oracle_sql(
    n: int = 8,
    min_hits: int = 1,
    table: str = "documents",
    bench_table: str = "benchmark",
) -> str:
    """DuckDB mirror of `decontaminate`: union docs (ids >= 0) with the
    benchmark rows (ids mapped to -1 - bench_id), one tokh + ng pass,
    then the same broadcast-set semantics as a LEFT JOIN on the digest.
    Bit-exact — both engines compute identical xxhash64 chain digests."""
    uni = (
        f"(SELECT doc_id, text FROM {table} "
        f"UNION ALL SELECT -1 - bench_id AS doc_id, text FROM {bench_table}) u"
    )
    return f"""
    WITH {tokhash_cte_sql(uni)},
    {_ngram_cte_sql(n)},
    bset AS (SELECT DISTINCT digest FROM ng WHERE doc_id < 0),
    dng AS (SELECT doc_id, digest FROM ng WHERE doc_id >= 0),
    hits AS (
      SELECT d.doc_id,
             count(g.digest) AS n_ngrams,
             count(b.digest) AS n_hit
      FROM {table} d
      LEFT JOIN dng g USING (doc_id)
      LEFT JOIN bset b ON b.digest = g.digest
      GROUP BY 1)
    SELECT doc_id, n_ngrams, n_hit,
           CASE WHEN n_ngrams > 0 THEN n_hit / n_ngrams ELSE 0.0 END AS hit_frac,
           n_hit >= {min_hits} AS contaminated
    FROM hits"""


# ------------------------------------------- duplicate-span detection

def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "window",
) -> DataFrame:
    """Substring-level duplicate spans (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better' shape,
    window-approximated): every token position covered by a k-token
    window whose digest also occurs in at least one OTHER document is
    duplicated; overlapping or adjacent matched windows merge into
    maximal spans. Returns (doc_id, span_start, span_end, span_tokens)
    with half-open token-index spans [span_start, span_end).

    Two physically different, result-identical strategies:

    * ``strategy="window"`` (default) — ONE scan of the document table:
      the cross-doc test is min(doc_id) <> max(doc_id) as
      whole-partition window functions over the 8-byte digest; no
      second scan for a join-back. The cost is the window's skew
      ceiling: a universally hot digest (site boilerplate shared by
      millions of docs) lands ALL its rows on one task, and a window
      partition — unlike a join — cannot be split by AQE.
    * ``strategy="agg"`` — skew-immune: the cross-doc test is a
      map-side-combined groupBy(digest).agg(min, max) (a hot digest
      contributes ONE partial row per upstream task), and matched
      digests join back to the position stream with a plain shuffled
      hash join that AQE's skew-join splitting CAN carve up. The cost
      is a second tokenize+digest pass over the text (the join probe
      re-derives the triples; persisting them at 100 TB is not an
      option). Pick "agg" when the corpus has heavy boilerplate.

    In both: document text never shuffles, only (id, pos, digest)
    triples; the interval merge is a gaps-and-islands window over
    (doc_id, pos) — start a new span when the gap to the previous
    matched window start exceeds k — entirely JVM window functions.
    Within-doc repetition intentionally does NOT flag (cross-doc only,
    like the suffix-array dedup it approximates); `repetition_stats`
    covers the within-doc signal.
    """
    if strategy not in ("window", "agg"):
        raise ValueError(f"unknown strategy {strategy!r}")
    g = (
        docs.select(F.col(id_col), token_hashes_col(text_col).alias("_th"))
        .select(
            id_col,
            F.posexplode(ngram_digest_expr("_th", k)).alias("pos", "digest"),
        )
    )
    if strategy == "agg":
        dup = (
            g.groupBy("digest")
            .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("digest")
        )
        m = g.join(dup, "digest").select(id_col, "pos")
    else:
        wd = Window.partitionBy("digest")
        m = (
            g.withColumn("_lo", F.min(id_col).over(wd))
            .withColumn("_hi", F.max(id_col).over(wd))
            .filter(F.col("_lo") != F.col("_hi"))
            .select(id_col, "pos")
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        m.withColumn(
            "_new",
            F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
        )
        .withColumn("_span", F.sum("_new").over(w))
        .groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def duplicate_spans_oracle_sql(k: int = 8, table: str = "documents") -> str:
    """DuckDB mirror of `duplicate_spans`: same window digests (bit-exact
    xxhash64 chain), same min<>max cross-doc test, same gaps-and-islands
    merge expressed with lag()/sum() windows."""
    return f"""
    WITH {tokhash_cte_sql(table)},
    {_ngram_cte_sql(k)},
    dup AS (SELECT digest FROM ng GROUP BY digest
            HAVING min(doc_id) <> max(doc_id)),
    m AS (SELECT doc_id, pos0 AS pos FROM ng JOIN dup USING (digest)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER w + {k} THEN 1 ELSE 0 END AS newspan
      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (
      SELECT doc_id, pos,
             sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM isl)
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {k} AS span_end,
           max(pos) + {k} - min(pos) AS span_tokens
    FROM sp GROUP BY doc_id, span_id"""


# --------------------------------------------- paragraph-level dedup

def dedup_paragraphs(
    docs: DataFrame,
    sep: str = "\n",
    min_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph/line-level exact dedup across the corpus (the CCNet /
    RefinedWeb line-wise dedup stage: every repeated paragraph is
    removed everywhere except its globally first occurrence). Documents
    are split on `sep`, paragraphs trimmed, and those shorter than
    `min_chars` dropped (their indexes still count, so `para_idx` maps
    back into the original split). Returns one row per surviving
    paragraph occurrence:

      (doc_id, para_idx, n_chars, df, keep)

    where `df` is the paragraph's corpus-wide occurrence count and
    `keep` marks the single occurrence with the smallest
    (doc_id, para_idx) — the deterministic keeper. Filtering to
    keep=true and re-joining on doc_id (co-partitioned; paragraph text
    is re-derived from the doc at write time) materializes the cleaned
    corpus.

    Scale shape: paragraph text is digested (sha256) in the scan and
    never shuffles — only (doc_id, para_idx, n_chars, digest) rows
    move; the keeper election is a map-side-combined
    groupBy(digest).agg(min(struct(doc_id, para_idx)), count) — a
    universally hot paragraph (boilerplate on millions of pages)
    contributes ONE partial row per upstream task, and the flag
    join-back is a plain shuffled hash join AQE skew-splitting can
    carve (deliberately the skew-immune `duplicate_spans(strategy=
    "agg")` shape, not a row_number window that would pin a hot digest
    to one task). No reference analog (CoastSat has no text layer) —
    extends the LLM-pipeline dedup family.
    """
    p = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("para_idx", "_para"),
        )
        .withColumn("_para", F.trim(F.col("_para")))
        .filter(F.length("_para") >= int(min_chars))
        .select(
            id_col,
            F.col("para_idx").cast("long").alias("para_idx"),
            F.length("_para").cast("long").alias("n_chars"),
            F.sha2(F.col("_para"), 256).alias("_digest"),
        )
    )
    first = p.groupBy("_digest").agg(
        F.min(F.struct(F.col(id_col).alias("fid"), F.col("para_idx").alias("fpx"))).alias("_first"),
        F.count(F.lit(1)).alias("df"),
    )
    return p.join(first, "_digest").select(
        id_col,
        "para_idx",
        "n_chars",
        "df",
        (
            (F.col("_first.fid") == F.col(id_col))
            & (F.col("_first.fpx") == F.col("para_idx"))
        ).alias("keep"),
    )


def dedup_paragraphs_oracle_sql(
    sep: str = "\n", min_chars: int = 1, table: str = "documents"
) -> str:
    """DuckDB mirror of `dedup_paragraphs`: same regex split (trailing
    empties kept by both engines, so pre-filter indexes agree), same
    trim + length gate, grouped by the paragraph TEXT itself (equal to
    grouping by its sha256 digest), keeper via row_number — fine at
    oracle scale where skew is irrelevant."""
    return f"""
    WITH p AS (
      SELECT doc_id,
             CAST(generate_subscripts(ps, 1) - 1 AS BIGINT) AS para_idx,
             trim(unnest(ps)) AS para
      FROM (SELECT doc_id, regexp_split_to_array(text, '{sep}') AS ps
            FROM {table} WHERE text IS NOT NULL)),
    q AS (
      SELECT doc_id, para_idx, CAST(length(para) AS BIGINT) AS n_chars, para
      FROM p WHERE length(para) >= {int(min_chars)}),
    f AS (
      SELECT doc_id, para_idx, n_chars,
             count(*) OVER (PARTITION BY para) AS df,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
      FROM q)
    SELECT doc_id, para_idx, n_chars, CAST(df AS BIGINT) AS df, rn = 1 AS keep
    FROM f"""
