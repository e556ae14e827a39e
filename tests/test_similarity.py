"""ANN operators: brute-force correctness vs NumPy; LSH/IVF recall on a
planted-cluster dataset (real neighbor structure, unlike the near-random
driver embeddings)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from coastsat_spark.operators import similarity


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(31)
    centers = rng.normal(size=(10, 32))
    vecs, rows = [], []
    for i in range(400):
        c = centers[i % 10]
        v = c + rng.normal(scale=0.15, size=32)
        rows.append((i, [float(x) for x in v]))
        vecs.append(v)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    sdf = spark.createDataFrame(rows, schema)
    return np.array(vecs, dtype=np.float32), sdf


def np_topk(vecs: np.ndarray, q_ids, k=5):
    V = vecs.astype(np.float64)
    n = np.linalg.norm(V, axis=1)
    sims = (V @ V.T) / np.outer(n, n)
    out = {}
    for q in q_ids:
        s = sims[q].copy()
        s[q] = -np.inf
        order = np.lexsort((np.arange(len(s)), -s))
        out[q] = list(order[:k])
    return out


def test_bruteforce_matches_numpy(spark, clustered):
    vecs, sdf = clustered
    q = sdf.filter("vec_id < 10")
    got = similarity.cosine_topk_bruteforce(q, sdf, k=5).toPandas()
    exp = np_topk(vecs, range(10), 5)
    for qid, g in got.groupby("q_id"):
        ids = g.sort_values("rank")["c_id"].tolist()
        assert ids == exp[qid], qid


def test_lsh_recall_on_clusters(spark, clustered):
    vecs, sdf = clustered
    q = sdf.filter("vec_id < 10")
    brute = similarity.cosine_topk_bruteforce(q, sdf, k=5).toPandas()
    approx = similarity.cosine_topk_lsh(q, sdf, k=5, n_bits=8, n_tables=12).toPandas()
    b = set(map(tuple, brute[["q_id", "c_id"]].to_numpy()))
    a = set(map(tuple, approx[["q_id", "c_id"]].to_numpy()))
    recall = len(a & b) / len(b)
    assert recall >= 0.9, recall


def test_ivf_recall_on_clusters(spark, clustered):
    vecs, sdf = clustered
    q = sdf.filter("vec_id < 10")
    brute = similarity.cosine_topk_bruteforce(q, sdf, k=5).toPandas()
    approx = similarity.ivf_topk(q, sdf, n_centroids=20, n_probe=5, k=5).toPandas()
    b = set(map(tuple, brute[["q_id", "c_id"]].to_numpy()))
    a = set(map(tuple, approx[["q_id", "c_id"]].to_numpy()))
    recall = len(a & b) / len(b)
    assert recall >= 0.8, recall


def test_lsh_buckets_deterministic(spark, clustered):
    _, sdf = clustered
    b1 = similarity.lsh_bucket_ids(sdf.repartition(7), n_bits=8, n_tables=2).toPandas()
    b2 = similarity.lsh_bucket_ids(sdf.repartition(2), n_bits=8, n_tables=2).toPandas()
    k1 = set(map(tuple, b1[["vec_id", "table", "bucket"]].to_numpy()))
    k2 = set(map(tuple, b2[["vec_id", "table", "bucket"]].to_numpy()))
    assert k1 == k2


def test_ivf_kmeans_recall_tight(spark, clustered):
    """k-means centroids recover the planted clusters: with n_centroids =
    #clusters and a single probe, recall stays high (layout-independent,
    unlike the old lowest-id 'centroids')."""
    vecs, sdf = clustered
    q = sdf.filter("vec_id < 10")
    brute = similarity.cosine_topk_bruteforce(q, sdf, k=5).toPandas()
    approx = similarity.ivf_topk(q, sdf, n_centroids=10, n_probe=1, k=5).toPandas()
    b = set(map(tuple, brute[["q_id", "c_id"]].to_numpy()))
    a = set(map(tuple, approx[["q_id", "c_id"]].to_numpy()))
    recall = len(a & b) / len(b)
    assert recall >= 0.95, recall


def test_bruteforce_plan_shape(spark, clustered):
    """r6 shape: scoring + batch-local top-k run inside ONE mapInArrow
    over the corpus scan (no crossJoin, no full-product exchange); the
    only window ranks the <= |q|*k*n_batches surviving candidates."""
    _, sdf = clustered
    q = sdf.filter("vec_id < 10")
    plan = similarity.cosine_topk_bruteforce(q, sdf, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_bruteforce_bit_identical_to_jvm_fold(spark, clustered):
    """The numpy kernel replays the exact IEEE semantics of the former
    JVM expression: float32 products, float64 left-to-right accumulation
    from 0.0, q_norm*c_norm then divide. Cosines must match BIT-for-bit
    (the r5 formulation is rebuilt inline as the reference)."""
    import struct

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    _, sdf = clustered
    q = sdf.filter("vec_id < 10")

    _dotH = lambda a, b: F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, v) -> s + v)"
    )
    wn = lambda df, col: df.withColumn(
        "norm", F.sqrt(F.expr(f"aggregate({col}, 0.0D, (s, v) -> s + v * v)"))
    )
    qq = wn(
        q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")), "q_emb"
    ).withColumnRenamed("norm", "q_norm")
    c = wn(
        sdf.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")), "c_emb"
    ).withColumnRenamed("norm", "c_norm")
    j = c.crossJoin(F.broadcast(qq)).filter(F.col("q_id") != F.col("c_id"))
    sim = (_dotH("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine")
    w2 = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    ref = (
        j.select("q_id", "c_id", sim)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id", "cosine", "rank")
    )
    got = similarity.cosine_topk_bruteforce(q, sdf, k=5)
    ro = sorted(tuple(r) for r in ref.collect())
    rn = sorted(tuple(r) for r in got.collect())
    assert ro == rn
    bits = lambda rows: [struct.pack("<d", r[2]) for r in rows]
    assert bits(ro) == bits(rn)


def test_embedding_dup_pairs_lsh_recall(spark, clustered):
    """LSH-bucketed near-dup pairs recover (almost) all exact pairs at a
    high threshold; every reported pair is exact-verified (no false
    positives by construction of the refine)."""
    _, sdf = clustered
    exact = similarity.embedding_dup_pairs(sdf, threshold=0.97).toPandas()
    approx = similarity.embedding_dup_pairs_lsh(
        sdf, threshold=0.97, n_bits=8, n_tables=12
    ).toPandas()
    e = set(map(tuple, exact[["id_a", "id_b"]].to_numpy()))
    a = set(map(tuple, approx[["id_a", "id_b"]].to_numpy()))
    assert len(e) > 20  # planted clusters make this non-degenerate
    assert a <= e  # refine is exact -> no false positives
    assert len(a & e) / len(e) >= 0.9


def test_ivf_plan_no_corpus_explosion(spark, clustered):
    """r2 verdict item: corpus->centroid assignment must be a vectorized
    argmax projection, NOT crossJoin(broadcast(centroids)) + Window over
    the corpus x centroid product. The whole IVF plan has exactly one
    Window (the final per-query rerank) and no nested-loop join."""
    _, sdf = clustered
    q = sdf.filter("vec_id < 10")
    import re

    plan = similarity.ivf_topk(q, sdf, n_centroids=8, n_probe=2, k=5)._jdf.queryExecution().executedPlan().toString()
    # "Window [" is the exec node; WindowGroupLimit (rank pushdown) is fine
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_pq_adc_recall_and_exactness(spark, clustered):
    """PQ/ADC search: (a) recall@10 vs exact cosine is high on clustered
    data, (b) ADC distance of the true code is the numpy-computed one,
    (c) the plan stays local-top-k + one final window (no all-pairs
    shuffle), (d) encode is deterministic."""
    vecs, sdf = clustered
    q = sdf.filter("vec_id < 10")
    books = similarity.pq_codebooks(sdf, m=8, n_codes=32, sample_cap=400, n_iters=10)
    assert books.shape == (8, 32, 4)
    codes = similarity.pq_encode(sdf, books)
    # deterministic encode
    c1 = codes.toPandas().set_index("c_id")["codes"].map(tuple).to_dict()
    c2 = similarity.pq_encode(sdf, books).toPandas().set_index("c_id")["codes"].map(tuple).to_dict()
    assert c1 == c2
    got = similarity.pq_topk(q, codes, books, k=10).toPandas()
    rr = similarity.pq_topk(q, codes, books, k=10, rerank=sdf).toPandas()
    exact = similarity.cosine_topk_bruteforce(q, sdf, k=10).toPandas()
    hits = rr_hits = 0
    for qid in range(10):
        g = set(got[got.q_id == qid]["c_id"])
        r = set(rr[rr.q_id == qid]["c_id"])
        e = set(exact[exact.q_id == qid]["c_id"])
        assert len(g) == 10 and len(r) == 10 and len(e) == 10
        hits += len(g & e)
        rr_hits += len(r & e)
    assert hits / 100 >= 0.4, f"raw ADC recall@10 too low: {hits/100}"
    assert rr_hits / 100 >= 0.85, f"reranked recall@10 too low: {rr_hits/100}"
    # ADC value parity: recompute one (q, c) adist in numpy
    r = got.iloc[0]
    Q = vecs[int(r.q_id)].astype(np.float64)
    Q /= np.linalg.norm(Q)
    cvec = np.asarray(c1[int(r.c_id)])
    rec = np.concatenate([books[j, cvec[j]] for j in range(8)])
    want = round(float(((Q - rec) ** 2).sum()), 6)
    assert abs(r.adist - want) < 1e-6
    # plan: exactly one Window (final rank), no cartesian/nested-loop
    import re

    plan = similarity.pq_topk(q, codes, books, k=10)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_approx_oracle_parity(spark):
    """The DuckDB mirror of q_ann_approx (sign-LSH + unrolled IVF
    k-means + unrolled PQ codebooks + ADC + exact rerank) reproduces the
    Spark rows exactly at the smoke sf — the same compare the driver
    correctness gate runs at sf0.01."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E

    sfd = "/root/testdata/sf0.001"
    got = (
        E.queries()["ann_approx"](spark, sfd)
        .toPandas()
        .sort_values(["method", "q_id", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sfd}/embeddings.parquet')"
    )
    exp = (
        con.execute(E.oracle_sql()["ann_approx"])
        .df()
        .sort_values(["method", "q_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == 300
    pd.testing.assert_frame_equal(
        got[["method", "q_id", "rank", "c_id"]],
        exp[["method", "q_id", "rank", "c_id"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(got["cosine"], exp["cosine"], atol=1e-9)


def test_bruteforce_ties_match_jvm_and_zero_norm_degrades(spark):
    """Exact duplicate vectors (cosine ties) must rank exactly like the
    JVM formulation (ties broken c_id ASC, bit-identical cosines). A
    zero-norm vector is additionally checked as kernel-documented
    behavior: the r5 JVM expression RAISED under ANSI mode
    (DIVIDE_BY_ZERO), the numpy kernel degrades to non-finite cosines
    ranked first like Spark's DESC over doubles."""
    import math
    import struct

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # duplicate of 0 -> cosine tie
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.5, 0.5, 0.0, 0.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),
    ]
    sdf = spark.createDataFrame(rows, schema)
    q = sdf.filter("vec_id <= 1")

    _dotH = lambda a, b: F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, v) -> s + v)"
    )
    wn = lambda df, col: df.withColumn(
        "norm", F.sqrt(F.expr(f"aggregate({col}, 0.0D, (s, v) -> s + v * v)"))
    )
    qq = wn(
        q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")), "q_emb"
    ).withColumnRenamed("norm", "q_norm")
    c = wn(
        sdf.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")), "c_emb"
    ).withColumnRenamed("norm", "c_norm")
    j = c.crossJoin(F.broadcast(qq)).filter(F.col("q_id") != F.col("c_id"))
    sim = (_dotH("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine")
    w2 = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    ref = (
        j.select("q_id", "c_id", sim)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "cosine", "rank")
    )
    got = similarity.cosine_topk_bruteforce(q, sdf, k=3)
    ro = sorted((r[0], r[1], struct.pack("<d", r[2]), r[3]) for r in ref.collect())
    rn = sorted((r[0], r[1], struct.pack("<d", r[2]), r[3]) for r in got.collect())
    assert ro == rn

    # zero-norm corpus vector: no exception, non-finite cosine ranks first
    withzero = sdf.union(
        spark.createDataFrame([(2, [0.0, 0.0, 0.0, 0.0])], schema)
    )
    out = similarity.cosine_topk_bruteforce(
        withzero.filter("vec_id = 0"), withzero, k=5
    ).toPandas()
    top = out.sort_values("rank").iloc[0]
    assert top["c_id"] == 2 and not math.isfinite(top["cosine"])


def _emb_rows_df(spark, rows, id_type=T.LongType()):
    schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_bruteforce_null_query_raises_naming_column(spark):
    sdf = _emb_rows_df(spark, [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])])
    with pytest.raises(ValueError, match="NULL or ragged query 'embedding'"):
        similarity.cosine_topk_bruteforce(sdf, sdf.filter("vec_id != 1"), k=1)


def test_bruteforce_null_or_ragged_corpus_raises(spark):
    good = _emb_rows_df(spark, [(0, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])])
    q = good.filter("vec_id = 0")
    assert similarity.cosine_topk_bruteforce(q, good, k=2).count() == 2
    for bad in (None, [1.0, 0.0, 0.0]):
        corpus = good.union(_emb_rows_df(spark, [(9, bad)]))
        with pytest.raises(Exception, match="NULL or ragged corpus 'embedding'"):
            similarity.cosine_topk_bruteforce(q, corpus, k=2).collect()


def test_bruteforce_string_ids(spark, clustered):
    """Output id types follow the input: zero-padded string ids order
    like the numeric ids, so the ranking must match the bigint run."""
    from pyspark.sql import functions as F

    _, sdf = clustered
    s = sdf.select(F.format_string("v%03d", "vec_id").alias("vec_id"), "embedding")
    got = similarity.cosine_topk_bruteforce(s.filter("vec_id < 'v010'"), s, k=5)
    assert dict(got.dtypes)["q_id"] == "string"
    assert dict(got.dtypes)["c_id"] == "string"
    ref = similarity.cosine_topk_bruteforce(sdf.filter("vec_id < 10"), sdf, k=5)
    fmt = lambda r: (f"v{r[0]:03d}", f"v{r[1]:03d}", r[2], r[3])
    assert sorted(tuple(r) for r in got.collect()) == sorted(fmt(r) for r in ref.collect())
