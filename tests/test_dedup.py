"""Dedup operators on planted duplicates: exact, Jaccard, MinHash, SimHash."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from coastsat_spark.operators import dedup


def _letters(i: int) -> str:
    # pure-letter unique words: "w{i}" would tokenize as ("w", "<digits>")
    # and make unrelated docs share shingles through the digit pieces
    s = ""
    i += 1
    while i:
        s += chr(97 + i % 26)
        i //= 26
    return s


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(21)
    vocab = [f"q{_letters(i)}" for i in range(200)]
    texts = []
    for i in range(60):
        texts.append(" ".join(rng.choice(vocab, size=40)))
    # planted near-dups: 60..69 are copies of 0..9 with 1 word changed
    for i in range(10):
        toks = texts[i].split()
        toks[5] = "CHANGED"
        texts.append(" ".join(toks))
    # planted exact dups: 70..72 are copies of 10..12
    for i in range(10, 13):
        texts.append(texts[i])
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    return pdf, spark.createDataFrame(pdf)


def test_exact_dedup_finds_planted(spark, planted):
    pdf, sdf = planted
    out = dedup.exact_dedup(sdf).toPandas()
    groups = out[out["group_size"] > 1]
    assert set(groups["canonical_id"]) == {10, 11, 12}
    assert len(groups) == 6  # three pairs


def test_jaccard_pairs_find_near_dups(spark, planted):
    pdf, sdf = planted
    out = dedup.jaccard_pairs(sdf, n=5, threshold=0.6, max_doc_freq=None).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    for i in range(10):
        assert (i, 60 + i) in found, i
    for i in range(10, 13):
        assert (i, 60 + i) in found


def test_jaccard_exact_value(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["abcdefgh", "abcdefgh"]})
    out = dedup.jaccard_pairs(
        spark.createDataFrame(pdf), n=5, threshold=0.5, max_doc_freq=None
    ).toPandas()
    assert len(out) == 1 and out["jaccard"].iloc[0] == 1.0


def test_minhash_estimates_true_jaccard(spark, planted):
    pdf, sdf = planted
    out = dedup.minhash_dedup_pairs(sdf, k=128, bands=32, threshold=0.5).toPandas()
    found = {tuple(r): j for *r, j in out[["id_a", "id_b", "est_jaccard"]].to_numpy()}
    hits = sum((float(i), float(60 + i)) in found for i in range(10))
    assert hits >= 9  # LSH at 128/32 catches ~all 1-word-changed dups
    # exact dups estimate 1.0
    for i in range(10, 13):
        assert found.get((float(i), float(60 + i)), 0) == 1.0


def test_minhash_signatures_deterministic(spark, planted):
    _, sdf = planted
    s1 = dedup.minhash_signatures(sdf.repartition(8), k=32).toPandas()
    s2 = dedup.minhash_signatures(sdf.repartition(3), k=32).toPandas()
    m1 = dict(zip(s1["doc_id"], s1["sig"].map(tuple)))
    m2 = dict(zip(s2["doc_id"], s2["sig"].map(tuple)))
    assert m1 == m2


def test_simhash_near_dups(spark, planted):
    pdf, sdf = planted
    out = dedup.simhash_dup_pairs(sdf, max_hamming=8, n_bands=16).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    hits = sum((i, 60 + i) in found for i in range(10))
    assert hits >= 8
    # exact dups at hamming 0
    zero = out[out["hamming"] == 0]
    for i in range(10, 13):
        assert (i, 60 + i) in set(map(tuple, zero[["id_a", "id_b"]].to_numpy()))


def test_minhash_assignment_matches_planted_clusters(spark, planted):
    _, sdf = planted
    out = dedup.minhash_dedup_assign(sdf, k=128, bands=32).toPandas()
    m = dict(zip(out["doc_id"], out["canonical_id"]))
    assert sum(m[60 + i] == i for i in range(10)) == 10  # near-dups
    assert all(m[60 + i] == i for i in range(10, 13))  # exact dups
    assert sum(1 for d, c in m.items() if c != d and not (60 <= d <= 72)) == 0


def test_pigeonhole_banding_complete(spark, planted):
    """Any pair with hamming <= n_bands-1 must be found (pigeonhole)."""
    pdf, sdf = planted
    fp = dedup.simhash_fingerprints(sdf).toPandas()
    sig = dict(zip(fp["doc_id"], fp["simhash"]))
    out = dedup.simhash_dup_pairs(sdf, max_hamming=3, n_bands=4).toPandas()
    found = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    ids = sorted(sig)
    for i in ids:
        for j in ids:
            if i < j:
                h = bin((sig[i] ^ sig[j]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    assert (i, j) in found, (i, j, h)


def test_minhash_assignment_distributed_path(spark, planted):
    """driver_cc_max_edges=0 forces the distributed label-propagation
    loop; it must produce the same canonical assignment as the driver
    union-find path."""
    _, sdf = planted
    a = dedup.minhash_dedup_assign(sdf, k=128, bands=32).toPandas()
    b = dedup.minhash_dedup_assign(sdf, k=128, bands=32, driver_cc_max_edges=0).toPandas()
    ma = dict(zip(a["doc_id"], a["canonical_id"]))
    mb = dict(zip(b["doc_id"], b["canonical_id"]))
    assert ma == mb


def test_minhash_assignment_duplicate_free_corpus(spark):
    # ADVICE r2 (high): a corpus where no two docs share an LSH band key
    # used to IndexError inside the driver CC (empty edge list); the
    # guard must return the identity mapping instead.
    texts = [" ".join(f"q{_letters(i * 50 + j)}" for j in range(30)) for i in range(50)]
    pdf = pd.DataFrame({"doc_id": np.arange(50), "text": texts})
    out = dedup.minhash_dedup_assign(spark.createDataFrame(pdf), k=32, bands=8).toPandas()
    assert len(out) == 50
    assert (out["canonical_id"] == out["doc_id"]).all()


def test_lsh_candidate_pairs_rejects_wrong_k(spark, planted):
    # ADVICE r2: k must match the signature length, else out-of-range
    # element_at slots collide every doc into one bucket. The guard
    # raises instead of silently exploding.
    _, sdf = planted
    sigs = dedup.minhash_signatures(sdf, k=64)
    with pytest.raises(Exception, match="signature length"):
        dedup.lsh_candidate_pairs(sigs, bands=16, k=128).count()


def test_band_keys_null_and_short_docs(spark):
    """r6 mapInArrow band keys: NULL text and token-less docs yield empty
    key arrays (downstream explode drops them); 1- and 2-token docs pad
    like the legacy per-row path. Assignment output must treat NULL/empty
    docs as their own canonicals, exactly like the r5 pre-filter did."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": ["alpha beta gamma delta", "alpha beta gamma delta",
                     None, "", "!!!", "one"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    bk = dedup.minhash_band_keys(sdf, 32, 8).toPandas().set_index("doc_id")
    assert len(bk.loc[3, "bkeys"]) == 0  # NULL text
    assert len(bk.loc[4, "bkeys"]) == 0  # empty text
    assert len(bk.loc[5, "bkeys"]) == 0  # no alnum tokens
    assert len(bk.loc[6, "bkeys"]) == 8  # single token: padded window
    assert list(bk.loc[1, "bkeys"]) == list(bk.loc[2, "bkeys"])  # dup docs collide
    out = dedup.minhash_dedup_assign(sdf, k=32, bands=8).toPandas().set_index("doc_id")
    assert out.loc[2, "canonical_id"] == 1
    for d in (3, 4, 5, 6):
        assert out.loc[d, "canonical_id"] == d


def test_np_minhash_flat_batch_matches_per_doc():
    """The batched flat kernel must give every doc the signature it gets
    when hashed alone, across ragged lengths incl. empty docs (all-max
    sentinel) and short docs, which equal their explicit last-token
    padding to one full 3-token window."""
    rng = np.random.default_rng(7)
    lens = [0, 1, 2, 3, 4, 0, 17, 1, 2, 40, 0, 5]
    arrays = [rng.integers(-2**62, 2**62, size=n, dtype=np.int64) for n in lens]
    batch = dedup.np_minhash_from_flat(np.concatenate(arrays), np.array(lens), 64, 3)
    assert batch.shape == (len(lens), 64)
    for a, got in zip(arrays, batch):
        assert (got == dedup.np_minhash_from_flat(a, [len(a)], 64, 3)[0]).all()
        if len(a) == 0:
            assert (got == np.iinfo(np.uint64).max).all()
        elif len(a) < 3:
            padded = np.concatenate([a, np.repeat(a[-1], 3 - len(a))])
            assert (got == dedup.np_minhash_from_flat(padded, [3], 64, 3)[0]).all()


def test_signatures_and_simhash_drop_tokenless_docs_keep_id_type(spark):
    """minhash_signatures / simhash_fingerprints drop NULL-text and
    token-less docs inside the kernel and keep the input id type."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c", "d", "e"],
            "text": ["alpha beta gamma delta", None, "", "!!!", "one"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    sigs = dedup.minhash_signatures(sdf, k=16)
    fps = dedup.simhash_fingerprints(sdf)
    assert dict(sigs.dtypes)["doc_id"] == "string"
    assert dict(fps.dtypes)["doc_id"] == "string"
    s = sigs.toPandas().set_index("doc_id")
    assert sorted(s.index) == ["a", "e"]
    assert all(len(v) == 16 for v in s["sig"])
    assert sorted(fps.toPandas()["doc_id"]) == ["a", "e"]


def test_minhash_assignment_distributed_raises_when_unconverged(spark):
    """The distributed label-propagation loop must never return
    unconverged labels: on a chain of overlapping docs it raises once
    `max_iters` runs out while labels still change, and with enough
    rounds it matches the driver-side components."""
    words = [f"q{_letters(i)}" for i in range(80)]
    texts = [" ".join(words[2 * i : 2 * i + 40]) for i in range(20)]
    sdf = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(20), "text": texts}))
    with pytest.raises(RuntimeError, match="max_iters=1"):
        dedup.minhash_dedup_assign(sdf, driver_cc_max_edges=0, max_iters=1).count()
    a = dedup.minhash_dedup_assign(sdf).toPandas()
    b = dedup.minhash_dedup_assign(sdf, driver_cc_max_edges=0).toPandas()
    ma = dict(zip(a["doc_id"], a["canonical_id"]))
    assert ma == dict(zip(b["doc_id"], b["canonical_id"]))
    assert sum(c != d for d, c in ma.items()) > 1  # the chain links docs
