"""Trained-IVF ANN: training matches a NumPy reference, assignment is
deterministic, and probing every cell reproduces exact brute force."""

from __future__ import annotations

import numpy as np
import pytest

from simple_etl_spark.llm.similarity import (
    assign_ivf,
    brute_force_topk_integral,
    ivf_topk,
    train_ivf_centroids,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from simple_etl_spark.engine import Catalog

    return Catalog(spark, sf_dir)["embeddings"]


def _numpy_kmeans(vecs_by_id, n_centroids, iters):
    """Reference Lloyd's spherical k-means with the same contracts:
    seeds = lowest ids, cosine argmax w/ lowest-index ties, mean
    update, empty cells keep their centroid."""
    ids = sorted(vecs_by_id)
    mat = np.array([vecs_by_id[i] for i in ids], dtype=np.float64)
    cents = mat[:n_centroids].copy()

    def norm(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    for _ in range(iters):
        sims = norm(mat) @ norm(cents).T
        buckets = np.argmax(sims, axis=1)
        for b in range(n_centroids):
            members = mat[buckets == b]
            if len(members):
                cents[b] = members.mean(axis=0)
    return cents


def test_training_matches_numpy_reference(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: list(r["embedding"]) for r in rows}
    got = np.array(train_ivf_centroids(emb, n_centroids=4, iters=3))
    want = _numpy_kmeans(vecs, n_centroids=4, iters=3)
    assert np.allclose(got, want, atol=1e-9)


def test_assignment_multi_probe_head_equals_single(spark, emb):
    cents = train_ivf_centroids(emb, n_centroids=4, iters=2)
    one = {
        r["vec_id"]: r["ivf_bucket"]
        for r in assign_ivf(emb, cents).select("vec_id", "ivf_bucket").collect()
    }
    multi = {
        r["vec_id"]: r["ivf_bucket"]
        for r in assign_ivf(emb, cents, probes=2)
        .select("vec_id", "ivf_bucket")
        .collect()
    }
    assert set(one) == set(multi)
    for vid, b in one.items():
        assert multi[vid][0] == b
        assert len(multi[vid]) == 2


def test_full_probe_equals_brute_force(spark, emb):
    queries = emb.filter("vec_id < 5")
    ivf = ivf_topk(
        emb, queries, k=3, n_centroids=4, iters=2, probes=4
    ).collect()
    bf = brute_force_topk_integral(emb, queries, k=3).collect()
    key = lambda r: (r["query_id"], r["neighbor_id"], r["rnk"])
    assert sorted(map(key, ivf)) == sorted(map(key, bf))


def test_ivf_deterministic_across_runs(spark, emb):
    queries = emb.filter("vec_id < 5")
    a = ivf_topk(emb, queries, k=3, n_centroids=4, iters=2, probes=2).collect()
    b = ivf_topk(emb, queries, k=3, n_centroids=4, iters=2, probes=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_too_few_vectors_raises(spark, emb):
    small = emb.filter("vec_id < 3")
    with pytest.raises(ValueError, match="n_centroids"):
        train_ivf_centroids(small, n_centroids=8)


def test_prereduced_brute_force_identical(spark, emb):
    """The map-side per-batch top-k cut on the integral key must not
    change the result — only the shuffle width into the ranking
    window."""
    queries = emb.filter("vec_id < 5")
    plain = brute_force_topk_integral(emb, queries, k=4, prereduce=False).collect()
    pre = brute_force_topk_integral(emb, queries, k=4, prereduce=True).collect()
    assert sorted(map(tuple, pre)) == sorted(map(tuple, plain))


def test_prereduce_identical_on_wide_corpus(spark, emb):
    """Same identity when the corpus is spread over many scan
    partitions (each batch cuts independently) — the configuration
    the auto-enable threshold targets."""
    from simple_etl_spark.llm.similarity import PREREDUCE_MIN_PARTITIONS

    wide = emb.repartition(PREREDUCE_MIN_PARTITIONS)
    queries = emb.filter("vec_id < 5")
    plain = brute_force_topk_integral(emb, queries, k=4, prereduce=False).collect()
    auto = brute_force_topk_integral(wide, queries, k=4).collect()  # auto-engaged
    assert sorted(map(tuple, auto)) == sorted(map(tuple, plain))


def test_srp_buckets_group_duplicates_together(spark, emb):
    """Identical vectors must always share a bucket (cosine 1 ⇒ same
    side of every hyperplane)."""
    from pyspark.sql import functions as F

    from simple_etl_spark.llm.similarity import srp_lsh_buckets

    dup = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    b = srp_lsh_buckets(emb.unionByName(dup), n_planes=8, dim=64)
    pair = {r["vec_id"]: r["bucket"] for r in b.filter("vec_id in (0, 1000)").collect()}
    assert pair[0] == pair[1000]


def test_srp_buckets_reject_wrong_dim(spark, emb):
    from simple_etl_spark.llm.similarity import srp_lsh_buckets

    with pytest.raises(Exception, match="vector length"):
        srp_lsh_buckets(emb, n_planes=4, dim=16).collect()


# ---------------------------------------------------------------------------
# Pinned-centroid grading (r9): llm_ann_ivf searches with a literal
# matrix so its DuckDB oracle can replay assign/probe/rescore.
# ---------------------------------------------------------------------------

def test_fixed_centroids_are_sf001_training_output(spark):
    """Drift pin: the literal matrix IS what training produces on the
    sf0.01 corpus (bit-exact float64) — the graded search can never
    silently diverge from the trained index."""
    import os

    from simple_etl_spark.llm.ivf_centroids_sf001 import IVF_FIXED_CENTROIDS

    sf001 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 driver data not present")
    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    got = train_ivf_centroids(emb, n_centroids=8, iters=3)
    assert np.array_equal(
        np.array(got, dtype=np.float64),
        np.array(IVF_FIXED_CENTROIDS, dtype=np.float64),
    )


def test_oracle_carries_the_same_normalized_centroids():
    """SQL lockstep pin: regenerate the oracle's VALUES literal from
    the Python literal and require it verbatim in the registered
    oracle — the two copies cannot drift."""
    import simple_etl_spark.llm.llm_queries  # noqa: F401 — registers
    from simple_etl_spark.llm.ivf_centroids_sf001 import IVF_FIXED_CENTROIDS
    from simple_etl_spark.queries import REGISTRY

    arr = np.array(IVF_FIXED_CENTROIDS, dtype=np.float64)
    cn = arr / np.sqrt((arr * arr).sum(axis=1, keepdims=True))
    sql = REGISTRY["llm_ann_ivf"].oracle
    for cid, row in enumerate(cn):
        vals = ", ".join(repr(float(x)) for x in row)
        assert f"({cid}, [{vals}]::DOUBLE[])" in sql, f"centroid {cid} drifted"


def test_assignment_margins_dwarf_float_drift(spark):
    """The oracle evaluates the float64 argmax with a different
    summation order than NumPy; engine-independence holds because the
    top1-top2 (and, for 2-probe queries, top2-top3) margins are many
    orders above reduction-order drift (~1e-15 relative for 64-term
    dots). Guard the margin so a future corpus regeneration that
    lands a near-tie fails loudly instead of hash-flaking."""
    import os

    from simple_etl_spark.llm.ivf_centroids_sf001 import IVF_FIXED_CENTROIDS

    sf001 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 driver data not present")
    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    vecs = np.array(
        [list(r["embedding"]) for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    arr = np.array(IVF_FIXED_CENTROIDS, dtype=np.float64)

    def norm(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    sims = norm(vecs) @ norm(arr).T
    top = -np.sort(-sims, axis=1)
    assert (top[:, 0] - top[:, 1]).min() > 1e-9
    assert (top[:, 1] - top[:, 2]).min() > 1e-9


def test_rescore_margins_and_quantization_boundaries(spark):
    """The engine ranks llm_ann_ivf on the integral key (cos²
    truncated at 10^-12), while its DuckDB oracle ranks on a double
    cosine whose decimal->double cast differs by 1 ulp from Spark's on
    ~25% of values; score_q is that double rounded to 6 dp on both
    sides. Cross-engine rank/score_q parity therefore rests on score
    margins. Guard them the way assignment margins are guarded: for
    every graded query, (a) adjacent candidate scores around the
    top-3 cut are separated by far more than the key's truncation or
    1 ulp, and (b) the exposed top-3 scores sit far from a 6-dp
    rounding midpoint, so neither can flip rnk or score_q."""
    import os
    from decimal import Decimal

    from simple_etl_spark.llm.ivf_centroids_sf001 import IVF_FIXED_CENTROIDS

    sf001 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 driver data not present")
    emb = spark.read.parquet(os.path.join(sf001, "embeddings.parquet"))
    rows = {r["vec_id"]: list(r["embedding"])
            for r in emb.orderBy("vec_id").collect()}
    arr = np.array(IVF_FIXED_CENTROIDS, dtype=np.float64)

    def norm(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    ids = sorted(rows)
    mat = np.array([rows[i] for i in ids], dtype=np.float64)
    sims = norm(mat) @ norm(arr).T
    cell = {i: int(np.argmax(sims[j])) for j, i in enumerate(ids)}
    order = np.argsort(-sims, axis=1, kind="stable")
    probes = {i: set(order[j][:2]) for j, i in enumerate(ids) if i < 10}

    # engine-exact candidate scores: decimal(12,10) elements, exact
    # integer dot/norm sums, then one float division — the same value
    # both engines' decimal lifts produce before their double casts
    q10 = Decimal("0.0000000001")

    def ivec(v):
        return [int(Decimal(repr(x)).quantize(q10) / q10) for x in v]

    iv = {i: ivec(rows[i]) for i in ids}
    n2 = {i: sum(x * x for x in iv[i]) for i in ids}
    for qid, cells in probes.items():
        scores = []
        for nid in ids:
            if nid == qid or cell[nid] not in cells or n2[nid] == 0:
                continue
            dp = sum(a * b for a, b in zip(iv[qid], iv[nid]))
            scores.append(dp / (np.sqrt(float(n2[qid])) * np.sqrt(float(n2[nid]))))
        scores.sort(reverse=True)
        # (a) rank stability around the cut: every adjacent gap in the
        # top-4 dwarfs double noise
        for a, b in zip(scores[:4], scores[1:5]):
            assert a - b > 1e-9, (qid, a, b)
        # (b) 6-dp exposure: distance from the nearest rounding
        # midpoint (k + 0.5) * 1e-6 dwarfs a 1-ulp cast disagreement
        for s in scores[:3]:
            frac = abs(s) * 1e6 % 1.0
            assert abs(frac - 0.5) > 1e-6, (qid, s)


def test_pinned_centroids_reject_wrong_dim(spark):
    """Review r9: a pinned matrix against a mismatched-dim corpus must
    fail with the dims named, not a numpy broadcast error."""
    from simple_etl_spark.llm.similarity import ivf_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector length"):
        ivf_topk(
            emb, emb.filter("vec_id < 2"), k=1, probes=2,
            centroids=[[1.0, 0.0], [0.0, 1.0]],
        ).collect()
