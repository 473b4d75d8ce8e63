"""Full-precision contract for the similarity scores.

The *exposed* ``score_q`` is quantized to 6 dp so that ulp-level
engine drift (decimal→double conversion, rounding of the final
division) can never surface in a graded hash. This file is where the
full-precision guarantee lives instead: the engine's decimal dot
product and the resulting cosine must match an engine-independent
reference built with Python's :mod:`decimal` module — exact base-10
arithmetic, no floats anywhere until the final division — to 9 dp
(in practice they agree to the last double ulp; 1e-9 is the asserted
floor).
"""

from __future__ import annotations

import math
import os
from decimal import Decimal, ROUND_HALF_UP

import pytest
from pyspark.sql import functions as F

from simple_etl_spark.llm.similarity import cosine, ivf_topk, norm2

_Q10 = Decimal(1).scaleb(-10)  # element quantum: decimal(12,10)


def _dec_vec(vec):
    """float list → decimal(12,10) elements, exactly as the engine and
    the SQL oracle do it: widen to double first, then round half-up to
    10 dp in base 10."""
    return [Decimal(repr(float(x))).quantize(_Q10, rounding=ROUND_HALF_UP) for x in vec]


def _ref_cosine(a, b):
    da, db = _dec_vec(a), _dec_vec(b)
    dp = sum(x * y for x, y in zip(da, db))  # exact decimal
    n2a = sum(x * x for x in da)
    n2b = sum(x * x for x in db)
    return float(dp) / (math.sqrt(float(n2a)) * math.sqrt(float(n2b)))


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    rows = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("vec_id") < 12)
        .select("vec_id", "embedding")
        .collect()
    )
    return {r["vec_id"]: list(r["embedding"]) for r in rows}


def test_exact_cosine_matches_decimal_reference_to_9dp(spark, vectors):
    ids = sorted(vectors)
    pairs = [(a, b) for a in ids[:3] for b in ids if a != b]
    df = spark.createDataFrame(
        [(a, b, vectors[a], vectors[b]) for a, b in pairs],
        "id_a long, id_b long, va array<float>, vb array<float>",
    )
    scored = df.select(
        "id_a",
        "id_b",
        cosine(
            F.col("va"), F.col("vb"), norm2(F.col("va")), norm2(F.col("vb"))
        ).alias("score"),
    ).collect()
    assert len(scored) == len(pairs)
    for row in scored:
        ref = _ref_cosine(vectors[row["id_a"]], vectors[row["id_b"]])
        assert abs(row["score"] - ref) < 1e-9, (
            f"pair ({row['id_a']},{row['id_b']}): spark {row['score']!r} "
            f"vs decimal-reference {ref!r}"
        )


def test_exposed_score_q_is_reference_rounded_to_6dp(spark, sf_dir, vectors):
    """ivf_topk exposes score_q; probing every cell makes it exact
    search, so every winner's score_q is checked."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5,
        n_centroids=4, iters=2, probes=4,
    ).collect()
    assert len(out) == 15
    q6 = Decimal(1).scaleb(-6)
    for row in out:
        ref = _ref_cosine(vectors[row["query_id"]], list_embedding(emb, row["neighbor_id"]))
        want = Decimal(repr(ref)).quantize(q6, rounding=ROUND_HALF_UP)
        assert row["score_q"] == want, (
            f"({row['query_id']},{row['neighbor_id']}): {row['score_q']} != {want}"
        )


_EMB_CACHE: dict[int, list[float]] = {}


def list_embedding(emb_df, vec_id: int) -> list[float]:
    if not _EMB_CACHE:
        for r in emb_df.select("vec_id", "embedding").collect():
            _EMB_CACHE[r["vec_id"]] = list(r["embedding"])
    return _EMB_CACHE[vec_id]


# ---------------------------------------------------------------------------
# Integral exact-ranking tier (round 6): the graded ANN queries rank on
# sign·cos²·10^12 computed in pure integer arithmetic. These pin its
# SEMANTICS against the decimal reference — cross-engine bit-equality
# is pinned separately (test_float_lineage.py + the DuckDB oracle).
# ---------------------------------------------------------------------------


def test_integral_tier_reconstructs_reference_cosine(spark, sf_dir, vectors):
    from simple_etl_spark.llm.similarity import brute_force_topk_integral

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = brute_force_topk_integral(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    assert len(out) == 15
    for row in out:
        ref = _ref_cosine(vectors[row["query_id"]], list_embedding(emb, row["neighbor_id"]))
        # cosine = sign(dot)·sqrt(|score2_e12| / 10^12); the e9
        # truncation bounds the error at ~2e-9 relative for unit-norm
        # vectors — assert well inside the next float tier
        sgn = -1.0 if row["dot_e9"] < 0 else 1.0
        got = sgn * math.sqrt(abs(row["score2_e12"]) / 1e12)
        assert abs(got - ref) < 1e-6, (
            f"({row['query_id']},{row['neighbor_id']}): integral {got!r} "
            f"vs decimal-reference {ref!r}"
        )


def test_integral_tier_ranking_matches_double_tier(spark, sf_dir):
    """The integral key is a strictly monotone transform of cosine, so
    on data with no sub-1e-9 score ties the (query, neighbor, rnk)
    triples must coincide exactly with the ranking by the
    Python-decimal reference cosine (score desc, neighbor id asc)."""
    from simple_etl_spark.llm.similarity import brute_force_topk_integral

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 3)
    new = {(r["query_id"], r["neighbor_id"], r["rnk"])
           for r in brute_force_topk_integral(emb, q, k=5).collect()}
    list_embedding(emb, 0)  # fill the cache with the whole corpus
    ref = set()
    for qid in range(3):
        scored = sorted(
            (-_ref_cosine(_EMB_CACHE[qid], vec), nid)
            for nid, vec in _EMB_CACHE.items()
            if nid != qid and any(vec)
        )
        ref |= {(qid, nid, rnk) for rnk, (_, nid) in enumerate(scored[:5], 1)}
    assert new == ref


def test_threshold_key_rejects_nonpositive_threshold():
    """Squaring loses the sign: a negative cosine threshold would
    silently mean |threshold| — it must raise instead."""
    import pytest

    from simple_etl_spark.llm.similarity import threshold_key

    assert threshold_key(0.9) == 810000000000
    assert threshold_key(1.0) == 10**12
    for bad in (-0.5, 0.0, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            threshold_key(bad)


def _ref_pair_key(a, b):
    """Pure-Python reference of the integral pair arithmetic
    (_keyed_pairs): exact integer lift, truncating divisions. Returns
    None if either side is dropped as degenerate (n2_e9 < 1)."""
    ia = [int(x.scaleb(10)) for x in _dec_vec(a)]
    ib = [int(x.scaleb(10)) for x in _dec_vec(b)]
    n2a = sum(x * x for x in ia) // 10**11
    n2b = sum(x * x for x in ib) // 10**11
    if n2a < 1 or n2b < 1:
        return None
    dp20 = sum(x * y for x, y in zip(ia, ib))
    sgn = -1 if dp20 < 0 else 1
    adpi = abs(dp20) // 10**11
    return {
        "dot_e9": sgn * adpi,
        "anorm2_e9": n2a,
        "bnorm2_e9": n2b,
        "score2_e12": sgn * ((adpi * adpi * 10**12) // (n2a * n2b)),
    }


def test_embedding_near_dups_matches_integer_reference(spark, vectors):
    """Every exposed value and the pair-inclusion decision of the
    integral near-dup path must equal a from-scratch Python integer
    reimplementation of the spec — including a planted zero-norm
    vector (dropped) and a negated near-copy (negative key, excluded
    by any positive threshold)."""
    from simple_etl_spark.llm.similarity import (
        embedding_near_dups,
        threshold_key,
    )

    vecs = dict(list(sorted(vectors.items()))[:6])
    nid = max(vecs) + 1
    base = vecs[min(vecs)]
    vecs[nid] = [-float(x) for x in base]          # anti-parallel copy
    vecs[nid + 1] = [0.0] * len(base)              # degenerate
    # near-copy: guarantees at least one qualifying pair
    vecs[nid + 2] = [float(base[0]) + 0.1] + [float(x) for x in base[1:]]
    rows = [(i, 0, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>"
    )
    threshold = 0.5
    got = {
        (r["id_a"], r["id_b"]): (
            r["dot_e9"], r["anorm2_e9"], r["bnorm2_e9"], r["score2_e12"]
        )
        for r in embedding_near_dups(df, threshold=threshold).collect()
    }
    thr = threshold_key(threshold)
    want = {}
    ids = sorted(vecs)
    for i, ai in enumerate(ids):
        for bi in ids[i + 1:]:
            ref = _ref_pair_key(vecs[ai], vecs[bi])
            if ref is not None and ref["score2_e12"] >= thr:
                want[(ai, bi)] = (
                    ref["dot_e9"], ref["anorm2_e9"],
                    ref["bnorm2_e9"], ref["score2_e12"],
                )
    assert got == want
    assert want, "reference found no qualifying pair — test data too weak"
    # the anti-parallel and zero-norm plants never appear
    assert not any(nid in p or nid + 1 in p for p in got)


def test_small_norm_pair_bypasses_prune_and_matches_reference(spark):
    """Regression: the float64 prune must NOT decide membership for
    small-norm vectors. For norms barely above the 10^-9 degeneracy
    floor (n2_e9 = 1) the integral key's truncation noise inflates
    cos² by up to 4× — here a pair with TRUE cosine ≈ 0.553 qualifies
    under the integral spec at threshold 0.9 (score2_e12 = 10^12, the
    inflated 'parallel' verdict), and the single-phase SQL oracle
    agrees. A band-prune on the float cosine would wrongly drop it;
    such pairs must bypass the prune (similarity._PRUNE_MIN_N2_E9)."""
    from simple_etl_spark.llm.similarity import (
        embedding_near_dups,
        threshold_key,
    )

    vecs = {
        1: [4.36e-5, 0.0, 0.0],
        2: [2.41e-5, 3.63e-5, 0.0],
    }
    df = spark.createDataFrame(
        [(i, 0, v) for i, v in vecs.items()],
        "vec_id bigint, label int, embedding array<double>",
    )
    ref = _ref_pair_key(vecs[1], vecs[2])
    assert ref is not None and ref["score2_e12"] >= threshold_key(0.9), (
        "fixture no longer exercises the small-norm inflation — "
        "pick vectors with n2_e9 == 1 and a qualifying truncated key"
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["dot_e9"], r["anorm2_e9"], r["bnorm2_e9"], r["score2_e12"]
        )
        for r in embedding_near_dups(df, threshold=0.9).collect()
    }
    assert got == {
        (1, 2): (
            ref["dot_e9"], ref["anorm2_e9"],
            ref["bnorm2_e9"], ref["score2_e12"],
        )
    }


def test_small_norm_contamination_matches_single_phase_verdict(spark):
    """Same degeneracy-cutoff regression through the OTHER prune call
    site: semantic_contamination's broadcast crossJoin path. The
    small-norm benchmark hit must be counted (integral verdict), not
    float-pruned away."""
    from simple_etl_spark.llm.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [(1, [4.36e-5, 0.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(10, [2.41e-5, 3.63e-5, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["n_hits"], r["max_score2_e12"])
        for r in semantic_contamination(corpus, bench, threshold=0.9).collect()
    }
    ref = _ref_pair_key([4.36e-5, 0.0, 0.0], [2.41e-5, 3.63e-5, 0.0])
    assert out[1] == (1, ref["score2_e12"])
    # the unit vector vs the tiny bench vector: true cosine ~0.55 and
    # NO truncation inflation on the corpus side... the bench side's
    # n2_e9 = 1 still inflates; verify against the reference verdict
    ref2 = _ref_pair_key([1.0, 0.0, 0.0], [2.41e-5, 3.63e-5, 0.0])
    from simple_etl_spark.llm.similarity import threshold_key
    want2 = (1, ref2["score2_e12"]) if ref2["score2_e12"] >= threshold_key(0.9) else (0, None)
    assert out[2] == want2


def _tie_probes() -> list[float]:
    """Doubles where DuckDB's direct double→decimal(12,10) cast and
    Spark's disagree: exact binary ties (odd k / 2^11 has eleven
    decimals ending in 5) and eleven-digit decimal ties (the nearest
    double sits just above or below the half), both signs."""
    binary = [k / 2048 for k in range(1, 2 * 2048, 38)]  # odd k only
    decimal = [float(f"{a}.{b:010d}5") for a in (0, 1, 7, 42)
               for b in (0, 1, 9, 1234567890, 9999999999, 5000000000)]
    vals = binary + decimal
    return vals + [-v for v in vals]


def test_oracle_element_cast_matches_spark_on_ties(spark):
    """The DuckDB oracles spell the element canonicalization as
    ``_DUCK_ELEM_DEC``; it must round exactly like Spark's
    ``cast(x as decimal(12,10))`` on every tie, or an embedding
    element on a tie moves an integral score by one unit."""
    import duckdb

    from simple_etl_spark.llm.llm_queries import _DUCK_ELEM_DEC

    vals = _tie_probes()
    spark_dec = [
        r["d"] for r in spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i int, x double",
        ).selectExpr("i", "cast(x as decimal(12,10)) AS d")
        .orderBy("i").collect()
    ]
    con = duckdb.connect()
    try:
        duck_dec = con.execute(
            f"SELECT list_transform($1::DOUBLE[], x -> {_DUCK_ELEM_DEC})",
            [vals],
        ).fetchone()[0]
    finally:
        con.close()
    diffs = [(v, s, d) for v, s, d in zip(vals, spark_dec, duck_dec)
             if s != d]
    assert not diffs, diffs[:5]
