"""int8 scalar quantization: code correctness vs NumPy, recall vs the
exact cosine path, and the scale-cancellation property."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from simple_etl_spark.engine import Catalog
from simple_etl_spark.llm.similarity import (
    brute_force_topk_integral,
    quantize_embeddings,
    quantized_topk_coded,
)

SF_DIR = "/root/testdata/sf0.001"


def test_codes_match_numpy_reference(spark):
    rows = [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.001, 0.002, -0.003, 0.004])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for vid, vec in rows:
        v = np.asarray(vec)
        s = max(np.abs(v).max(), 1e-30) / 127.0
        # numpy rounds half-even; the engine rounds half away from zero —
        # avoid .5 boundaries in fixtures, then both agree
        expect = [int(round(x / s)) for x in v]
        assert list(out[vid]["qvec"]) == expect
        assert out[vid]["qvec_scale"] == pytest.approx(s)
        assert max(abs(c) for c in out[vid]["qvec"]) <= 127


def test_zero_vector_never_emits(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    codes = quantize_embeddings(df)
    out = quantized_topk_coded(codes, codes, k=2).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert 1 not in ids


def test_recall_vs_exact_on_real_embeddings(spark):
    cat = Catalog(spark, SF_DIR)
    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk_integral(emb, queries, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in quantized_topk_coded(
            quantize_embeddings(emb), quantize_embeddings(queries), k=5
        ).collect()
    }
    # int8 on 64-dim embeddings: expect near-perfect top-5 agreement
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall {recall}"


def test_score_close_to_exact(spark):
    cat = Catalog(spark, SF_DIR)
    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") == 0)
    # both tiers expose the integral key: cosine is
    # sign(dot)·sqrt(|score2_e12|/10^12)
    def cos(dot, key):
        return (-1.0 if dot < 0 else 1.0) * math.sqrt(abs(key) / 1e12)

    exact = {
        r["neighbor_id"]: cos(r["dot_e9"], r["score2_e12"])
        for r in brute_force_topk_integral(emb, queries, k=3).collect()
    }
    quant = {
        r["neighbor_id"]: cos(r["dot_i"], r["score2_e12"])
        for r in quantized_topk_coded(
            quantize_embeddings(emb), quantize_embeddings(queries), k=3
        ).collect()
    }
    for nid in exact.keys() & quant.keys():
        assert abs(exact[nid] - quant[nid]) < 0.05


def test_label_outliers_find_planted_mislabel(spark):
    from simple_etl_spark.llm.similarity import label_outliers

    # label 0 clusters near +x; vec 99 points along -x (mislabeled)
    rows = [(i, [1.0, 0.1 * (i % 3), 0.0], 0) for i in range(6)]
    rows.append((99, [-1.0, 0.0, 0.05], 0))
    rows += [(i, [0.0, 1.0, 0.1], 1) for i in range(100, 104)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    out = label_outliers(df, k=2)
    worst = {r["label"]: r["vec_id"] for r in out.collect() if r["rnk"] == 1}
    assert worst[0] == 99
    assert float(out.filter("vec_id = 99").head()["score_q"]) < 0


def test_stored_corpus_codes_roundtrip_and_staleness_key(spark, sf_dir):
    """The materialized code snapshot must be value-identical to an
    inline quantize (determinism makes the cache correctness-neutral),
    and a second resolve must hit the same snapshot version (quantize
    once, read thereafter). The expected path comes from the SAME
    helper the implementation uses (code_table_base), so the layout
    recipe cannot silently drift apart again."""
    import os

    from simple_etl_spark.llm.similarity import (
        code_table_base,
        quantize_embeddings,
        stored_corpus_codes,
    )
    from simple_etl_spark.sources import table_store as ts

    src = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(src)
    inline = {
        r["vec_id"]: list(r["qvec"])
        for r in quantize_embeddings(emb).select("vec_id", "qvec").collect()
    }
    stored = stored_corpus_codes(emb, src)
    got = {r["vec_id"]: list(r["qvec"]) for r in stored.collect()}
    assert got == inline
    # second resolve: same snapshot version — no re-materialization
    base = code_table_base(src)
    v1 = ts.current_version(base)
    assert v1 is not None
    stored_corpus_codes(emb, src).count()
    assert ts.current_version(base) == v1


def test_stored_corpus_codes_lifecycle_staleness(spark, tmp_path):
    """End-to-end code-store lifecycle: resolve codes for a corpus,
    overwrite the corpus (new mtime/size → new digest), resolve again
    and assert (a) a FRESH digest directory was minted, (b) the stale
    sibling survives inside the prune grace window (ADVICE r8: two
    live sessions must not rmtree each other's snapshots) but is
    pruned once aged out, and (c) the new codes match an inline
    re-quantization of the new data."""
    import os

    from simple_etl_spark.llm.similarity import (
        code_table_base,
        quantize_embeddings,
        stored_corpus_codes,
    )

    src = str(tmp_path / "corpus.parquet")
    df1 = spark.createDataFrame(
        [(i, [0.1 * i, 1.0 - 0.05 * i, 0.3]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    df1.coalesce(1).write.mode("overwrite").parquet(src)
    emb1 = spark.read.parquet(src)
    stored_corpus_codes(emb1, src).count()
    base1 = code_table_base(src)
    assert os.path.isdir(base1)

    # regenerate the corpus: different rows → different size/mtime
    df2 = spark.createDataFrame(
        [(i, [1.0 - 0.02 * i, 0.2 * i, -0.4]) for i in range(25)],
        "vec_id bigint, embedding array<double>",
    )
    df2.coalesce(1).write.mode("overwrite").parquet(src)
    emb2 = spark.read.parquet(src)
    got = {
        r["vec_id"]: list(r["qvec"])
        for r in stored_corpus_codes(emb2, src).collect()
    }
    base2 = code_table_base(src)
    assert base2 != base1, "regenerated source must mint a fresh digest"
    assert os.path.isdir(base2)
    # within the default grace window the old digest could be another
    # live writer's snapshot — it must NOT be pruned yet
    assert os.path.isdir(base1), "fresh sibling must survive the grace window"
    # aged out (grace 0) it is stale and goes
    stored_corpus_codes(emb2, src, prune_grace_s=0.0).count()
    assert not os.path.isdir(base1), "aged-out sibling digest must be pruned"
    # same source key: both digests live under one source directory
    assert os.path.dirname(base2) == os.path.dirname(base1)
    inline = {
        r["vec_id"]: list(r["qvec"])
        for r in quantize_embeddings(emb2).select("vec_id", "qvec").collect()
    }
    assert got == inline


def test_stored_corpus_codes_falls_back_when_source_unstatable(spark, sf_dir):
    """A source path that cannot be stat'ed (no digest → no cache key)
    must degrade to the inline quantize, not fail."""
    import os

    from simple_etl_spark.llm.similarity import stored_corpus_codes

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = stored_corpus_codes(emb, "/nonexistent/embeddings.parquet")
    assert out.count() == emb.count()
