"""Runnable tour of the engine — what a user switching from the
reference stack touches in their first hour.

    python examples/quickstart.py [sf_dir]

Walks: session + catalog, a few analytics queries, the near-dup
pipeline (MinHash → clusters → survivors), ANN search, the snapshot
store (commit → merge → time travel → z-order compaction → pruned
read), and a streaming drain with in-flight metrics. Everything here
is the same public API the query registry uses.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_etl_spark.engine import Catalog, get_spark, tune_for_input  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("quickstart")
    tune_for_input(spark, sf_dir)
    cat = Catalog(spark, sf_dir)

    print("== analytics ==")
    from simple_etl_spark.queries import queries

    qs = queries()
    for name in ("pricing_summary", "revenue_by_segment", "topic_counts"):
        rows = qs[name](spark, sf_dir).collect()
        print(f"{name}: {len(rows)} rows; first={tuple(rows[0])[:4]}")

    print("== near-dup pipeline ==")
    from simple_etl_spark.llm.dedup import (
        apply_dedup,
        dedup_clusters,
        near_dedup_minhash,
    )

    docs = cat["documents"].select(F.col("doc_id").alias("id"), "text")
    pairs = near_dedup_minhash(docs, "id", "text", threshold=0.5)
    clusters = dedup_clusters(pairs.select("id_a", "id_b"), docs.select("id"))
    survivors = apply_dedup(clusters)
    print(
        f"{docs.count()} docs -> {pairs.count()} near-dup pairs -> "
        f"{survivors.count()} survivors"
    )

    print("== ANN search ==")
    import math

    from simple_etl_spark.llm.similarity import brute_force_topk_integral

    emb = cat["embeddings"]
    queries = emb.filter(F.col("vec_id") < 2)
    top = brute_force_topk_integral(emb, queries, k=3).collect()
    for r in top:
        # the exposed key is the signed squared cosine in pico-units
        sign = -1.0 if r["dot_e9"] < 0 else 1.0
        cos = sign * math.sqrt(abs(r["score2_e12"]) / 10**12)
        print(f"  q{r['query_id']} -> n{r['neighbor_id']} cosine={cos:.6f}")

    print("== snapshot store ==")
    from simple_etl_spark.sources.manifest import prune_files, read_pruned
    from simple_etl_spark.sources.table_store import (
        compact,
        read_table_at,
        table_path,
        write_table,
    )

    base = os.path.join(tempfile.mkdtemp(), "events_table")
    ev = cat["events"].select(
        "event_id", (F.col("user_id") % 64).alias("u"), (F.col("event_id") % 64).alias("e")
    )
    write_table(ev, base)
    compact(spark, base, target_file_bytes=64_000, zorder_by=["u", "e"], zorder_bits=6)
    snap = table_path(base)
    kept, total = prune_files(snap, "u", 3, 3)
    n = read_pruned(spark, snap, "u", 3, 3).count()
    print(f"z-ordered compaction: read {len(kept)}/{total} files for u=3 ({n} rows)")
    print(f"time travel: v1 had {read_table_at(spark, base, 1).count()} rows")

    print("== curation pack (round 5) ==")
    from simple_etl_spark.functions.clean import canonicalize_url
    from simple_etl_spark.llm.sampling import training_order
    from simple_etl_spark.llm.similarity import semantic_contamination

    order = training_order(cat["documents"].select("doc_id"), "doc_id",
                           seed=42, n_shards=4)
    sizes = {r["shard"]: r["n"] for r in
             order.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    print(f"training order: 4 shards sized {sorted(sizes.values())}")
    raw = "HTTPS://Ex.COM:443/a/?utm_source=f&id=9#top"
    canon = spark.range(1).select(
        canonicalize_url(F.lit(raw)).alias("c")
    ).first()["c"]
    print(f"canonicalize_url: {raw} -> {canon}")
    emb = cat["embeddings"]
    contam = semantic_contamination(
        emb, emb.filter(F.col("vec_id") % 25 == 0), threshold=0.9
    )
    n_hit = contam.filter(F.col("n_hits") > 0).count()
    print(f"semantic contamination: {n_hit} vectors over 0.9 vs the eval slice")

    print("== search pack ==")
    from simple_etl_spark.functions.text import (
        more_like_this,
        phrase_search,
        suggest,
    )

    docs = cat["documents"]
    n_phrase = phrase_search(
        docs, "table value", id_col="doc_id", text_col="text"
    ).count()
    print(f"match_phrase 'table value': {n_phrase} docs")
    top = suggest(docs, "sc", id_col="doc_id", text_col="text", top_n=3)
    print("suggest 'sc':", [r["token"] for r in top.collect()])
    mlt = more_like_this(docs, 7, id_col="doc_id", text_col="text",
                         max_query_terms=10, top_n=3)
    print("more_like_this(doc 7):",
          [(r["doc"], str(r["score_q"])) for r in mlt.collect()])

    print("== streaming with in-flight metrics ==")
    from simple_etl_spark.observability import promote_with_metrics

    out = os.path.join(tempfile.mkdtemp(), "silver")
    stats = promote_with_metrics(
        cat["documents"],
        promote=lambda b: b.filter(F.length("text") >= 50),
        sink=lambda s: s.write.mode("overwrite").parquet(out),
    )
    print(f"promotion metrics (no re-count scans): {stats}")

    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:2])
