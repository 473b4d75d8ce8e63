"""Physical-plan quality regressions (the 100 TB posture, checked).

Correctness tests prove the answers; these prove the *plans* — that
filters reach the parquet scan, dimension joins broadcast, top-k
avoids a global sort, and aggregations are partial before the
shuffle. A plan regression here is a scale bug even when results
stay right.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from simple_etl_spark.engine import Catalog


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def cat(spark, sf_dir):
    return Catalog(spark, sf_dir)


def test_filter_pushdown_reaches_scan(cat):
    df = cat["orders"].filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)" in plan


def test_column_pruning_reaches_scan(cat):
    df = cat["lineitem"].groupBy("l_returnflag").count()
    plan = _plan(df)
    assert "ReadSchema: struct<l_returnflag:string>" in plan


def test_dimension_join_broadcasts(spark, sf_dir):
    from simple_etl_spark.queries import queries

    df = queries()["revenue_by_segment"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    from simple_etl_spark.queries import queries

    df = queries()["top10_orders"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_before_shuffle(cat):
    df = cat["lineitem"].groupBy("l_returnflag").agg(F.count(F.lit(1)))
    plan = _plan(df)
    # partial HashAggregate must appear below the Exchange
    assert plan.index("partial_count") > 0
    assert "Exchange" in plan


def test_left_anti_join_no_cartesian(spark, sf_dir):
    from simple_etl_spark.queries import queries

    df = queries()["customers_without_orders"](spark, sf_dir)
    plan = _plan(df)
    assert "Cartesian" not in plan
    assert "LeftAnti" in plan


def test_events_timestamp_canonicalized(cat):
    # the NANOS fix-up must yield a usable timestamp type, not a long
    assert dict(cat["events"].dtypes)["ts"].startswith("timestamp")


def test_fuzzy_search_broadcasts_matched_vocab(spark, sf_dir):
    """The fuzzy matcher must broadcast the (tiny) term list and the
    matched-token set back onto the tf relation — a SortMergeJoin on
    token would shuffle the whole posting relation for a handful of
    query terms."""
    from simple_etl_spark.queries import queries

    df = queries()["m_search_fuzzy"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_hamming_no_cartesian_and_partial_agg(spark, sf_dir):
    """Banded candidate generation must stay an equi-join on
    (band, value) — never a cartesian/all-pairs — and the 64
    conditional sums must partial-aggregate map-side."""
    from simple_etl_spark.queries import queries

    df = queries()["llm_simhash_hamming"](spark, sf_dir)
    plan = _plan(df)
    assert "Cartesian" not in plan
    assert "partial_sum" in plan


def test_doc_features_is_single_scan_projection(spark, sf_dir):
    """The per-doc feature matrix must stay one pass: no Exchange
    (shuffle) anywhere — it's a pure projection over documents."""
    from simple_etl_spark.queries import queries

    df = queries()["llm_doc_features"](spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # projection runs inside codegen


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    from simple_etl_spark.engine import Catalog
    from simple_etl_spark.operators.skew import salted_agg

    li = Catalog(spark, sf_dir)["lineitem"]
    plain = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs=[F.count(F.lit(1)).alias("n_p"), F.sum("l_quantity").alias("q_p")],
        merges=[F.sum("n_p").alias("n"), F.sum("q_p").alias("q")],
        factor=8,
    )
    a = {r["l_returnflag"]: (r["n"], round(r["q"], 2)) for r in plain.collect()}
    b = {r["l_returnflag"]: (r["n"], round(r["q"], 2)) for r in salted.collect()}
    assert a == b
    # two aggregation exchanges: salted granularity then key granularity
    plan = salted._sc._jvm.PythonSQLUtils.explainString(
        salted._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") >= 2


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from simple_etl_spark.engine import Catalog
    from simple_etl_spark.operators.skew import salted_join

    cat = Catalog(spark, sf_dir)
    orders = cat["orders"]
    cust = cat["customer"].withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust.hint("shuffle_hash"), ["o_custkey"]).groupBy(
        "c_mktsegment"
    ).count()
    salted = salted_join(orders, cust, ["o_custkey"], factor=4).groupBy(
        "c_mktsegment"
    ).count()
    a = {r["c_mktsegment"]: r["count"] for r in plain.collect()}
    b = {r["c_mktsegment"]: r["count"] for r in salted.collect()}
    assert a == b


def test_ivf_search_is_broadcast_equijoin_on_cell(spark, sf_dir):
    """The trained-IVF probe must pair queries with corpus vectors via
    a hash join keyed on the cell id with the (tiny) query side
    broadcast — never a cartesian over the corpus."""
    from simple_etl_spark.engine import Catalog
    from simple_etl_spark.llm.similarity import ivf_topk

    emb = Catalog(spark, sf_dir)["embeddings"]
    df = ivf_topk(
        emb, emb.filter("vec_id < 5"), k=3, n_centroids=4, iters=1, probes=2
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prereduce_auto_engages_by_scan_width(spark, sf_dir):
    """brute_force_topk_integral's map-side prereduce must turn itself
    on once the corpus scan is >= PREREDUCE_MIN_PARTITIONS wide (the
    window's shuffle input then shrinks from |Q|*|C| to k*|Q| per
    batch), and stay out of the plan on a narrow scan where the Arrow
    hop is pure overhead."""
    from simple_etl_spark.engine import Catalog
    from simple_etl_spark.llm.similarity import (
        PREREDUCE_MIN_PARTITIONS,
        brute_force_topk_integral,
    )

    emb = Catalog(spark, sf_dir)["embeddings"]
    queries = emb.filter("vec_id < 3")

    wide = emb.repartition(PREREDUCE_MIN_PARTITIONS)
    engaged = _plan(brute_force_topk_integral(wide, queries, k=5))
    assert "MapInPandas" in engaged

    narrow = emb.coalesce(1)
    off = _plan(brute_force_topk_integral(narrow, queries, k=5))
    assert "MapInPandas" not in off


def _simple_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


@pytest.mark.parametrize(
    "name",
    ["cumulative_daily_revenue", "daily_revenue_delta", "customer_revenue_quartiles"],
)
def test_unpartitioned_window_runs_on_post_agg_frame(spark, sf_dir, name):
    """The engine's unpartitioned windows (running totals, LAG deltas,
    ntile) funnel into one task by construction — that is only safe
    because their input is the *aggregated* frame (days / customers),
    never the fact table. Pin the contract in the plan: below the
    Window sits the single-partition exchange, and below THAT the
    aggregation that reduced the scan — so the O(rows) work happened
    before anything serialized."""
    from simple_etl_spark.queries import queries

    plan = _simple_plan(queries()[name](spark, sf_dir))
    wpos = plan.find("Window ")
    assert wpos != -1, f"no Window operator in {name}'s plan"
    # root-first simple-mode text: child operators print after parents
    xpos = plan.find("Exchange SinglePartition", wpos)
    assert xpos != -1, f"{name}: window input is not a single-partition exchange"
    apos = plan.find("HashAggregate", xpos)
    spos = plan.find("Scan ", xpos)
    assert apos != -1 and (spos == -1 or apos < spos), (
        f"{name}: the single-partition window reads the raw scan — the "
        "aggregation must run before the funnel"
    )


def test_incremental_dedup_is_single_key_anti_join(spark, sf_dir):
    """Incremental dedup must stay one md5 key end-to-end: a hash
    anti-join against the store (broadcast here; shuffled-on-key at
    scale), never a cartesian, with the split predicates pushed to the
    scans and the in-batch aggregation map-side partial."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_incremental_dedup"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,250)" in plan
    assert "partial_min" in plan


def test_repetition_features_aggregates_partially(spark, sf_dir):
    """Both explode branches must combine map-side before their
    shuffle — the (id, token) partial count is what keeps the plan
    linear in corpus size at 100 TB."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_repetition_quality"](spark, sf_dir))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_decontamination_broadcasts_eval_shingles(spark, sf_dir):
    """The benchmark shingle set must broadcast (evals are tiny next
    to the corpus); the corpus side is scanned once with no quadratic
    pairing."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_decontamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Sequence packing is a projection + generate over the scan —
    at 100 TB it must stream with no exchange at all."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_chunk_documents"](spark, sf_dir))
    assert "Generate" in plan  # the explode over chunk starts
    assert "Exchange" not in plan


def test_vocabulary_topn_avoids_global_sort(spark, sf_dir):
    """The vocab head must cut to top-N via TakeOrderedAndProject
    (never a full sort of the word counts), and its unpartitioned
    coverage window runs on the 50-row limited frame only."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_vocabulary"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # word counts combine map-side


def test_srp_bucketing_is_shuffle_free(spark, sf_dir):
    """SRP codes are a pure projection over the scan — at 100 TB the
    bucketing pass must stream with no exchange."""
    from simple_etl_spark.queries import queries

    plan = _plan(queries()["llm_srp_lsh"](spark, sf_dir))
    assert "Exchange" not in plan


def test_winnowing_fingerprints_shuffle_free(spark):
    """Fingerprinting itself never shuffles — the whole gram-hash +
    window-min selection is projections/generate over the scan; the
    first Exchange appears only in the downstream pair join."""
    from simple_etl_spark.llm.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "abcdefghijklmnop")], "doc_id bigint, text string")
    plan = _plan(winnow_fingerprints(df, k=8, w=4))
    assert "Exchange" not in plan


def test_linkage_blocking_is_single_scan(cat):
    """Multi-pass blocking must explode (one scan), not union one
    branch per key — K keys x full scan is the shape the review
    banned. The documents relation appears exactly twice (the two
    self-join sides), not 2*K times."""
    from pyspark.sql import functions as F2

    from simple_etl_spark.operators.linkage import blocked_fuzzy_pairs

    corpus = cat["documents"].select(
        F2.col("doc_id").alias("id"),
        F2.trim(F2.substring("text", 1, 60)).alias("title"),
    )
    plan = _plan(
        blocked_fuzzy_pairs(
            corpus,
            [lambda c: F2.substring(c, 1, 8), lambda c: F2.length(c)],
            id_col="id",
            text_col="title",
        )
    )
    import re

    # tree lines render as "...:- Scan parquet"/"...+- Scan parquet"
    # (the details section repeats nodes as "(N) Scan parquet", no dash)
    tree_scans = re.findall(r"- Scan parquet", plan)
    assert len(tree_scans) == 2  # one per self-join side, not per key
    assert "Generate" in plan  # the explode carrying the pass keys


def test_quantized_topk_broadcasts_queries(cat):
    from pyspark.sql import functions as F2

    from simple_etl_spark.llm.similarity import (
        quantize_embeddings,
        quantized_topk_coded,
    )

    emb = cat["embeddings"]
    plan = _plan(quantized_topk_coded(
        quantize_embeddings(emb),
        quantize_embeddings(emb.filter(F2.col("vec_id") < 3)),
        k=5,
    ))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_stays_arrayform_no_posting_shuffle(cat):
    """BM25 never materializes a (token, doc) posting relation: tf/dl
    are array expressions on the document row, and ONE global
    aggregate yields the corpus stats together with the list of
    matching documents, which is inlined and scored in place. Scale
    property pinned here: exactly one corpus scan, no join at all (so
    no crossJoin of the stats), no Exchange keyed by a token or doc
    column, and the head is TakeOrderedAndProject."""
    import re

    from simple_etl_spark.functions.text import bm25_rank

    plan = _plan(
        bm25_rank(
            cat["documents"].selectExpr("doc_id as id", "text as search_text"),
            ["spark", "merge"],
        )
    )
    assert len(re.findall(r"- Scan parquet", plan)) == 1
    assert "Join" not in plan  # BroadcastNestedLoopJoin included
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(token" not in plan
    assert "hashpartitioning(doc" not in plan
    assert "TakeOrderedAndProject" in plan


ENTITY_QUERIES = (
    "m_entity_rollup",
    "m_top_entity_per_type",
    "m_entity_dedupe_keepmax",
    "m_entity_context",
    "m_entity_backlog",
)


@pytest.mark.parametrize("name", ENTITY_QUERIES)
def test_entity_queries_plan_no_python_node(spark, sf_dir, name):
    """The oracle-pinned extractor runs as its Column form: none of
    the entity queries crosses into a Python worker."""
    from simple_etl_spark.planinfo import plan_summary
    from simple_etl_spark.queries import queries

    summary = plan_summary(queries()[name](spark, sf_dir))
    assert summary["map_in_pandas"] == 0
    assert summary["arrow_eval_python"] == 0


def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    """Global scale firewall: no registered query may plan a
    CartesianProduct. Broadcast nested-loop joins over 1-row/driver-
    bounded frames are allowed (scalar blocks, query broadcasts);
    an unbounded cartesian is a 100 TB outage in waiting."""
    from simple_etl_spark import queries as q

    q._load_all()
    offenders = []
    for name, spec in q.REGISTRY.items():
        try:
            df = spec.fn(spark, sf_dir)
        except Exception as exc:  # pragma: no cover - surface build errors
            offenders.append((name, f"build failed: {exc}"))
            continue
        if df.isStreaming:
            continue
        plan = _plan(df)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_plan_summary_counts(cat):
    from simple_etl_spark.planinfo import assert_scale_shape, plan_summary
    from simple_etl_spark.queries import queries

    df = queries()["revenue_by_segment"](cat.spark, cat.sf_dir)
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 1
    assert s["sort_merge_joins"] == 0
    assert s["cartesian_products"] == 0
    assert s["scans"] >= 2
    # the guard passes for the posture the query declares...
    assert_scale_shape(df, require_broadcast=True, forbid_sort_merge=True)
    # ...and trips loudly on an impossible budget
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="exchanges"):
        assert_scale_shape(df, max_exchanges=0)


def test_skew_profile_values(spark):
    from simple_etl_spark.operators.skew import skew_profile

    df = spark.createDataFrame(
        [("hot",)] * 80 + [("a",)] * 10 + [("b",)] * 10, "k string"
    )
    rows = skew_profile(df, ["k"], top_n=3).collect()
    assert rows[0]["k"] == "hot"
    assert rows[0]["cnt"] == 80
    assert rows[0]["share_permille"] == 800
    # mean key size = 100/3 → hot is 80/(100/3) = 2.4 → floor 2
    assert rows[0]["skew_factor"] == 2


def test_near_dup_join_condition_carries_no_decimal_dot(spark):
    """Perf regression pin for the integral threshold ops: Catalyst
    pushes projected-filter expressions into join conditions, and
    before the Arrow barrier in _prune_band_filter that put the
    decimal dot product (idot20 — decimal(19,0)/decimal(38,0)
    arithmetic) on EVERY candidate pair, 3.5x slower at sf0.1. The
    join node's condition may carry the cheap float64 prune, but
    never decimal arithmetic."""
    from pyspark.sql import functions as F

    from simple_etl_spark.llm.similarity import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, i % 2, [1.0 * i, 0.5, 0.25]) for i in range(1, 9)],
        "vec_id bigint, label int, embedding array<double>",
    )
    out = embedding_near_dups(emb, threshold=0.9)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "Inner" in ln
    ]
    assert join_lines, plan
    for ln in join_lines:
        assert "decimal(38,0)" not in ln and "decimal(19,0)" not in ln, (
            "decimal dot arithmetic leaked into the join condition — "
            "the pushdown barrier in _prune_band_filter is gone:\n" + ln
        )


def test_contamination_join_carries_no_decimal_dot(spark):
    """Same pushdown-barrier pin through the OTHER _prune_band_filter
    call site: semantic_contamination's broadcast crossJoin. Its plan
    nodes are BroadcastNestedLoopJoin/Cross — never matched by the
    Inner-join filter above — so without this test a contamination-
    path-only refactor could silently reintroduce the decimal-dot-on-
    every-pair regression."""
    from simple_etl_spark.llm.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [(i, [1.0 * i, 0.5, 0.25]) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100, [0.5, 0.5, 0.5]), (101, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = semantic_contamination(corpus, bench, threshold=0.9)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan
    for ln in join_lines:
        assert "decimal(38,0)" not in ln and "decimal(19,0)" not in ln, (
            "decimal dot arithmetic leaked into a join condition on the "
            "contamination path — the pushdown barrier is gone:\n" + ln
        )


def test_greedy_packing_costs_exactly_one_exchange(spark):
    """The greedy fold's selling point is ONE shuffle (the shard
    repartition) — the r7 review removed a second full-corpus rejoin;
    this pins it out for good."""
    from simple_etl_spark.llm.packing import pack_greedy_nosplit

    df = spark.createDataFrame(
        [(i, 10) for i in range(50)], "doc_id bigint, tok int"
    )
    plan = (
        pack_greedy_nosplit(df, "tok", "doc_id", 64, n_shards=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_oov_vocab_join_is_broadcast(spark):
    """The |vocab|-sized head must broadcast against the exploded
    corpus — a shuffle of the fact side on the word key would be the
    100 TB regression. (The closing doc-keyed re-attach join is a
    legitimate SMJ: both sides are corpus-sized.)"""
    from simple_etl_spark.llm.textstats import oov_stats

    docs = spark.createDataFrame(
        [(i, "hello world foo") for i in range(20)],
        "doc_id bigint, text string",
    )
    plan = (
        oov_stats(docs, top_n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_mixture_weights_join_is_broadcast_only(spark):
    """The |strata|-sized weights frame must broadcast back onto the
    corpus — no sort-merge join anywhere in the mixture plan."""
    from simple_etl_spark.llm.sampling import epoch_expanded_mixture

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(50)], "doc_id bigint, source string"
    )
    plan = (
        epoch_expanded_mixture(df, "source", "doc_id", 30)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_prefix_dup_band_exchange_carries_no_text(spark):
    """r7's one flagged shuffle payload: prefix_duplicates used to
    ship full normalized document text through both sides of the
    skew-prone band exchange. The fix verifies candidates with a
    prefix-hash ladder, so every band-keyed Exchange must move only
    ids + lengths + hashes; the sole exchange allowed to carry text
    is the uniform id-keyed verify join."""
    import re

    from simple_etl_spark.llm.dedup import prefix_duplicates

    df = spark.createDataFrame(
        [(i, ("abcdefgh " * 8)[: 40 + i]) for i in range(30)],
        "doc_id bigint, text string",
    )
    out = prefix_duplicates(df, "doc_id", "text", band_chars=32)
    plan = _plan(out)
    band_exchanges = [
        blk
        for blk in re.split(r"\n\(\d+\) ", plan)
        if blk.startswith("Exchange")
        and "hashpartitioning(_band" in blk
    ]
    assert band_exchanges, f"expected band-keyed exchanges in:\n{plan}"
    for blk in band_exchanges:
        inp = next(
            (ln for ln in blk.splitlines() if ln.startswith("Input")), ""
        )
        assert "_norm" not in inp and "_vnorm" not in inp, (
            f"document text crosses a band exchange:\n{blk}"
        )


def test_cap_audit_plan_has_no_pair_join(spark):
    """cap_drop_audit's cost claim (VERDICT r9 #6 close-out): the
    audit builds the capped operators' banding by CALLING them but
    executes only the slim keyed aggregates — the pair self-joins are
    planned and discarded. The audit relation's physical plan must
    therefore contain NO join at all: two aggregation chains over the
    banded relations, a union, a sort — and nothing quadratic."""
    from simple_etl_spark.llm.dedup import cap_drop_audit

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 4 + str(i)) for i in range(20)],
        "doc_id bigint, text string",
    )
    out = cap_drop_audit(df, "doc_id", "text",
                         simhash_bucket=5, prefix_bucket=5)
    plan = _plan(out)
    for join in ("SortMergeJoin", "BroadcastHashJoin",
                 "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct"):
        assert join not in plan, f"{join} leaked into the audit:\n{plan}"
    assert plan.count("HashAggregate") >= 4  # partial+final per tier


def test_word_ngram_lambda_carries_no_tokenize(spark):
    """r14 HOF-capture regression pin: a transform lambda that
    captures the raw split(lower(text)) expression re-evaluates the
    tokenize at EVERY gram position (no CSE inside a projection) —
    measured 7x at sf0.1 and 10.7x at sf1 on the gram build. The
    words array must be materialized as its own projection, so the
    gram transform's lambda references only the staged attribute:
    no split() call may appear inside any lambdafunction of the
    plan."""
    import re

    from simple_etl_spark.llm.textstats import word_ngrams

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id bigint, text string"
    )
    plan = _plan(word_ngrams(df, ["doc_id"], "text", 3))
    for lam in re.findall(r"lambdafunction\([^\n]*", plan):
        assert "split(" not in lam, (
            f"tokenize captured inside a HOF lambda (re-evaluated per "
            f"gram position):\n{lam}"
        )


def test_quantize_scale_computed_once(spark):
    """r14 HOF-capture regression pin for quantize_embeddings: the
    int8 code transform must reference the STAGED scale column, not
    re-evaluate the array_max(transform(abs)) expression per element
    (O(dim^2) per vector). Exactly one array_max may appear in the
    plan, and never inside the rounding lambda."""
    import re

    from simple_etl_spark.llm.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.1, 0.5, -0.3])], "vec_id bigint, embedding array<double>"
    )
    plan = _plan(quantize_embeddings(df))
    assert plan.count("array_max") == 1, plan
    for lam in re.findall(r"lambdafunction\([^\n]*round[^\n]*", plan):
        assert "array_max" not in lam, (
            f"scale expression captured inside the code transform:\n{lam}"
        )


def test_simhash_hamming_plan_has_no_join(spark):
    """r14 verify-in-generator pin: simhash_hamming_pairs carries the
    fingerprint words through the banded grouped aggregation and
    verifies bit_count(xor) <= k in the SAME stage that emits the
    pair — the quadratic candidate relation must never be exchanged
    for a verification join (measured 11.99s -> 0.64s at sf1 on the
    degenerate-vocabulary corpus). The plan must contain no join of
    any kind; the only shuffles are the banded groupBy and the
    output-sized distinct."""
    from simple_etl_spark.llm.dedup import simhash_hamming_pairs

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 3 + str(i)) for i in range(12)],
        "id bigint, text string",
    )
    out = simhash_hamming_pairs(df, "id", "text", max_distance=3,
                                persist=False)
    plan = _plan(out)
    for join in ("SortMergeJoin", "BroadcastHashJoin",
                 "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct"):
        assert join not in plan, f"{join} leaked into the verify:\n{plan}"
