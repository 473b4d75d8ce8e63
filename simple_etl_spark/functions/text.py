"""Text search & word-frequency operators (SURVEY §2.8 F19-F21, §2.4 A16).

The reference routes full-text search to Elasticsearch
(`services/es.py:166-240`, multi_match with field weights `title^3,
content^1`) and wordcloud frequency to driver-side Python
(`app.py:19-31,123-153`). Here both are distributed DataFrame
operators: scoring is a Column expression (JVM-side, codegen), word
frequency is explode→filter→aggregate — fully partition-parallel with
map-side partial aggregation, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The reference's Indonesian stopword lexicon, carried verbatim from
# app.py:19-31 (INDONESIAN_STOPWORDS; duplicates 'nanti'/'pun' deduped,
# declaration order preserved so oracle-SQL interpolation is stable).
STOPWORDS = (
    "yang", "dan", "di", "ke", "dari", "dalam", "untuk", "pada", "dengan",
    "ini", "itu", "adalah", "akan", "telah", "sudah", "dapat", "bisa",
    "juga", "tidak", "atau", "serta", "oleh", "sebagai", "karena", "saat",
    "ketika", "sebelum", "sesudah", "antara", "namun", "tetapi", "jika",
    "maka", "bila", "kita", "kami", "mereka", "dia", "ia", "nya", "mu",
    "ku", "anda", "saya", "kamu", "beliau", "para", "semua", "setiap",
    "masing", "beberapa", "banyak", "sedikit", "lebih", "kurang", "paling",
    "sangat", "amat", "begitu", "sekali", "lagi", "masih", "sedang",
    "tengah", "baru", "lama", "dulu", "nanti", "sekarang", "hari", "waktu",
    "tahun", "bulan", "minggu", "jam", "menit", "detik", "pagi", "siang",
    "sore", "malam", "kemarin", "besok", "lusa", "tadi", "sebentar",
    "lalu", "kemudian", "akhirnya", "ada", "tak", "pun", "lah", "kah",
    "tah", "pula", "saja", "hanya", "cuma", "dong", "kok", "sih", "deh",
    "yah", "nih", "tuh", "wah", "aduh", "astaga", "alamak", "ayo", "mari",
    "silakan", "kata", "ucap", "tutur", "sebut", "bilang", "ungkap",
    "jelas", "terang", "nyata",
)


def term_count(col: Column | str, term: str) -> Column:
    """Occurrences of ``term`` in ``col`` — pure length arithmetic, no
    UDF, exact integers (so oracles agree bit-for-bit)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(term), F.lit(""))))
        / F.lit(len(term))
    ).cast("bigint")


def weighted_search(
    df: DataFrame,
    terms: list[str],
    fields: dict[str, float] | None = None,
) -> DataFrame:
    """F21: ES multi_match parity — per-field term-frequency score with
    weights (default `title^3, content^1` like services/es.py:189),
    rows with zero score dropped, callers sort by score."""
    fields = fields or {"title": 3.0, "content": 1.0}
    score: Column = F.lit(0).cast("bigint")
    for field, weight in fields.items():
        for term in terms:
            score = score + F.lit(int(weight)) * term_count(field, term)
    return df.withColumn("score", score).filter(F.col("score") > 0)


def tokenize(col: Column | str) -> Column:
    """F19: lowercase, strip non-alpha to spaces, split on whitespace
    (app.py:123-134)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.regexp_replace(F.lower(c), "[^a-z ]", " "), r"\s+")


def word_frequencies(
    df: DataFrame,
    col: str = "content",
    stopwords: tuple[str, ...] = STOPWORDS,
    min_len: int = 3,
) -> DataFrame:
    """A16/F20: the wordcloud feed — explode tokens, drop stopwords and
    short tokens, count. Partial aggregation makes this one shuffle of
    (word, partial_count), not of the exploded token stream."""
    return (
        df.select(F.explode(tokenize(col)).alias("word"))
        .filter((F.length("word") >= min_len) & (~F.col("word").isin(*stopwords)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def build_search_index(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "search_text",
    stopwords: tuple[str, ...] = STOPWORDS,
    min_len: int = 3,
) -> DataFrame:
    """S9/S10: the engine's 'search table' — the ES index build
    re-expressed as a posting-list relation.

    The reference's custom analyzer (lowercase + stop filter,
    services/es.py:43-101) runs as tokenize→filter; the 'index' is the
    (token, doc) posting relation with per-doc term frequency. Persist
    partitioned/bucketed by token for point-lookup pruning at scale;
    doc_freq/tf feed the F21 scorer."""
    postings = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokenize(text_col)).alias("token"))
        .filter((F.length("token") >= min_len) & (~F.col("token").isin(*stopwords)))
        .groupBy("token", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return postings


def index_stats(postings: DataFrame) -> DataFrame:
    """Per-token index statistics: document frequency + collection tf
    (the ES terms-aggregation view of the index)."""
    return postings.groupBy("token").agg(
        F.countDistinct("doc").alias("doc_freq"),
        F.sum("tf").alias("collection_tf"),
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    id_col: str = "id",
    text_col: str = "search_text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    stopwords: tuple[str, ...] = STOPWORDS,
    min_len: int = 3,
) -> DataFrame:
    """Okapi BM25 ranked retrieval — the scoring model the reference's
    Elasticsearch actually runs under every `_score desc` search
    (services/es.py:166-240; ES>=5 default similarity is BM25 with
    k1=1.2, b=0.75). `weighted_search` reproduces the reference's
    field *weights*; this reproduces the *relevance model*: Lucene's
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) times the saturated
    tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)) term.

    Determinism contract: every per-(doc, token) contribution is one
    straight-line double expression (identical parenthesization in the
    SQL oracle) quantized to 6 dp, then summed EXACTLY in decimal —
    order-independent, so ulp-level engine drift (e.g. ln rounding)
    cannot reach the exposed score or the ranking, which orders by the
    quantized score with an id tie-break.

    Scale shape: the query's term list is a literal handful, so no
    (token, doc) posting relation is ever materialized. The analyzed
    token stream stays an ARRAY on its document row, and ``dl`` and
    each term's ``tf`` are array expressions in one projection. ONE
    global aggregate of that projection yields the corpus stats
    (n_docs, avgdl, per-term document frequencies) together with the
    list of matching documents, which is inlined and scored in place.
    The corpus is therefore scanned and tokenized once, with no join
    and no corpus-sized shuffle; the aggregate's memory grows with the
    matching documents, not the corpus. The final top-n is
    TakeOrderedAndProject. Per-term contributions of tf=0 terms are
    exactly 0.000000 in decimal, so the summed score matches the
    posting-relation formulation (the SQL oracle) bit-for-bit.
    Precondition (guarded by the oracle parity suite): ``id_col`` is
    unique — duplicate-id rows merged into one virtual document by a
    posting groupBy belong to the posting-index tier
    (:func:`build_search_index`), not ranked retrieval."""
    terms = sorted({t.lower() for t in terms})
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            tokenize(text_col),
            lambda t: (F.length(t) >= min_len) & ~t.isin(*stopwords),
        ).alias("_toks"),
    ).select(
        "doc",
        F.size("_toks").cast("bigint").alias("dl"),
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda is PySpark's (element, index) form and the second
        # parameter would silently become the array index
        *[
            F.size(F.filter("_toks", (lambda _t: lambda t: t == F.lit(_t))(term)))
            .cast("bigint")
            .alias(f"_tf{i}")
            for i, term in enumerate(terms)
        ],
    ).filter(F.col("dl") >= 1)
    # N, avgdl, every term's document frequency and the hit rows: ONE
    # pass of exact integer aggregates (one double division) —
    # bit-identical on any engine to the posting-relation formulation.
    # collect_list skips the NULL of a non-matching document, so the
    # aggregate holds the matching documents only, never the corpus.
    tfs = [F.col(f"_tf{i}") for i in range(len(terms))]
    any_hit = (F.greatest(*tfs) if len(tfs) > 1 else tfs[0]) > 0
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[F.count_if(tf > 0).alias(f"_df{i}") for i, tf in enumerate(tfs)],
        F.collect_list(F.when(any_hit, F.struct("doc", "dl", *tfs))).alias("_hits"),
    )
    scored = stats.select(
        "n_docs",
        "avgdl",
        *[f"_df{i}" for i in range(len(terms))],
        F.inline("_hits"),
    )

    def _contrib(i: int) -> Column:
        tf = F.col(f"_tf{i}")
        dfq = F.col(f"_df{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        )
        tfn = (tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        # a tf=0 term contributes decimal 0.000000 — adding it to the
        # exact decimal sum is a no-op, matching the posting shape
        # where the (doc, term) row simply does not exist
        return (idf * tfn).cast("decimal(18,6)")

    score = _contrib(0)
    for i in range(1, len(terms)):
        score = score + _contrib(i)
    return (
        scored.select(
            "doc", score.cast("decimal(18,6)").alias("score_q")
        )
        .orderBy(F.desc("score_q"), F.asc("doc"))
        .limit(top_n)
    )


def auto_fuzziness(term: Column) -> Column:
    """ES `fuzziness: AUTO` edit-distance budget (services/es.py:181):
    0 for terms of length 0-2, 1 for 3-5, 2 for 6+."""
    return (
        F.when(F.length(term) < 3, 0)
        .when(F.length(term) <= 5, 1)
        .otherwise(2)
    )


def fuzzy_weighted_search(
    df: DataFrame,
    terms: list[str],
    fields: dict[str, int] | None = None,
    id_col: str = "id",
    highlight_field: str = "content",
) -> DataFrame:
    """F21 full parity with the reference's ES search
    (services/es.py:166-240): multi_match over weighted fields with
    `fuzziness: AUTO` plus highlight snippets.

    Scale shape: tokens are aggregated to per-(doc, field, token) tf
    first (one shuffle, map-side partial agg), the *distinct vocabulary*
    — tiny relative to the corpus — is matched against the broadcast
    term list with `levenshtein`, and the matched-token set (tiny)
    broadcasts back onto the tf relation, so no per-token-instance edit
    distance is ever computed and the corpus never joins itself.

    A token matching any term counts once (matched tokens are deduped),
    so scores stay deterministic when terms overlap.

    Highlights: title hits return the whole (short) field like ES's
    default; the content snippet is a 150-char window centred on the
    first occurrence of the lexicographically-first matched token —
    deterministic, oracle-reproducible stand-ins for ES fragments.
    """
    fields = fields or {"title": 3, "content": 1}
    spark = df.sparkSession
    terms_df = spark.createDataFrame(
        [(t.lower(),) for t in terms], "term string"
    )

    posts = None
    for field in fields:
        p = df.select(
            F.col(id_col).alias("__doc"),
            F.lit(field).alias("__field"),
            F.explode(tokenize(field)).alias("token"),
        ).filter(F.length("token") >= 1)
        posts = p if posts is None else posts.unionByName(p)
    tf = posts.groupBy("__doc", "__field", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )

    vocab = tf.select("token").distinct()
    matched = (
        vocab.join(
            F.broadcast(terms_df),
            F.levenshtein(F.col("token"), F.col("term"))
            <= auto_fuzziness(F.col("term")),
        )
        .select("token")
        .distinct()
    )

    weight = F.lit(None)
    for field, w in fields.items():
        weight = F.when(F.col("__field") == field, F.lit(int(w))).otherwise(weight)
    scored = (
        tf.join(F.broadcast(matched), "token")
        .groupBy("__doc")
        .agg(
            F.sum(weight * F.col("tf")).cast("bigint").alias("score"),
            F.min(
                F.when(F.col("__field") == highlight_field, F.col("token"))
            ).alias("__hl_token"),
            F.max((F.col("__field") == "title").cast("int")).alias("__title_hit"),
        )
    )

    pos = F.expr(f"instr(lower({highlight_field}), __hl_token)")
    return (
        df.join(scored, df[id_col] == scored["__doc"])
        .select(
            df[id_col],
            "title",
            "score",
            F.when(F.col("__title_hit") == 1, F.col("title")).alias(
                "highlight_title"
            ),
            F.when(
                F.col("__hl_token").isNotNull() & (pos > 0),
                F.expr(
                    f"substring({highlight_field},"
                    f" greatest(1, instr(lower({highlight_field}), __hl_token) - 60),"
                    " 150)"
                ),
            ).alias("highlight_content"),
        )
    )


def normalize_text(col: Column | str) -> Column:
    """Training-data text normalization: lowercase, strip URLs,
    collapse runs of whitespace, trim. The canonical pre-dedup
    transform — near-dup detection over un-normalized text misses
    trivially-reformatted copies.

    Pure Column expressions; each regex is one vectorized pass. Kept
    deliberately engine-portable (the oracle reproduces it with the
    same three regexes + lower/trim).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"https?://\S+", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def positional_postings(
    df: DataFrame, id_col: str = "id", text_col: str = "search_text"
) -> DataFrame:
    """Positional posting relation (doc, pos, token): token positions
    in the analyzed stream. Unlike :func:`build_search_index` (which
    drops stop/short tokens before counting), every analyzed slot
    keeps its position, so an intervening ALPHABETIC token (including
    stopwords) breaks phrase adjacency rather than splicing it.
    Documented divergence from ES's standard analyzer: this engine's
    analyzer (F19, app.py:123-134) folds digits/punctuation to
    whitespace BEFORE positions are assigned, so a purely numeric or
    punctuation token occupies no slot — 'table 5 value' still
    matches the phrase 'table value' here, where ES's standard
    analyzer would index '5' at its own position and break the
    phrase."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(text_col)).alias("pos", "token"),
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "id",
    text_col: str = "search_text",
) -> DataFrame:
    """ES match_phrase over the posting relation: documents containing
    the analyzed terms of ``phrase`` at CONSECUTIVE positions, with
    per-doc occurrence counts.

    Adjacency follows the engine's analyzer: alphabetic tokens
    (stopwords included) occupy positions and break phrases;
    digit/punctuation runs are folded to whitespace pre-positioning
    and do not (see :func:`positional_postings` for the documented
    ES divergence).

    Plan: the k-term phrase is k-1 keyed equi-joins on
    (doc, start_position) between per-term posting slices — each
    slice is the index pruned to one token (at scale: a partition of
    the token-bucketed posting table), so join inputs are
    term-frequency-sized, never corpus-sized. Returns
    (doc, n_matches) ordered by doc."""
    terms = [t for t in tokenize_text(phrase) if t]
    if not terms:
        raise ValueError(f"phrase has no analyzable terms: {phrase!r}")
    pp = positional_postings(df, id_col, text_col)
    cur = pp.filter(F.col("token") == terms[0]).select(
        "doc", F.col("pos").alias("start")
    )
    for i, t in enumerate(terms[1:], 1):
        nxt = pp.filter(F.col("token") == t).select(
            "doc", (F.col("pos") - i).alias("start")
        )
        cur = cur.join(nxt, ["doc", "start"])
    return (
        cur.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("doc")
    )


def tokenize_text(s: str) -> list[str]:
    """Driver-side twin of :func:`tokenize` for query strings."""
    import re as _re

    return _re.sub("[^a-z ]", " ", s.lower()).split()


def more_like_this(
    df: DataFrame,
    seed_id,
    id_col: str = "id",
    text_col: str = "search_text",
    max_query_terms: int = 10,
    top_n: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    stopwords: tuple[str, ...] = STOPWORDS,
    min_len: int = 3,
) -> DataFrame:
    """ES more_like_this parity: find documents similar to ``seed_id``
    by (1) selecting the seed's top ``max_query_terms`` analyzed terms
    ranked by quantized tf·idf (ES's term-selection step) and (2)
    BM25-scoring every other document against that term set with the
    same Lucene similarity :func:`bm25_rank` uses.

    Determinism: the selection rank value and every score contribution
    are quantized to decimal(18,6) BEFORE ranking/summation (ties break
    by token / doc), so ulp-level ln() drift cannot reorder either
    stage cross-engine.

    Scale shape: the posting/doclen/stats relations are the shared
    index build (one shuffle each); the seed's posting slice is a
    per-doc handful of rows, so its selection window is bounded by the
    seed's vocabulary; the candidate scoring joins are pruned to the
    ≤ ``max_query_terms`` selected tokens via a broadcast semi-join —
    never corpus-sized."""
    postings = build_search_index(
        df, id_col=id_col, text_col=text_col,
        stopwords=stopwords, min_len=min_len,
    )
    doclen = postings.groupBy("doc").agg(F.sum("tf").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfall = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    seed = (
        postings.filter(F.col("doc") == F.lit(seed_id))
        .join(dfall, "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("rankval", (F.col("tf") * idf.cast("decimal(18,6)")))
    )
    from pyspark.sql.window import Window

    # seed frame = one document's vocabulary; the unpartitioned window
    # is bounded by that handful of rows, never the corpus
    w = Window.orderBy(F.desc("rankval"), F.asc("token"))
    sel = (
        seed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= max_query_terms)
        .select("token", "df")
    )
    # df for scoring is the CORPUS document frequency (seed included)
    # — the ES statistic; the seed frame already joined dfall, so the
    # selected tokens carry their df without re-touching the
    # vocabulary-sized aggregate
    hits = postings.join(F.broadcast(sel), "token").filter(
        F.col("doc") != F.lit(seed_id)
    )
    scored = hits.join(doclen, "doc").crossJoin(F.broadcast(stats))
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = (idf * tfn).cast("decimal(18,6)")
    return (
        scored.groupBy("doc")
        .agg(F.sum(contrib).cast("decimal(18,6)").alias("score_q"))
        .orderBy(F.desc("score_q"), F.asc("doc"))
        .limit(top_n)
    )


def suggest(
    df: DataFrame,
    prefix: str,
    id_col: str = "id",
    text_col: str = "search_text",
    top_n: int = 5,
    stopwords: tuple[str, ...] = STOPWORDS,
    min_len: int = 3,
) -> DataFrame:
    """ES completion-suggester parity: corpus tokens starting with
    ``prefix`` ranked by document frequency (doc_freq desc, token asc
    — integer stats, fully engine-exact). The candidate set is the
    DISTINCT VOCABULARY pruned by a pushed-down LIKE 'prefix%', so
    the ranked relation is prefix-bucket-sized, never the corpus; the
    top-n is TakeOrderedAndProject."""
    p = prefix.lower()
    if not p:
        raise ValueError("prefix must be non-empty")
    stats = index_stats(
        build_search_index(
            df, id_col=id_col, text_col=text_col,
            stopwords=stopwords, min_len=min_len,
        )
    )
    return (
        stats.filter(F.col("token").startswith(p))
        .select("token", "doc_freq")
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(top_n)
    )
