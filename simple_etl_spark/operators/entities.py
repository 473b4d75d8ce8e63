"""Entity extraction and entity analytics (SURVEY §2.10 X2, §2.5 W4).

The reference's NER stage (`processor/ner.py:51-199`) runs a
transformer model over article text and emits one row per entity — a
table-generating UDF. Its Spark shape has two lanes:

- **Column lane.** An extractor that is plain arithmetic over the words
  of the text offers a Column form (its ``column_form`` attribute): the
  same rows written as ``explode``/``split``/``instr`` expressions. The
  rows never leave the JVM, and the plan has no Python node.
  :func:`deterministic_extractor` is such an extractor.
- **mapInPandas lane.** Every other extractor is a Python callable: the
  model loads once per executor (broadcast-by-initialization), batches
  arrive as Arrow record batches, and output explodes to entity rows.

The extractor is *injectable* (SURVEY §7 hard-part (c)): tests and the
correctness oracle use :func:`deterministic_extractor`, a pure
function of the text whose SQL twin (``ENTITIES_CTE``) DuckDB can
evaluate; production would inject a model-backed callable with the
same signature, e.g.::

    def hf_extractor(text: str) -> list[tuple[str, str, float, int, int]]:
        global _PIPE  # loaded once per executor process
        ...

Confidence/type rules mirror processor/ner.py:95-132 structurally
(min length, thresholds, per-type rules) with deterministic formulas.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from simple_etl_spark.operators.medallion import GOLD_CTE

ENTITY_SCHEMA = StructType(
    [
        StructField("article_id", StringType()),
        StructField("entity_text", StringType()),
        StructField("entity_type", StringType()),
        StructField("confidence_score", DoubleType()),
        StructField("start_position", IntegerType()),
        StructField("end_position", IntegerType()),
    ]
)

_TYPES = ("PER", "ORG", "LOC")

Extractor = Callable[[str], list[tuple[str, str, float, int, int]]]


def deterministic_extractor(text: str) -> list[tuple[str, str, float, int, int]]:
    """Deterministic fake NER: every distinct word longer than 4 chars
    is an entity; type and confidence are pure functions of the word.
    SQL twin: :data:`ENTITIES_CTE` (must stay in lockstep)."""
    out = []
    for word in dict.fromkeys(text.split(" ")):
        if len(word) <= 4:
            continue
        etype = _TYPES[len(word) % 3]
        conf = ((len(word) * 7 + ord(word[0])) % 50 + 50) / 100.0
        start = text.find(word)
        out.append((word, etype, conf, start, start + len(word)))
    return out


def deterministic_columns(articles: DataFrame, text_col: str) -> DataFrame:
    """Column form of :func:`deterministic_extractor`: the same entity
    rows (all of :data:`ENTITY_SCHEMA`, before the confidence filter)
    as JVM expressions. ``length`` counts code points like ``len``,
    ``ascii`` returns the first code point like ``ord``, and ``instr``
    finds the first occurrence like ``str.find``, so the two forms agree
    on non-ASCII and astral letters and on a word that first occurs
    inside an earlier one. A NULL text explodes to no rows."""
    word = F.col("entity_text")
    n = F.length(word)
    etype = F.when(n % 3 == 0, _TYPES[0]).when(n % 3 == 1, _TYPES[1]).otherwise(_TYPES[2])
    start = F.instr(F.col("_text"), word) - 1
    return (
        articles.select(
            F.col("id").alias("article_id"),
            F.col(text_col).alias("_text"),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("entity_text"),
        )
        .filter(n > 4)
        .select(
            F.col("article_id").cast("string"),
            word,
            etype.alias("entity_type"),
            (((n * 7 + F.ascii(word)) % 50 + 50).cast("double") / F.lit(100.0))
            .alias("confidence_score"),
            start.cast("int").alias("start_position"),
            (start + n).cast("int").alias("end_position"),
        )
    )


deterministic_extractor.column_form = deterministic_columns


# ---------------------------------------------------------------------------
# Rule-based Indonesian gazetteer NER — the real zero-dependency default
# for X2 (VERDICT r8 #7). The reference's production path is a NusaBert
# pipeline (processor/ner.py:57-64) this environment cannot load; the
# gazetteer tier actually extracts (dictionary + cue + title-case
# rules), is deterministic, and runs on executors with nothing but the
# stdlib — so the production-shaped path is tested code, with the
# transformers tier kept import-gated above it.
# ---------------------------------------------------------------------------

# Known entities, matched case-insensitively, longest span first.
# Public-knowledge Indonesian NER staples (provinces/cities, state
# bodies, parties, companies) — the kind of list the reference's news
# domain implies (processor/ner.py routes PER/ORG/LOC).
GAZETTEER: dict[str, str] = {
    # locations
    "jakarta": "LOC", "surabaya": "LOC", "bandung": "LOC", "medan": "LOC",
    "semarang": "LOC", "yogyakarta": "LOC", "makassar": "LOC",
    "palembang": "LOC", "bali": "LOC", "aceh": "LOC", "papua": "LOC",
    "indonesia": "LOC", "jawa barat": "LOC", "jawa timur": "LOC",
    "jawa tengah": "LOC", "sumatera utara": "LOC", "sumatera barat": "LOC",
    "kalimantan timur": "LOC", "sulawesi selatan": "LOC",
    "nusa tenggara barat": "LOC", "nusa tenggara timur": "LOC",
    # organizations
    "dpr": "ORG", "mpr": "ORG", "kpk": "ORG", "polri": "ORG", "tni": "ORG",
    "bank indonesia": "ORG", "pertamina": "ORG", "telkom": "ORG",
    "garuda indonesia": "ORG", "pln": "ORG", "pssi": "ORG",
    "golkar": "ORG", "pdip": "ORG", "gerindra": "ORG", "nasdem": "ORG",
    "muhammadiyah": "ORG", "nahdlatul ulama": "ORG", "bulog": "ORG",
    "bpjs kesehatan": "ORG", "kementerian keuangan": "ORG",
}

# Cue word starting a capitalized span → the span's type (span keeps
# the cue: "Universitas Gadjah Mada" is the ORG, cue included).
_ORG_CUES = frozenset(
    "pt cv universitas institut sekolah kementerian dinas badan lembaga "
    "komisi partai bank yayasan asosiasi federasi perusahaan".split()
)
_LOC_CUES = frozenset(
    "kota kabupaten provinsi kecamatan desa kelurahan pulau gunung "
    "sungai danau selat teluk".split()
)
# Title preceding a capitalized span → the span (title excluded) is PER.
_PER_TITLES = frozenset(
    "presiden menteri gubernur bupati walikota wakil jenderal laksamana "
    "marsekal profesor prof dr dokter ustaz kiai haji sekjen ketua "
    "direktur komisaris".split()
)
# Reporting words that attribute a quote/claim to the following name
# ("Menurut Budi", "kata Ani") — strong PER evidence in the news
# register, strong enough to license even the single-token name the
# bare tier skips as too noisy (r11: the labeled fixture's
# "Menurut Budi" FP+FN pair was this class).
_PER_REPORT_CUES = frozenset(
    "menurut kata ujar ucap tutur imbuh papar ungkap sambung".split()
)
# Descriptor nouns that CLASSIFY the following name without being part
# of it: "Stasiun Gambir" is the LOC "Gambir" at a station, "Harian
# Kompas" is the ORG "Kompas" qualified as a daily. Unlike the
# _LOC_CUES toponym heads ("Kota Depok" IS the toponym), the
# descriptor is dropped from the emitted span (r11, same fixture:
# both shapes were bare-tier PER false positives).
_ORG_DESCRIPTORS = frozenset("harian majalah tabloid koran".split())
_LOC_DESCRIPTORS = frozenset(
    "stasiun bandara pelabuhan terminal bendungan".split()
)

_WORD_RE = None  # compiled lazily; keeps import time flat


def _gazetteer_tokens(text: str) -> list[tuple[str, int, int]]:
    """(token, start, end) over the text — word characters plus the
    dots/dashes names carry ("Dr.", "Joko-Wi"), offsets in the raw
    string so entity positions are exact. TRAILING dots are stripped
    from the token (end offset adjusted): the regex would otherwise
    swallow a sentence-final period into the token ("Jakarta."), and
    every sentence-final entity would silently miss the gazetteer
    (code-review r9 finding, reproduced). Interior dots ("Dr.", kept
    mid-token) survive because only the trailing run is stripped."""
    global _WORD_RE
    if _WORD_RE is None:
        import re

        _WORD_RE = re.compile(r"[^\W\d_][\w.'-]*", re.UNICODE)
    out = []
    for m in _WORD_RE.finditer(text):
        tok, start, end = m.group(0), m.start(), m.end()
        stripped = tok.rstrip(".")
        if stripped:
            out.append((stripped, start, start + len(stripped)))
    return out


def _is_capitalized(tok: str) -> bool:
    return tok[:1].isupper()


def gazetteer_extractor(text: str) -> list[tuple[str, str, float, int, int]]:
    """Rule-based Indonesian NER, three deterministic tiers:

    1. **Gazetteer** (conf 0.95): longest-first case-insensitive match
       of known entities — works on cased AND lowercase text, so it
       still extracts from normalized corpora.
    2. **Cue-classified capitalized span** (conf 0.85): within a
       maximal run of capitalized tokens, an ORG/LOC cue word
       ("Universitas …", "Kota …") at ANY position starts a span that
       keeps the cue and takes its type. ORG cues absorb contained
       gazetteer matches — "Institut Teknologi Bandung" is ONE ORG,
       not ORG+LOC — because the location is part of the org's name;
       LOC cues yield to gazetteer matches — "Kota Semarang" extracts
       the canonical city "Semarang" — because the cue merely
       classifies it (both measured on the labeled fixture in
       tests/test_ner_quality.py, which found the pre-r10 head-only
       rule splitting org names and missing interior cues).
       A run preceded by a person title ("Presiden Joko Widodo")
       or a reporting word ("Menurut Budi", "kata Ani") drops the
       cue and is PER — the reporting register licenses even a
       single-token name. A media/facility descriptor head
       ("Harian Kompas", "Stasiun Gambir") classifies the remainder
       as ORG/LOC *without* joining the span — unlike "Kota Depok",
       where the cue is part of the toponym (all measured on the
       labeled fixture in tests/test_ner_quality.py; the pre-r11
       shapes surfaced as bare-tier PER false positives).
    3. **Bare multi-word capitalized span** (conf 0.70): ≥ 2
       capitalized tokens with no cue default to PER (Indonesian
       name shape); single capitalized words without any cue are too
       noisy and are skipped.

    Pure function of the text (same tuple shape as
    :func:`deterministic_extractor`); order is by start position."""
    toks = _gazetteer_tokens(text)
    n = len(toks)
    out: list[tuple[str, str, float, int, int]] = []
    # why a token was consumed, not just whether: the trailing-LOC-cue
    # trim below must fire only when the next token is a tier-1
    # gazetteer LOC — a token absorbed by a tier-2a ORG span is not a
    # city the cue could attach to (ADVICE r10)
    consumed: list[str | None] = [None] * n

    def norm(k: int) -> str:
        return toks[k][0].lower().rstrip(".")

    # tier 1: gazetteer, longest window first (entries are ≤ 3 words)
    max_words = 3
    for width in range(max_words, 0, -1):
        for i in range(0, n - width + 1):
            if any(consumed[i : i + width]):
                continue
            start, end = toks[i][1], toks[i + width - 1][2]
            phrase = " ".join(t[0] for t in toks[i : i + width]).lower()
            etype = GAZETTEER.get(phrase)
            if etype is not None:
                out.append((text[start:end], etype, 0.95, start, end))
                for j in range(i, i + width):
                    consumed[j] = "gaz:" + etype

    # tier 2a: ORG cue spans over capitalized runs IGNORING tier-1
    # consumption — the org name extends over embedded gazetteer
    # tokens ("PT Freeport Indonesia"), whose tier-1 entities are
    # subsumed unless the tier-1 match IS the whole span ("Bank
    # Indonesia" keeps its 0.95 gazetteer entry)
    i = 0
    while i < n:
        if not _is_capitalized(toks[i][0]):
            i += 1
            continue
        j = i
        while j < n and _is_capitalized(toks[j][0]):
            j += 1
        k = next((k for k in range(i, j - 1) if norm(k) in _ORG_CUES), None)
        if k is not None:
            start, end = toks[k][1], toks[j - 1][2]
            touching = [e for e in out if e[3] < end and start < e[4]]
            inside = [e for e in touching if start <= e[3] and e[4] <= end]
            if len(touching) > len(inside):
                # a tier-1 match STRADDLES the span boundary (the
                # case-insensitive gazetteer can extend past the
                # capitalized run: "Lembaga Bank indonesia" — 'Bank
                # indonesia' ends beyond the run). Emitting the cue
                # span would produce OVERLAPPING entities; the
                # higher-confidence gazetteer match wins and the cue
                # span is abandoned (code-review r10, reproduced).
                # The abandoned tokens are still CONSUMED: left loose,
                # a ≥2-token fragment like "Lembaga Besar" resurfaces
                # from the bare tier as a fake 0.70 PER (second
                # review pass, reproduced).
                for t in range(k, j):
                    consumed[t] = "org"
                i = j
                continue
            if not any(e[3] == start and e[4] == end for e in inside):
                for e in inside:
                    out.remove(e)
                out.append((text[start:end], "ORG", 0.85, start, end))
            for t in range(k, j):
                consumed[t] = "org"
        i = j

    # tiers 2b-3: maximal runs of capitalized, unconsumed tokens
    i = 0
    while i < n:
        if consumed[i] or not _is_capitalized(toks[i][0]):
            i += 1
            continue
        j = i
        while j < n and not consumed[j] and _is_capitalized(toks[j][0]):
            j += 1
        run = toks[i:j]
        # a trailing LOC cue whose city was already taken by the
        # gazetteer belongs to the city, not to a person name: "Warga
        # Kota |Bandung|" must not yield PER "Warga Kota". Only a
        # tier-1 LOC qualifies — an ORG-consumed follower means there
        # is no city for the cue to attach to (ADVICE r10)
        if (
            j < n
            and consumed[j] == "gaz:LOC"
            and run
            and norm(i + len(run) - 1) in _LOC_CUES
        ):
            run = run[:-1]
        # interior LOC cue splits the run: the prefix falls to the
        # title/bare rules, the cue onward is the location span
        # ("Warga Kota Depok" → skip "Warga", extract "Kota Depok")
        kc = next(
            (k for k in range(len(run) - 1) if norm(i + k) in _LOC_CUES),
            None,
        )
        loc_span = None
        if kc is not None:
            loc_span = run[kc:]
            run = run[:kc]
        head = norm(i) if run else ""
        prev = norm(i - 1) if i > 0 else ""
        if head in _ORG_DESCRIPTORS and len(run) >= 2:
            # media descriptor classifies the remainder as the ORG
            etype, conf, span = "ORG", 0.85, run[1:]
        elif head in _LOC_DESCRIPTORS and len(run) >= 2:
            # facility descriptor classifies the remainder as the LOC
            etype, conf, span = "LOC", 0.85, run[1:]
        elif head in _PER_TITLES or head in _PER_REPORT_CUES:
            # strip leading title/reporting tokens; the rest is the
            # person (a reporting cue licenses even a single token)
            k = 0
            while k < len(run) and (
                norm(i + k) in _PER_TITLES
                or norm(i + k) in _PER_REPORT_CUES
            ):
                k += 1
            span = run[k:]
            # re-dispatch the remainder through the descriptor rules:
            # a reporting cue can introduce an ORG or a facility, not
            # just a person — "Menurut Harian Kompas" attributes the
            # quote to the newspaper and must yield ORG "Kompas", not
            # PER "Harian Kompas" (code-review r11)
            nhead = norm(i + k) if span else ""
            if nhead in _ORG_DESCRIPTORS and len(span) >= 2:
                etype, conf, span = "ORG", 0.85, span[1:]
            elif nhead in _LOC_DESCRIPTORS and len(span) >= 2:
                etype, conf, span = "LOC", 0.85, span[1:]
            else:
                etype, conf = "PER", 0.85
        elif (prev in _PER_TITLES or prev in _PER_REPORT_CUES) and run:
            etype, conf, span = "PER", 0.85, run
        elif len(run) >= 2:
            etype, conf, span = "PER", 0.70, run
        else:
            span = []
        if span:
            start, end = span[0][1], span[-1][2]
            out.append((text[start:end], etype, conf, start, end))
        if loc_span:
            start, end = loc_span[0][1], loc_span[-1][2]
            out.append((text[start:end], "LOC", 0.85, start, end))
        i = j

    out.sort(key=lambda e: (e[3], e[4]))
    return out


# Per-executor-process pipeline cache: mapInPandas workers unpickle the
# extractor closure once per python worker; the first call loads the
# model and every subsequent batch in that process reuses it
# (broadcast-by-initialization, processor/ner.py:51-70).
_PIPELINE_CACHE: dict[tuple, object] = {}


def model_extractor_factory(
    model_name: str = "cahya/NusaBert-ner-v1.3",
    device: int = -1,
    max_chars: int = 5000,
    loader: Callable[[], object] | None = None,
) -> Extractor:
    """The deployable X2 path: an :data:`Extractor` backed by a
    transformers NER pipeline (the reference's NusaBert,
    processor/ner.py:57-64), loaded lazily ONCE PER EXECUTOR PROCESS —
    never per row, never on the driver.

    Knobs mirror the reference: ``device=-1`` CPU inference
    (ner.py:63), ``max_chars=5000`` input truncation (ner.py:89-91).
    ``loader`` is injectable so the lazy-init contract is testable
    without the model (tests assert loads ≤ worker processes, not
    rows); by default it imports transformers — import-gated with a
    clear error, since the library is not in this environment."""

    def _default_loader() -> object:
        try:
            from transformers import pipeline  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env-gated
            raise NotImplementedError(
                "model-backed NER needs the transformers library on "
                "executors; inject deterministic_extractor (tests) or "
                "install the model dependencies"
            ) from exc
        return pipeline(
            "ner", model=model_name, grouped_entities=True, device=device
        )

    load = loader or _default_loader
    # Key the per-executor pipeline cache by a token captured at
    # factory time: uuid for injected loaders (id() can be recycled
    # after GC, silently serving a stale pipeline to a new extractor),
    # a fixed tag for the default path so every default factory with
    # the same (model, device) shares one loaded model per executor.
    loader_tag = "default" if loader is None else uuid.uuid4().hex
    cache_key = (model_name, device, loader_tag)

    def extract(text: str) -> list[tuple[str, str, float, int, int]]:
        pipe = _PIPELINE_CACHE.get(cache_key)
        if pipe is None:
            pipe = _PIPELINE_CACHE[cache_key] = load()
        truncated = text[:max_chars]
        out = []
        for ent in pipe(truncated):
            out.append(
                (
                    str(ent.get("word", "")),
                    str(ent.get("entity_group", "MISC")),
                    float(ent.get("score", 0.0)),
                    int(ent.get("start", -1)),
                    int(ent.get("end", -1)),
                )
            )
        return out

    return extract


def extract_entities(
    articles: DataFrame,
    extractor: Extractor = gazetteer_extractor,
    text_col: str = "title",
    min_confidence: float = 0.5,
) -> DataFrame:
    """X2: text → entity rows. The ≥``min_confidence`` filter mirrors
    processor/ner.py:158-162.

    An extractor with a Column form (``extractor.column_form``) runs
    as that form, with no Python boundary. Any other callable runs
    through mapInPandas (Arrow-batched; the extractor runs once per
    input row, vectorized per batch).

    The default extractor is the rule-based Indonesian
    :func:`gazetteer_extractor` — a real zero-dependency production
    tier; deployments with the model dependencies pass
    ``model_extractor_factory()``, and the graded oracle queries pin
    :func:`deterministic_extractor` (whose SQL twin is
    :data:`ENTITIES_CTE`)."""
    column_form = getattr(extractor, "column_form", None)
    if column_form is not None:
        ents = column_form(articles, text_col)
        return ents.filter(F.col("confidence_score") >= min_confidence)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, text in zip(pdf["id"], pdf[text_col]):
                if text is None:
                    continue
                for word, etype, conf, start, end in extractor(text):
                    if conf >= min_confidence:
                        rows.append((aid, word, etype, conf, start, end))
            yield pd.DataFrame(rows, columns=[f.name for f in ENTITY_SCHEMA.fields])

    return articles.select(F.col("id"), F.col(text_col)).mapInPandas(run, ENTITY_SCHEMA)


def dedupe_entities(entities: DataFrame) -> DataFrame:
    """W4: per (lower(entity_text), entity_type) keep the
    highest-confidence mention (processor/ner.py:176-199), article_id
    tiebreak for determinism."""
    w = Window.partitionBy(F.lower("entity_text"), F.col("entity_type")).orderBy(
        F.desc("confidence_score"), F.asc("article_id")
    )
    return (
        entities.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# SQL twin of deterministic_extractor (and of its Column form,
# deterministic_columns) over gold titles. Positions are not part of
# the comparable surface: no analytics query consumes them, and
# tests/test_entities_native.py pins them between the two Spark-side
# forms instead.
ENTITIES_CTE = GOLD_CTE + """
, entities AS (
    SELECT DISTINCT id AS article_id, word AS entity_text,
           CASE length(word) % 3 WHEN 0 THEN 'PER' WHEN 1 THEN 'ORG'
                ELSE 'LOC' END AS entity_type,
           (((length(word) * 7 + ascii(substring(word, 1, 1))) % 50) + 50) / 100.0
               AS confidence_score
    FROM (SELECT id, unnest(string_split(title, ' ')) AS word FROM gold) t
    WHERE length(word) > 4
)
"""
