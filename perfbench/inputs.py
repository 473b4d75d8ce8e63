"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is produced here from the
workload seed alone: the document/embedding corpus the query workload
reads, and the crawl increments the ingest workload fetches. The same
seed gives byte-identical inputs (``test_inputs.py`` pins this);
nothing here reads the clock or the network.

The generators also keep their own *log* of what they emitted, so the
correctness checks can reduce it in pure Python and compare against
what the program committed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word vocabulary of the synthetic documents table that
# tools/gen_scaledata.py writes (the registry's search/phrase queries
# probe these words), plus longer words so the NER and quality queries
# see varied tokens.
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
    "jakarta", "pemerintah", "ekonomi", "olahraga", "teknologi",
]
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]
EMB_DIM = 64

TOPICS = [
    "politik", "ekonomi makro", "bisnis", "olahraga", "teknologi digital",
    "kesehatan", "pendidikan", "hukum", "berita internasional", "lifestyle",
]
BODY_WORDS = [
    "pemerintah", "presiden", "menteri", "rakyat", "kota", "provinsi",
    "pasar", "harga", "saham", "rupiah", "bank", "pertumbuhan", "ekonomi",
    "pertandingan", "pemain", "klub", "liga", "teknologi", "aplikasi",
    "digital", "rumah", "sakit", "dokter", "sekolah", "siswa", "guru",
    "pengadilan", "hakim", "polisi", "dunia", "negara", "warga", "hari",
    "tahun", "laporan", "data", "kebijakan", "program", "proyek", "dana",
]
_EPOCH = datetime(2025, 1, 1)  # the crawl's logical clock
_INDO_DAYS = ["Senin", "Selasa", "Rabu", "Kamis", "Jumat", "Sabtu", "Minggu"]
_INDO_MONTHS = ["Jan", "Feb", "Mar", "Apr", "Mei", "Jun", "Jul", "Agu",
                "Sep", "Okt", "Nov", "Des"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose); crc-free and
    salt-free so it is stable across processes and platforms."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


# ---------------------------------------------------------------------------
# Query corpus (query_mix)
# ---------------------------------------------------------------------------


def write_corpus(out_dir: str, seed: int, n_docs: int, n_emb: int) -> dict:
    """Write ``documents`` and ``embeddings`` parquet tables in the
    shape the registry queries read, and return their sizes.

    The corpus plants the cases the curation queries look for: exact
    duplicates, near duplicates (a few words swapped) and truncated
    re-crawls among documents; near-duplicate vectors among embeddings.
    """
    os.makedirs(out_dir, exist_ok=True)
    g = _rng(seed, "documents")
    vocab = np.array(DOC_VOCAB)
    lengths = g.integers(10, 101, n_docs)
    words = vocab[g.integers(0, len(vocab), int(lengths.sum()))]
    offs = np.concatenate(([0], np.cumsum(lengths)))
    docs = [list(words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    picks = g.choice(n_docs, size=3 * max(1, n_docs // 50), replace=False)
    exact, near, trunc = np.array_split(picks, 3)
    for i in exact:
        docs[i] = list(docs[int(g.integers(0, n_docs))])
    for i in near:
        src = list(docs[int(g.integers(0, n_docs))])
        for _ in range(max(1, len(src) // 20)):
            src[int(g.integers(0, len(src)))] = str(vocab[int(g.integers(0, len(vocab)))])
        docs[i] = src
    for i in trunc:
        src = docs[int(g.integers(0, n_docs))]
        docs[i] = src[: max(5, (3 * len(src)) // 4)]
    texts = [" ".join(d) for d in docs]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(g.choice(DOC_LANGS, size=n_docs, p=DOC_LANG_W)),
        "source": pa.array([f"src{i}" for i in g.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))

    g = _rng(seed, "embeddings")
    emb = g.normal(0, 1, (n_emb, EMB_DIM)).astype(np.float32)
    twins = g.choice(n_emb, size=max(1, n_emb // 20), replace=False)
    for i in twins:
        j = int(g.integers(0, n_emb))
        emb[i] = emb[j] + g.normal(0, 0.01, EMB_DIM).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_emb).astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_emb}


# ---------------------------------------------------------------------------
# Article universe (ingest)
# ---------------------------------------------------------------------------


def article_link(key: int) -> str:
    return f"https://news.example/read/{key:06d}"


def article_id(link: str) -> str:
    """The program's article identity, md5(link) (functions/clean.gen_id)."""
    return hashlib.md5(link.encode()).hexdigest()


def article_title(key: int, version: int) -> str:
    # the double space and newline exercise clean_title; the version
    # token makes the surviving version visible in every layer
    return f"Berita  {key:06d} terkini\nversi {version}"


def clean_title(title: str) -> str:
    """Python twin of functions.clean.clean_title for the titles above."""
    return " ".join(title.split())


def article_body(seed: int, link: str, version: int) -> str:
    """The article body a fetch of ``link`` returns at ``version``:
    a pure function of (seed, link, version), with the boilerplate the
    cleaner strips."""
    r = random.Random(f"{seed}:{link}:{version}")
    words = " ".join(r.choice(BODY_WORDS) for _ in range(r.randint(60, 160)))
    return (
        "Jakarta, CNN Indonesia -- "
        f"{words[: len(words) // 2]} ADVERTISEMENT iklan SCROLL TO CONTINUE "
        f"WITH CONTENT {words[len(words) // 2:]} (FOTO: ANTARA) versi {version}."
    )


def article_date_raw(key: int) -> str | None:
    """A publish date in the last two weeks of a month, in one of the
    formats parse_date accepts; one key in 29 carries a string no format
    matches, so gold drops it."""
    if key % 29 == 0:
        return "tanggal tidak diketahui"
    day, month, hour = 15 + key % 14, 7, key % 24
    if key % 3 == 0:
        return f"2025-{month + 1:02d}-{day:02d} {hour:02d}:15:00"
    if key % 3 == 1:
        return (f"{_INDO_DAYS[key % 7]}, {day:02d} {_INDO_MONTHS[month]} 2025 "
                f"{hour:02d}:30 WIB")
    return f"{day:02d}/{month + 1:02d}/2025"


def crawl_time(increment: int) -> str:
    """When the i-th crawl ran, on a fixed logical clock (one minute
    apart), so later crawls carry later ``created_at`` stamps and the
    inputs stay a pure function of the seed."""
    return (_EPOCH + timedelta(minutes=increment)).strftime("%Y-%m-%d %H:%M:%S")


def in_gold(key: int) -> bool:
    """Whether the gold view keeps this article (its date parses)."""
    return key % 29 != 0


@dataclass
class ArticleLog:
    """What a generator emitted, in order: (key, version) per article
    delivered to the program, grouped per operation."""

    ops: list[list[tuple[int, int]]] = field(default_factory=list)

    def latest_wins(self) -> dict[int, int]:
        """key → version under latest-wins (silver upsert) semantics:
        later deliveries carry later ``created_at`` stamps."""
        out: dict[int, int] = {}
        for op in self.ops:
            for key, version in op:
                out[key] = version
        return out


class CrawlSource:
    """The seeded web the ingest workload crawls.

    ``increment(i)`` returns the listing and content fetchers of the
    i-th re-crawl. Increment 0 is the pre-load: the whole universe at
    version 0. Every later increment lists a fixed number of cards
    drawn from that same universe, mixing replayed articles (the
    version seen last) and updated ones (a new version). No increment
    brings a key from outside the universe: the ingest path never
    deletes an article, so a new key would grow every table by one
    row for good.
    """

    PAGE_SIZE = 50  # listing cards per page
    UPDATE_SHARE = 0.4  # re-crawled articles that come back at a new version
    MISS_SHARE = 0.02  # fetches that return no body

    def __init__(self, seed: int, universe: int, per_increment: int):
        self.seed = seed
        self.universe = universe
        self.per_increment = per_increment
        self.versions: dict[int, int] = {}
        self.log = ArticleLog()
        self.input_bytes = 0

    def increment(self, i: int):
        g = _rng(self.seed, f"crawl:{i}")
        if i == 0:
            keys = list(range(self.universe))
        else:
            keys = [int(k) for k in g.choice(self.universe, size=self.per_increment,
                                              replace=False)]
        cards, delivered = [], []
        for key in keys:
            version = self.versions.get(key, -1)
            if version < 0:
                version = 0
            elif g.random() < self.UPDATE_SHARE:
                version += 1
            self.versions[key] = version
            link = article_link(key)
            # a fetch that returns no body is dropped by the crawler
            # (http_source.fetch_contents); its card is still listed
            missing = i > 0 and g.random() < self.MISS_SHARE
            cards.append({
                "title": article_title(key, version), "link": link,
                "image": f"https://img.example/{key}.jpg" if key % 5 else "",
                "date_raw": article_date_raw(key),
                "topic": TOPICS[key % len(TOPICS)],
                "version": -1 if missing else version,
            })
            if not missing:
                delivered.append((key, version))
        self.log.ops.append(delivered)
        pages = [cards[p:p + self.PAGE_SIZE]
                 for p in range(0, len(cards), self.PAGE_SIZE)]
        bodies = {c["link"]: c["version"] for c in cards}
        self.input_bytes += sum(
            len(json.dumps(c)) + len(article_body(self.seed, c["link"], c["version"]))
            for c in cards if c["version"] >= 0
        )
        return len(pages), ListingFetcher(pages), ContentFetcher(self.seed, bodies)


class ListingFetcher:
    """Injected listing fetcher: page number → the seeded cards."""

    def __init__(self, pages: list[list[dict]]):
        self.pages = pages

    def __call__(self, page: int) -> list[dict]:
        return [{k: v for k, v in c.items() if k != "version"}
                for c in self.pages[page - 1]]


class ContentFetcher:
    """Injected content fetcher, shipped to Spark's Python workers:
    link → body derived from (seed, link, version); None for a miss."""

    def __init__(self, seed: int, versions: dict[str, int]):
        self.seed = seed
        self.versions = versions

    def __call__(self, link: str) -> str | None:
        version = self.versions.get(link, -1)
        return None if version < 0 else article_body(self.seed, link, version)
