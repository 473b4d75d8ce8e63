"""Self-tests of the benchmark's input generators (no Spark needed).

Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import os

from perfbench import inputs


def _corpus_bytes(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    out = tmp_path / name
    inputs.write_corpus(str(out), seed, n_docs=300, n_emb=50)
    return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}


def _crawl(seed: int) -> list:
    src = inputs.CrawlSource(seed, universe=120, per_increment=40)
    out = []
    for i in range(3):
        pages, listing, content = src.increment(i)
        cards = [c for p in range(1, pages + 1) for c in listing(p)]
        out.append((cards, [content(c["link"]) for c in cards]))
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _corpus_bytes(tmp_path, "a", 7) == _corpus_bytes(tmp_path, "b", 7)
    assert _crawl(7) == _crawl(7)


def test_other_seed_gives_other_inputs(tmp_path):
    assert _corpus_bytes(tmp_path, "a", 7) != _corpus_bytes(tmp_path, "b", 8)
    assert _crawl(7) != _crawl(8)


def test_latest_wins_reduction():
    log = inputs.ArticleLog(ops=[[(1, 0), (2, 0)], [(1, 1)], [(2, 1), (3, 0)]])
    assert log.latest_wins() == {1: 1, 2: 1, 3: 0}


def test_crawl_increments_hold_distinct_articles():
    """One crawl file never carries two versions of an article, so the
    consumer's latest-wins merge has a single candidate per key."""
    src = inputs.CrawlSource(2, universe=120, per_increment=60)
    for i in range(6):
        src.increment(i)
        keys = [k for k, _ in src.log.ops[-1]]
        assert len(keys) == len(set(keys))


def test_live_keys_stay_level():
    """Increments re-crawl the pre-loaded universe and never add a key,
    so every table the ingest path writes keeps its size."""
    src = inputs.CrawlSource(3, universe=120, per_increment=40)
    for i in range(8):
        src.increment(i)
        assert set(src.log.latest_wins()) == set(range(120))


def test_crawl_misses_are_not_delivered():
    src = inputs.CrawlSource(5, universe=100, per_increment=100)
    src.MISS_SHARE = 0.5
    src.increment(0)
    pages, listing, content = src.increment(1)
    links = [c["link"] for p in range(1, pages + 1) for c in listing(p)]
    delivered = {inputs.article_link(k) for k, _ in src.log.ops[-1]}
    assert {link for link in links if content(link) is not None} == delivered
    assert len(delivered) < len(links)
