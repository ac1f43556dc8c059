"""Seeded inputs: two seeds give the same amount of work (equal counts)
and different content (different hashes).

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import twins  # noqa: E402
from workloads import CrawlDeep, CrawlWide, Curate  # noqa: E402


def _counts(table):
    texts = table["text"].to_pylist()
    return {
        "rows": table.num_rows,
        "ids": table["doc_id"].to_pylist(),
        "text_bytes": sum(len(t) for t in texts),
        "copies": sorted(Counter(texts).values()),
        "anchors": sum(t.count("<a href=") for t in texts),
    }


def _tables(wl, seed):
    w = wl(None, "", seed)
    if wl is Curate:
        return inputs.documents(w.n_docs, seed, w.n_exact, w.n_near), w
    return w.documents(), w


def test_seeds_give_equal_counts_and_different_content():
    for wl in (CrawlDeep, CrawlWide, Curate):
        (a, wa), (b, wb) = _tables(wl, 1), _tables(wl, 2)
        assert _counts(a) == _counts(b), wl.name
        assert inputs.content_hash(a) != inputs.content_hash(b), wl.name
        assert inputs.content_hash(a) == inputs.content_hash(_tables(wl, 1)[0])


def test_wide_crawl_work_is_seed_independent():
    runs = []
    for seed in (1, 2):
        _, w = _tables(CrawlWide, seed)
        runs.append((w.seeds, w.expected()))
    (seeds_a, a), (seeds_b, b) = runs
    assert seeds_a != seeds_b
    # the seen set crosses bloom_min_seen (50,000) at the round-0 close
    assert min(a.seen_count[0], b.seen_count[0]) >= 50_000
    # robots deny a seed-dependent slice of round 1; the rest of the
    # work is the same within 1%
    assert a.count(403) > 0 and b.count(403) > 0
    for x, y in zip((a.count(200), *a.seen_count, *a.deferred),
                    (b.count(200), *b.seen_count, *b.deferred)):
        assert abs(x - y) <= 0.01 * max(x, y)


def test_twin_matches_webgen_closed_form():
    # BFS depth 6 from page 0 over 5,000 pages crawls 2,687 pages
    run = twins.crawl(5_000, [0], 6, 4_000)
    assert run.count(200) == 2_687


if __name__ == "__main__":
    test_seeds_give_equal_counts_and_different_content()
    test_wide_crawl_work_is_seed_independent()
    test_twin_matches_webgen_closed_form()
    print("ok")
