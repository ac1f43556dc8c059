"""Seeded input tables for the benchmark workloads.

The benchmark hands the program nothing but the tables built here.

A fixed text pool (independent of the seed) holds every document text,
including the planted exact and near duplicates. The seed decides which
pool entry sits at which page id, which pages are the wide crawl's hubs
and which pages their extra anchors point to. Page counts, the webgen
link graph (a pure function of the id, see
``crawl4ai_spark.corpus.webgen``), the number of anchors and the
multiset of pool texts are the same for every seed, so every seed does
the same amount of work while the content at each URL differs.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the word list of the repo's synthetic `documents` table
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_SUFFIX = " near dup"

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("source", pa.string()),
])


def text_pool(n: int, n_exact: int = 0, n_near: int = 0) -> list[str]:
    """n texts: ``n - n_exact - n_near`` random word strings, then
    ``n_exact`` verbatim copies and ``n_near`` suffixed copies of the
    first base texts. Seed-independent by construction."""
    n_base = n - n_exact - n_near
    if n_base < n_exact + n_near:
        raise ValueError("too many planted duplicates for the pool size")
    rng = np.random.default_rng(20240601)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_base)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    base, pos = [], 0
    for k in lengths:
        base.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    exact = base[:n_exact]
    near = [t + NEAR_DUP_SUFFIX for t in base[n_exact:n_exact + n_near]]
    return base + exact + near


def documents(n: int, seed: int, n_exact: int = 0, n_near: int = 0) -> pa.Table:
    """documents(doc_id, text, source) with ids 0..n-1; the seed
    permutes which pool text (and source) sits at which id."""
    pool = text_pool(n, n_exact, n_near)
    order = list(range(n))
    random.Random(seed).shuffle(order)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array([pool[k] for k in order], pa.string()),
        "source": pa.array([f"src{k % N_SOURCES}" for k in order], pa.string()),
    }, schema=DOC_SCHEMA)


def sample(seed: int, k: int, population: list[int], salt: int) -> list[int]:
    """Sorted seeded sample of ``k`` members of ``population``."""
    return sorted(random.Random(seed * 7919 + salt).sample(population, k))


def hub_links(seed: int, hubs: list[int], per_hub: int,
              targets: range) -> dict[int, list[int]]:
    """Give each hub page ``per_hub`` distinct link targets, a seeded
    sample of ``targets`` (no target is linked twice)."""
    picked = sample(seed, len(hubs) * per_hub, list(targets), salt=2)
    random.Random(seed * 7919 + 3).shuffle(picked)
    return {h: sorted(picked[k * per_hub:(k + 1) * per_hub])
            for k, h in enumerate(hubs)}


def with_links(table: pa.Table, links: dict[int, list[int]],
               url_of) -> pa.Table:
    """Append an anchor per link target to the text of each hub page."""
    texts = table["text"].to_pylist()
    for i, targets in links.items():
        texts[i] += "".join(
            f' <a href="{url_of(t)}">ref {t}</a>' for t in targets)
    return table.set_column(table.schema.get_field_index("text"), "text",
                            pa.array(texts, pa.string()))


def content_hash(table: pa.Table) -> str:
    h = hashlib.sha256()
    for col in table.columns:
        for v in col.to_pylist():
            h.update(repr(v).encode())
    return h.hexdigest()


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
