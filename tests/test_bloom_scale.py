"""Bloom seen-set sizing + FP-rate budget (the 10^10-URL scale story).

VERDICT round-1 items: m_bits must derive from the live seen count
(FP rate may never silently saturate), shard blobs must never ride
through the driver in the round path, and a crawl past the engage
threshold must stay under the FP budget.
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from crawl4ai_spark.engine import bloom as bloom_mod
from crawl4ai_spark.engine.bloom import BITS_PER_KEY, BloomSeenSet, size_m_bits
from crawl4ai_spark.engine.tables import SnapshotTable


def test_size_m_bits_gives_capacity():
    for n in (1_000, 100_000, 10_000_000):
        m = size_m_bits(n, n_shards=32)
        assert 32 * m / BITS_PER_KEY >= n  # capacity >= expected keys
        assert m & (m - 1) == 0            # power of two


def test_fp_rate_within_budget(spark, tmp_path):
    n_keys, n_probe, n_shards = 20_000, 20_000, 8
    t = SnapshotTable(str(tmp_path / "bl"))
    b = BloomSeenSet(t, n_shards=n_shards)
    keys = spark.range(n_keys).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    b.build(spark, keys, expected_n=n_keys, headroom=1.0)
    assert b.capacity() >= n_keys

    # all inserted keys answer maybe_seen (no false negatives, ever)
    probed = b.probe(spark, keys)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    # fresh keys: FP rate stays within ~3x the 1e-3 design budget
    fresh = spark.range(n_keys, n_keys + n_probe).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = b.probe(spark, fresh).where(F.col("maybe_seen")).count()
    assert fp / n_probe < 3e-3, fp

    # incremental add via cogroup keeps exactness
    extra = spark.range(10**6, 10**6 + 500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    b.add_hashes(spark, extra)
    assert b.probe(spark, extra).where(~F.col("maybe_seen")).count() == 0


def test_rebuild_restores_fp_budget(spark, tmp_path):
    """Overfilling a small bloom saturates FP; a state-sized rebuild —
    what the engine does at the round boundary when seen outgrows
    capacity — restores the budget."""
    t = SnapshotTable(str(tmp_path / "bl"))
    b = BloomSeenSet(t, n_shards=4)
    n = 60_000
    keys = spark.range(n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    # deliberately undersized (expected_n lied low, floor size kicks in)
    b.build(spark, keys, expected_n=100, headroom=1.0)
    overfilled = n > b.capacity()
    assert overfilled
    fresh = spark.range(n, n + 10_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp_sat = b.probe(spark, fresh).where("maybe_seen").count() / 10_000

    b.build(spark, keys, expected_n=n, headroom=1.0)  # the rebuild path
    fp_ok = b.probe(spark, fresh).where("maybe_seen").count() / 10_000
    assert fp_ok < 3e-3 < fp_sat  # saturated before, under budget after


def test_no_driver_blob_hops():
    """The round path must never collect shard blobs driver-side: no
    toPandas/collect/broadcast in the bloom module (probe and update
    are cogroup joins)."""
    src = inspect.getsource(bloom_mod)
    for banned in ("toPandas", ".collect(", "broadcast("):
        assert banned not in src, banned


def test_bloom_engages_mid_crawl(spark, tmp_path):
    """Crossing bloom_min_seen DURING a crawl bulk-builds the shards and
    flips discovery to the probe+delta path; the crawled set must equal
    a bloom-free run exactly (dedup is exact in every configuration)."""
    from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    seed = ["http://shop0.fakeshop.test/index.html"]

    def crawl(subdir, **kw):
        eng = CrawlEngine(
            spark, Warehouse(str(tmp_path / subdir)), CorpusFetcher(corpus),
            CrawlConfig(max_depth=3, n_shards=4, bloom_sync_rounds=1, **kw),
        )
        eng.run(seed)
        return eng, sorted(
            (r.url_norm, r.depth)
            for r in eng.t_pages.read(spark).select("url_norm", "depth").collect()
        )

    # threshold 5: round 0 discovers >5 URLs -> bloom builds at round 0's
    # close and later rounds run probe + delta anti-join
    eng_mid, got_mid = crawl("mid", use_bloom=True, bloom_min_seen=5)
    assert eng_mid._bloom_built
    assert eng_mid.t_bloom.read(spark).count() > 0
    _, got_off = crawl("off", use_bloom=False)
    assert got_mid == got_off


def test_resume_with_empty_bloom_table_falls_back_to_exact(spark, tmp_path):
    """A checkpoint that says bloom_built while seen_bloom holds no
    shards — the shape a warehouse written by the removed cuckoo
    backend resumes with, since that backend kept its shards in its own
    table — must NOT trust the flag: probing an empty filter would mark
    every synced URL definitely-new and mass re-crawl. The resume guard
    falls back to exact-only dedup, so the crawled multiset equals a
    straight-through run's."""
    import dataclasses

    from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    seed = ["http://shop0.fakeshop.test/index.html"]
    cfg = CrawlConfig(max_depth=3, n_shards=4, bloom_sync_rounds=1,
                      bloom_min_seen=5)

    def pages_of(eng):
        return sorted((r.url_norm, r.depth) for r in
                      eng.t_pages.read(spark)
                      .select("url_norm", "depth").collect())

    straight = CrawlEngine(spark, Warehouse(str(tmp_path / "s")),
                           CorpusFetcher(corpus), cfg)
    straight.run(seed)
    want = pages_of(straight)

    wh = Warehouse(str(tmp_path / "x"))
    part = CrawlEngine(spark, wh, CorpusFetcher(corpus),
                       dataclasses.replace(cfg, max_rounds=2))
    part.run(seed)
    assert part._bloom_built  # the checkpoint really says bloom_built

    # empty seen_bloom in the table and in the checkpoint, so the
    # resume rollback cannot restore the shards
    wh.table("seen_bloom").rollback_to([])
    last = wh.read_rounds()[-1]
    wh.commit_round(dict(last, tables=dict(last["tables"], seen_bloom=[])))

    resumed = CrawlEngine(spark, wh, CorpusFetcher(corpus), cfg)
    assert resumed.resume_or_init(seed) == (2, last["pages_crawled"])
    assert not resumed._bloom_built
    resumed.run(seed)
    assert pages_of(resumed) == want  # no duplicates, nothing lost
