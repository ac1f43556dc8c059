"""Seen-set scale stress: the bloom filter at up to 10^9 keys.

VERDICT r4 #5: the seen-set evidence topped out at 10^8 candidates /
1 GB of bloom shards; the engine's 10^10-URL claim rests on shard-count
scaling being a pure config. This tool builds the bloom seen-set at N
keys (default 10^9) with n_shards scaled to keep per-shard blobs in the
tens of MB, and reports:

  - build wall + keys/s, shard count, total/max shard MB
  - probe wall on 1M DISJOINT keys -> measured FP rate
  - probe wall on 1M PRESENT keys  -> false-negative count (must be 0)

Everything is executor-side: keys come from spark.range, shard blobs
are built/merged/probed in applyInPandas/cogroup tasks; the driver only
ever sees per-shard byte counts and scalar aggregates.

Usage:
  python tools/seen_scale_stress.py [N] [n_shards] [cpus]
Defaults: 1_000_000_000 256 $SPARK_GRAFT_CPUS|32

Prints one JSON line (BENCH.md quotes it).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

PROBE_N = 1_000_000


def key_hashes(spark, lo: int, hi: int, width: int, stride: int = 1):
    """Deterministic url-shaped hash stream for ids in [lo, hi) taken
    every `stride` — generated executor-side, never on the driver."""
    ids = spark.range(lo, hi, stride).repartition(width)
    url = F.format_string(
        "https://site%d.example.com/page/%d", F.col("id") % 200003, F.col("id"))
    return ids.select(F.xxhash64(url).alias("url_hash"))


def shard_stats(filt, spark) -> dict:
    rows = filt.table.read(spark).select(
        "shard_id", F.octet_length("bloom").alias("bytes")).collect()
    return {
        "shards": len(rows),
        "total_mb": round(sum(r.bytes for r in rows) / 2**20, 1),
        "max_shard_mb": round(max(r.bytes for r in rows) / 2**20, 2),
    }


def timed_probe(filt, spark, probe_df) -> tuple[int, float]:
    t0 = time.monotonic()
    hits = filt.probe(spark, probe_df).where("maybe_seen").count()
    return hits, time.monotonic() - t0


def run_bloom(spark, filt, n: int, width: int, headroom: float) -> dict:
    report: dict = {"metric": "seen_scale_stress_bloom", "n_keys": n,
                    "n_shards": filt.n_shards, "cpus": width,
                    "headroom": headroom}
    keys = key_hashes(spark, 0, n, width)

    t0 = time.monotonic()
    # engine default headroom is 4.0 (grow-without-rebuild margin); the
    # stress pins a tighter one so the blobs reflect a sized-for-N build
    filt.build(spark, keys, expected_n=n, headroom=headroom)
    build_s = time.monotonic() - t0
    report["capacity"] = filt.capacity()
    report["load_factor"] = round(n / filt.capacity(), 3)
    report["build_wall_s"] = round(build_s, 1)
    report["build_keys_per_s"] = int(n / build_s)
    report.update(shard_stats(filt, spark))

    # disjoint probe: ids shifted past n -> every hit is a false positive
    fp_hits, fp_s = timed_probe(
        filt, spark, key_hashes(spark, n, n + PROBE_N, width))
    report["probe_wall_s"] = round(fp_s, 1)
    report["probe_keys_per_s"] = int(PROBE_N / fp_s)
    report["fp_rate"] = round(fp_hits / PROBE_N, 6)

    # present probe: every n/PROBE_N-th original key MUST still hit
    stride = max(1, n // PROBE_N)
    present = key_hashes(spark, 0, n, width, stride=stride)
    n_present = present.count()
    pres_hits, pres_s = timed_probe(filt, spark, present)
    report["present_probe_wall_s"] = round(pres_s, 1)
    report["false_negatives"] = n_present - pres_hits

    return report


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    cpus = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_CPUS", "32")

    from crawl4ai_spark.engine.bloom import BloomSeenSet
    from crawl4ai_spark.engine.tables import Warehouse
    from crawl4ai_spark.session import build_session

    spark = build_session(app_name="seen-scale-stress",
                          master=f"local[{cpus}]",
                          shuffle_partitions=int(n_shards))
    spark.sparkContext.setLogLevel("ERROR")
    width = int(cpus)
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_seen_stress_"))

    filt = BloomSeenSet(wh.table("seen_bloom"), n_shards=n_shards)
    print(json.dumps(run_bloom(spark, filt, n, width, headroom=1.5)),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
