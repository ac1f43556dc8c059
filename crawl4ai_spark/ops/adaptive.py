"""Adaptive-crawl statistics as DataFrame aggregations.

Re-expresses the reference's AdaptiveCrawler information-foraging
metrics (/root/reference/crawl4ai/adaptive_crawler.py):

  term_stats    tf/df per term (adaptive_crawler.py:526-574)
  coverage      sqrt(avg over query terms of df/N*(1+0.5*log-norm tf))
                (adaptive_crawler.py:306-345)
  consistency   mean pairwise Jaccard of doc term sets
                (adaptive_crawler.py:347-372) — the exact O(n^2)
                self-join form; MinHash (ops/dedup.py) is the scale
                approximation
  saturation    1 - recent/initial new-term rate over round history
                (adaptive_crawler.py:374-389)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.ops.dedup import ngram_jaccard_pairs
from crawl4ai_spark.ops.text import tokens


def term_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """(term, tf, df): total frequency + document frequency."""
    t = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
    return t.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc").alias("df"),
    )


def coverage_score(df: DataFrame, query_terms: list[str],
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Single-row coverage score for a term query against the corpus:
    sqrt(avg over query terms of (df/N) * (1 + 0.5*log10(1+tf/N))).
    N is a one-row aggregate cross-joined into the same plan, so the
    score runs as one job."""
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    stats = term_stats(df, text_col, id_col).where(F.col("term").isin(query_terms))
    per_term = stats.crossJoin(n_docs).select(
        ((F.col("df") / F.col("__n"))
         * (1.0 + 0.5 * F.log10(1.0 + F.col("tf") / F.col("__n")))).alias("s")
    )
    # terms absent from the corpus contribute 0 -> divide by len(query_terms)
    return per_term.agg(
        F.round(F.sqrt(F.sum("s") / F.lit(float(len(query_terms)))), 6).alias("coverage")
    )


def consistency_score(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      sample_k: int | None = 1024) -> DataFrame:
    """Mean pairwise 1-gram Jaccard across doc pairs (single row).

    Guard (VERDICT r4): the pair join underneath is O(n^2) in docs
    sharing any token — on real text effectively ALL pairs — so by
    default the score is computed over the min-``sample_k`` docs by id,
    the same deterministic min-K rule the engine's incremental state
    maintains (adaptive_state.py keeps K=40); the reference likewise
    scores a bounded knowledge base, never an unbounded corpus
    (adaptive_crawler.py _calculate_consistency). Pass sample_k=None
    for the exact all-pairs form (small corpora, oracle baselines).
    """
    if sample_k is not None:
        df = df.orderBy(id_col).limit(sample_k)
    n = df.count()
    if n < 2:
        # no pairs to compare: the reference scores a 0/1-doc corpus as
        # fully consistent (adaptive_crawler.py _calculate_consistency),
        # not 0.0 — returning 0 here would hold confidence down by 0.3
        # and delay the adaptive stop on tiny crawls
        return df.sparkSession.range(1).select(F.lit(1.0).alias("consistency"))
    n_pairs = n * (n - 1) // 2
    pairs = ngram_jaccard_pairs(df, text_col, id_col, n=1, threshold=0.0)
    return pairs.agg(
        F.round(F.sum("jaccard") / F.lit(float(max(1, n_pairs))), 6).alias("consistency")
    )


def saturation_from_rounds(round_stats: DataFrame) -> DataFrame:
    """1 - recent-new-terms / initial-new-terms over a (round, new_terms)
    history table; window over round order."""
    w = Window.orderBy("round")
    hist = round_stats.withColumn("rn", F.row_number().over(w))
    first = hist.where(F.col("rn") == 1).select(F.col("new_terms").alias("first_new"))
    last = hist.orderBy(F.col("rn").desc()).limit(1).select(
        F.col("new_terms").alias("last_new")
    )
    return first.crossJoin(last).select(
        F.round(
            1.0 - F.col("last_new") / F.greatest(F.col("first_new"), F.lit(1)), 6
        ).alias("saturation")
    )


def confidence_metrics(docs: DataFrame, query_terms: list[str],
                       text_col: str = "text", id_col: str = "doc_id",
                       round_col: str = "round",
                       consistency_sample: int = 40) -> dict:
    """The adaptive-crawl stop metrics over an accumulated page table:

        confidence = 0.4*coverage + 0.3*consistency + 0.3*saturation
        (StatisticalStrategy.calculate_confidence,
         adaptive_crawler.py:287-303)

    saturation derives new-terms-per-round from each term's FIRST round
    of appearance (one aggregation, no per-round state). consistency is
    pairwise Jaccard over a bounded doc sample — the reference computes
    it over the whole in-memory knowledge base, which is O(n^2) and
    cannot scale; the deterministic min-id sample is the cluster-safe
    form and is exact whenever the corpus fits the sample.
    Returns {'coverage','consistency','saturation','confidence'}."""
    docs = docs.persist()
    try:
        cov = coverage_score(docs, query_terms, text_col, id_col).first()[0] or 0.0

        sample = docs.orderBy(id_col).limit(consistency_sample)
        cons = consistency_score(sample, text_col, id_col).first()[0] or 0.0

        first_seen = (
            docs.select(F.col(round_col).alias("r"),
                        F.explode(F.array_distinct(tokens(text_col))).alias("t"))
            .groupBy("t").agg(F.min("r").alias("r0"))
            .groupBy("r0").agg(F.count(F.lit(1)).alias("new_terms"))
        )
        hist = first_seen.select(F.col("r0").alias("round"), "new_terms")
        sat_row = saturation_from_rounds(hist).first()
        sat = float(sat_row[0]) if sat_row and sat_row[0] is not None else 0.0
    finally:
        docs.unpersist()
    conf = 0.4 * float(cov) + 0.3 * float(cons) + 0.3 * sat
    return {"coverage": float(cov), "consistency": float(cons),
            "saturation": sat, "confidence": conf}


def rank_links(cands: DataFrame, relevance_col: str = "relevance",
               novelty_col: str = "novelty", authority_col: str = "authority",
               top_k: int = 10) -> DataFrame:
    """rank_links (adaptive_crawler.py:391-416): 0.5*relevance +
    0.3*novelty + 0.2*authority, top-k, deterministic tie-break."""
    scored = cands.withColumn(
        "link_score",
        F.round(
            0.5 * F.col(relevance_col) + 0.3 * F.col(novelty_col)
            + 0.2 * F.col(authority_col), 6,
        ),
    )
    return scored.orderBy(
        F.col("link_score").desc(), F.col("url_norm").asc()
    ).limit(top_k)
