"""The benchmark's workloads.

Each workload builds its inputs from the seed (``build``), runs one
repetition of its work (``rep``) and checks that repetition's output.
``layers`` turns a traced repetition into the per-layer metrics and
the per-round table.

crawl_wide  two rounds over a 66,100-page web from 2,500 link-rich hub
            pages: politeness over a ~54,000-row frontier, robots, the
            fetch join, extraction, discovery, the Bloom seen-set build
            and probe, the tagged state write.
curate      extract_pages -> gopher_signals -> exact_duplicates ->
            lsh_candidate_pairs -> ngram_contamination over a document
            table, without the engine loop.
crawl_deep  BFS from the seed page to depth 2: a handful of pages per
            round, so the per-round fixed cost (driver planning, job
            launch, table listing, commit) is nearly all of it. Runnable,
            but left out of BENCHMARK.json: a run costs ~45 s, and three
            workloads' runs do not fit the benchmark's time budget.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import layertrace as tr
import twins

from crawl4ai_spark.corpus.webgen import build_corpus, seed_url, url_of
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

SPAN_KINDS = ["text", "image", "text"]


@dataclass
class Rep:
    """What one repetition did: wall time, work units (pages crawled or
    documents curated), round walls, fetch attempts and failures, and
    the check results."""

    wall_s: float
    units: int
    round_walls: list[float]
    attempted: int
    failed: int
    checks: dict[str, bool]
    extra: dict = field(default_factory=dict)


def _dir_stats(root: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_files, n_bytes


def _read_table(table, columns: list[str]) -> pa.Table:
    return pa.concat_tables([
        pq.read_table(os.path.join(table.path, d), columns=columns)
        for d in table.snapshot_data()])


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

class Crawl:
    """A CorpusFetcher crawl over the seeded synthetic web, checked
    against the pure-Python twin of the same crawl."""

    name = ""
    n_docs = 0
    warm_up_passes = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_rep = 0
        self.twin = None
        self.corpus = None

    # -- inputs ---------------------------------------------------------
    def documents(self) -> pa.Table:
        return inputs.documents(self.n_docs, self.seed)

    def build(self) -> None:
        """Generate the document table, build and cache the corpus."""
        self.release()
        path = inputs.write(self.documents(),
                            os.path.join(self.work, "documents.parquet"))
        docs = self.spark.read.parquet(path)
        self.corpus = build_corpus(docs, n_docs=self.n_docs).cache()
        self.corpus.count()

    def release(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist()
            self.corpus = None

    # -- one repetition ---------------------------------------------------
    def engine(self, wh: Warehouse, warm_up: bool) -> CrawlEngine:
        raise NotImplementedError

    def start_args(self, warm_up: bool) -> dict:
        raise NotImplementedError

    def rep(self, warm_up: bool = False) -> tuple[Rep, Warehouse, CrawlEngine]:
        self.n_rep += 1
        wh = Warehouse(os.path.join(self.work, f"wh{self.n_rep}"))
        eng = self.engine(wh, warm_up)
        t0 = time.perf_counter()
        stats = eng.run(**self.start_args(warm_up))
        wall = time.perf_counter() - t0
        rounds = wh.read_rounds()
        pages = _read_table(eng.t_pages, ["url_norm", "depth", "parent_url",
                                          "round", "status_code", "spans"])
        status = pages["status_code"].to_pylist()
        fetched = sum(1 for s in status if s != 403)
        ok = status.count(200)
        checks = {} if warm_up else self.check(stats, rounds, pages)
        n_files, n_bytes = _dir_stats(wh.root)
        extra = {
            "warehouse_files": n_files, "warehouse_bytes": n_bytes,
            "denied_rows": status.count(403), "ok_rows": ok,
            "spans": pc.sum(pc.list_value_length(pages["spans"])).as_py() or 0,
            "pages_by_round": Counter(pages["round"].to_pylist()),
        }
        return Rep(wall, stats["pages_crawled"],
                   [r["wall_s"] for r in rounds], fetched,
                   fetched - ok, checks, extra), wh, eng

    # -- checks -------------------------------------------------------------
    def expected(self) -> twins.TwinRun:
        raise NotImplementedError

    def check(self, stats: dict, rounds: list[dict], pages: pa.Table) -> dict:
        if self.twin is None:
            self.twin = self.expected()
        want = self.twin
        got_rows = Counter(zip(*(pages[c].to_pylist() for c in (
            "url_norm", "depth", "parent_url", "round", "status_code"))))
        spans = pages["spans"]
        ok_pages = pc.equal(pages["status_code"], 200)
        kinds = pc.struct_field(pc.list_flatten(pc.filter(spans, ok_pages)),
                                "kind").to_pylist()
        n_ok = pc.sum(ok_pages.cast(pa.int64())).as_py() or 0
        return {
            "pages_match_twin": got_rows == Counter(want.pages),
            "seen_match_twin": [r["seen_count"] for r in rounds]
            == want.seen_count,
            "crawled_match_twin": stats["pages_crawled"] == want.count(200),
            "denied_match_twin": pages["status_code"].to_pylist().count(403)
            == want.count(403),
            "spans_text_image_text": kinds == SPAN_KINDS * n_ok,
        }

    # -- traced repetition ---------------------------------------------------
    def layers(self, tracer: tr.Tracer, execs: list[dict], rep: Rep,
               wh: Warehouse, eng: CrawlEngine) -> tuple[dict, list[dict]]:
        """Per-layer metrics and the per-round table of a traced rep."""
        windows = tracer.round_windows()

        def round_of(ex):
            r = tr.state_round(ex)
            if r is not None:
                return r
            for k, (a, b) in enumerate(windows):
                if a <= ex["start"] < b:
                    return k
            return -1

        by_kind: dict[str, list[dict]] = {}
        for ex in execs:
            by_kind.setdefault(tr.job_kind(ex), []).append(ex)

        def jobs(kind, key=None, rnd=None):
            sel = [e for e in by_kind.get(kind, [])
                   if rnd is None or round_of(e) == rnd]
            if key is None:
                return sum(e["end"] - e["start"] for e in sel)
            return sum(e.get(key, 0.0) for e in sel)

        crawl_s = tracer.total("crawl")
        job_s = sum(e["end"] - e["start"] for e in execs)
        n_fetched = rep.attempted
        deferred = self._tag_rows(wh, "d")
        probed, maybe, missed = self._reprobe(eng)
        if probed:
            rep.checks["bloom_no_false_negatives"] = missed == 0
        mb = 1.0 / (1 << 20)
        m = {
            "engine.frontier.rounds": len(windows),
            "engine.frontier.plan_s": crawl_s - job_s,
            "engine.frontier.job1_s": jobs("job1"),
            "engine.frontier.job2_s": jobs("job2"),
            "engine.frontier.job1_shuffle_mb": jobs("job1", "shuffle_bytes") * mb,
            "engine.frontier.job2_shuffle_mb": jobs("job2", "shuffle_bytes") * mb,
            "engine.frontier.init_s": tracer.total("init"),
            "engine.tables.read_s": tracer.total("tables.read"),
            "engine.tables.reads": tracer.count("tables.read"),
            "engine.tables.commit_s": tracer.total("tables.commit"),
            "engine.tables.written_mb": rep.extra["warehouse_bytes"] * mb,
            "engine.tables.files": rep.extra["warehouse_files"],
            "engine.politeness.plan_s": tracer.total("politeness"),
            "engine.politeness.deferred_rows": sum(deferred.values()),
            "engine.robots.denied_rows": rep.extra["denied_rows"],
            "engine.robots.plan_s": tracer.total("robots"),
            "engine.fetch.rows": n_fetched,
            "engine.fetch.ok_frac":
                rep.extra["ok_rows"] / n_fetched if n_fetched else 0.0,
            "extraction.extract.python_run_s": jobs("job1", "python_run_s"),
            "extraction.extract.python_start_s": jobs("job1", "python_start_s"),
            "extraction.extract.arrow_to_py_mb":
                jobs("job1", "arrow_to_py_bytes") * mb,
            "extraction.extract.arrow_from_py_mb":
                jobs("job1", "arrow_from_py_bytes") * mb,
            "extraction.extract.pages": n_fetched,
            "extraction.extract.spans": rep.extra["spans"],
            "engine.bloom.build_s": tracer.total("bloom.build"),
            "engine.bloom.add_s": tracer.total("bloom.add"),
            # the probe is a Python cogroup inside the state-write job,
            # the only Python stage of that job
            "engine.bloom.probe_s": jobs("job2", "python_run_s"),
            "engine.bloom.probed_rows": probed,
            "engine.bloom.maybe_seen_frac": maybe / probed if probed else 0.0,
        }
        # rows: round = pages written, plan = frontier rows in, job1 =
        # pages written, job2 = state rows written, bloom = keys put in
        # the filter by a build or sync this round, commit = table commits
        pages_by_round = rep.extra["pages_by_round"]
        new_rows = self._tag_rows(wh, "n")
        table = []
        for r, entry in enumerate(wh.read_rounds()):
            j1, j2, bl = jobs("job1", rnd=r), jobs("job2", rnd=r), jobs("bloom", rnd=r)
            commits = [t1 - t0 for n, t0, t1, k in tracer.spans
                       if n == "tables.commit" and k == r]
            n_pages = pages_by_round.get(r, 0)
            table += [
                {"round": r, "phase": "round", "wall_s": entry["wall_s"],
                 "rows": n_pages},
                {"round": r, "phase": "plan",
                 "wall_s": entry["wall_s"] - j1 - j2 - bl,
                 "rows": n_pages + deferred.get(r, 0)},
                {"round": r, "phase": "job1", "wall_s": j1, "rows": n_pages},
                {"round": r, "phase": "job2", "wall_s": j2,
                 "rows": deferred.get(r, 0) + new_rows.get(r, 0)},
                {"round": r, "phase": "bloom", "wall_s": bl,
                 "rows": entry["seen_count"]
                 if entry["bloom_synced_round"] == r else 0},
                {"round": r, "phase": "commit", "wall_s": sum(commits),
                 "rows": len(commits)},
            ]
        return m, table

    @staticmethod
    def _tag_rows(wh: Warehouse, tag: str) -> dict[int, int]:
        """Rows per round in the tagged state write's tag=<tag> dir."""
        out = {}
        state = os.path.join(wh.root, "state")
        for d in sorted(os.listdir(state)) if os.path.isdir(state) else []:
            sub = os.path.join(state, d, f"tag={tag}")
            if os.path.isdir(sub):
                out[int(d[1:])] = sum(
                    pq.ParquetFile(os.path.join(sub, f)).metadata.num_rows
                    for f in os.listdir(sub) if f.endswith(".parquet"))
        return out

    def _reprobe(self, eng: CrawlEngine) -> tuple[int, int, int]:
        """Re-probe through BloomSeenSet.probe the candidates of every
        round that ran with the filter built. Returns (probed,
        maybe_seen, missed): missed counts candidates the filter holds
        (seen up to its last sync) but answered definitely-new."""
        rounds = eng.wh.read_rounds()
        built = [r["round"] + 1 for r in rounds if r["bloom_built"]]
        built = [r for r in built if r < len(rounds)]
        if not built:
            return 0, 0, 0
        from crawl4ai_spark.functions.urlnorm import url_hash

        pages = eng.t_pages.read(self.spark)
        cands = (
            pages.where(F.col("round").isin(built) & F.col("success")
                        & (F.col("depth") + 1 <= eng.cfg.max_depth))
            .select(F.explode("links").alias("l"))
            .where(F.col("l.internal"))
            .select(F.col("l.url_norm").alias("url_norm")).distinct()
            .select("url_norm", url_hash(F.col("url_norm")).alias("url_hash"))
        )
        held = (eng.t_seen.read(self.spark)
                .where(F.col("round") <= rounds[-1]["bloom_synced_round"])
                .select("url_hash", F.lit(True).alias("held")))
        row = (eng.bloom.probe(self.spark, cands).join(held, "url_hash", "left")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("maybe_seen").cast("int")).alias("m"),
                    F.sum((F.col("held") & ~F.col("maybe_seen")).cast("int"))
                    .alias("missed"))
               .first())
        return int(row["n"]), int(row["m"] or 0), int(row["missed"] or 0)


class CrawlDeep(Crawl):
    """BFS from seed_url() to depth 2 over a 5,000-page web, with the
    Bloom seen set enabled and a per-host budget that never binds."""

    name = "crawl_deep"
    n_docs = 5_000
    max_depth = 2
    base_budget = 4_000

    def engine(self, wh, warm_up=False):
        return CrawlEngine(self.spark, wh, CorpusFetcher(self.corpus), CrawlConfig(
            max_depth=1 if warm_up else self.max_depth, mode="bfs",
            use_bloom=True, base_host_budget=self.base_budget, n_salts=8))

    def start_args(self, warm_up=False):
        return {"seeds": [seed_url()]}

    def expected(self):
        return twins.crawl(self.n_docs, [0], self.max_depth, self.base_budget)


class CrawlWide(Crawl):
    """Two rounds from 2,500 hub pages over a 66,100-page web.

    Each seeded hub page's text carries 18 extra anchors to distinct
    pages, so round 0 fetches the 2,500 hubs (base budget 3,000 per
    host) and discovers about 54,000 urls: the seen set crosses the
    default bloom_min_seen (50,000), and the Bloom filter builds at the
    round-0 close. Round 1 probes it. The host budget is capped at 600,
    so round 1 fetches 600 rows per host and defers the rest of its
    ~54,000-row frontier; robots deny '/page/1...' on one host, which
    is where round 1's politeness order starts."""

    name = "crawl_wide"
    n_hubs, hub_range, links_per_hub = 2_500, 3_000, 18
    # webgen children of a hub i < hub_range stay below 7*i + 11, so the
    # anchor targets start above them and every anchor is a new url
    first_target = 7 * hub_range + 11
    n_docs = first_target + n_hubs * links_per_hub + 89
    robots_rules = {"site3.example.com": ["/page/1"]}
    base_budget, max_budget = 3_000, 600
    max_depth, max_rounds = 2, 2
    warm_up_hubs = 100

    def documents(self):
        allowed = [i for i in range(self.hub_range)
                   if not twins.robots_denied(i, self.robots_rules)]
        self.seeds = inputs.sample(self.seed, self.n_hubs, allowed, salt=1)
        self.links = inputs.hub_links(
            self.seed, self.seeds, self.links_per_hub,
            range(self.first_target, self.n_docs))
        return inputs.with_links(inputs.documents(self.n_docs, self.seed),
                                 self.links, url_of)

    def build(self):
        super().build()
        path = inputs.write(
            pa.table({"url": [url_of(i) for i in self.seeds]}),
            os.path.join(self.work, "seeds.parquet"))
        self.seed_df = self.spark.read.parquet(path).cache()
        self.seed_df.count()
        self.robots = self.spark.createDataFrame(
            [(h, [], rules) for h, rules in self.robots_rules.items()],
            "host string, allow array<string>, disallow array<string>")

    def release(self):
        super().release()
        if getattr(self, "seed_df", None) is not None:
            self.seed_df.unpersist()
            self.seed_df = None

    def engine(self, wh, warm_up=False):
        return CrawlEngine(self.spark, wh, CorpusFetcher(self.corpus), CrawlConfig(
            max_depth=self.max_depth, max_rounds=self.max_rounds, mode="bfs",
            base_host_budget=self.base_budget, max_host_budget=self.max_budget),
            robots=self.robots)

    def start_args(self, warm_up=False):
        seeds = self.seed_df.limit(self.warm_up_hubs) if warm_up else self.seed_df
        return {"seed_df": seeds}

    def expected(self):
        return twins.crawl(self.n_docs, self.seeds, self.max_depth,
                           self.base_budget, self.max_budget, self.max_rounds,
                           self.robots_rules, self.links)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

class Curate:
    """One read-only pass of the curation chain over the extracted text
    of a seeded document table, checked against the repo's DuckDB
    oracles for the same four operators."""

    name = "curate"
    n_docs = 1_000
    n_exact = n_near = 50
    # a pass keeps speeding up for about four passes (JIT); measure after
    warm_up_passes = 3
    OP_METRICS = {
        "quality_gopher": "ops.quality.gopher_s",
        "dedup_exact": "ops.dedup.exact_s",
        "dedup_minhash_lsh": "ops.dedup.minhash_s",
        "decontaminate": "ops.quality.decontam_s",
    }

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.path = None
        self.want = None

    def build(self) -> None:
        from crawl4ai_spark.ops.text import spread_input

        table = inputs.documents(self.n_docs, self.seed, self.n_exact, self.n_near)
        self.path = inputs.write(table, os.path.join(self.work, "documents.parquet"))
        self.texts_want = dict(zip(table["doc_id"].to_pylist(),
                                   table["text"].to_pylist()))
        self.docs = spread_input(self.spark.read.parquet(self.path), "doc_id")
        self.docs.count()

    def release(self) -> None:
        pass

    def stages(self, texts):
        """(name, DataFrame) of each operator, as the registered
        queries build them over the documents table."""
        from crawl4ai_spark import queries as Q
        from crawl4ai_spark.ops import dedup, quality

        i = F.col("doc_id")
        plant = texts.where(i % 5 == 0).select((i + 10000).alias("doc_id"), "text")
        near = texts.where(i % 5 == 0).select(
            (i + 10000).alias("doc_id"),
            F.concat("text", F.lit(" join hash")).alias("text"))
        bench = texts.where(i % Q._DECON_BENCH_MOD == 0)
        corpus = texts.where(i % Q._DECON_BENCH_MOD != 0)
        return [
            ("quality_gopher", quality.gopher_signals(texts).select(
                "doc_id", "n_words", "top_word_frac", "top_bigram_frac",
                "top_trigram_frac", "dup_word_frac",
                F.col("keep").cast("int").alias("keep"))),
            ("dedup_exact", dedup.exact_duplicates(texts.unionByName(plant))),
            ("dedup_minhash_lsh", dedup.lsh_candidate_pairs(
                texts.unionByName(near), num_hashes=Q._MINHASH_H,
                bands=Q._MINHASH_BANDS, shingle_n=2)),
            ("decontaminate",
             quality.ngram_contamination(corpus, bench, n=Q._DECON_N).select(
                 "doc_id", "n_grams", "n_hit", "hit_frac",
                 F.col("contaminated").cast("int").alias("contaminated"))),
        ]

    def rep(self, warm_up: bool = False):
        from crawl4ai_spark.extraction.extract import extract_pages

        t0 = time.perf_counter()
        corpus = build_corpus(self.docs)
        pages = extract_pages(corpus.withColumnRenamed("url_norm", "url"))
        texts = pages.select(
            F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long").alias("doc_id"),
            F.regexp_replace(F.col("spans")[0]["text"], r"^# Doc \d+\n\n", "")
            .alias("text"),
            F.size("spans").alias("n_spans"),
        ).persist()
        n = texts.count()
        stage_s = {"extract": time.perf_counter() - t0}
        ops_start = time.time()
        results = {}
        for name, df in self.stages(texts.select("doc_id", "text")):
            t = time.perf_counter()
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
            stage_s[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        checks = {}
        if not warm_up:
            got = texts.collect()
            checks["text_roundtrip"] = (
                {r["doc_id"]: r["text"] for r in got} == self.texts_want)
            checks["spans_per_doc"] = all(r["n_spans"] == 3 for r in got)
            checks.update(self.check(results))
        texts.unpersist()
        extra = {"stage_s": stage_s, "ops_start": ops_start,
                 "lsh_pairs": len(results["dedup_minhash_lsh"][1]),
                 "dup_groups": len(results["dedup_exact"][1])}
        return Rep(wall, n, [wall], n, 0, checks, extra), None, None

    def check(self, results: dict) -> dict:
        if self.want is None:
            self.want = oracle_results(self.path, list(results))
        return {f"{name}_matches_oracle": canon(*results[name]) == canon(*self.want[name])
                for name in results}

    def layers(self, tracer, execs, rep, wh, eng):
        """Curate phases are timed by the benchmark itself; the status
        store adds extraction's Python metrics and the ops' shuffles."""
        mb = 1.0 / (1 << 20)
        extract = [e for e in execs if e["start"] < rep.extra["ops_start"]]
        ops = [e for e in execs if e["start"] >= rep.extra["ops_start"]]
        stage_s = rep.extra["stage_s"]
        m = {metric: stage_s[name] for name, metric in self.OP_METRICS.items()}
        m.update({
            "ops.dedup.lsh_pairs": rep.extra["lsh_pairs"],
            "ops.dedup.dup_groups": rep.extra["dup_groups"],
            "ops.shuffle_mb": sum(e.get("shuffle_bytes", 0.0) for e in ops) * mb,
            "extraction.extract.python_run_s":
                sum(e.get("python_run_s", 0.0) for e in extract),
            "extraction.extract.python_start_s":
                sum(e.get("python_start_s", 0.0) for e in extract),
            "extraction.extract.arrow_to_py_mb":
                sum(e.get("arrow_to_py_bytes", 0.0) for e in extract) * mb,
            "extraction.extract.arrow_from_py_mb":
                sum(e.get("arrow_from_py_bytes", 0.0) for e in extract) * mb,
            "extraction.extract.pages": rep.units,
            "extraction.extract.spans": 3 * rep.units,
        })
        table = [{"round": 0, "phase": k, "wall_s": v, "rows": rep.units}
                 for k, v in stage_s.items()]
        return m, table


def oracle_results(docs_path: str, names: list[str]) -> dict:
    import duckdb

    from crawl4ai_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    out = {}
    for name in names:
        res = con.execute(ORACLES[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive comparable form: columns by name, floats to 6
    places, booleans as ints, rows sorted."""
    order = sorted(range(len(cols)), key=lambda k: cols[k])

    def cell(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):
            return round(v, 6)
        return v

    out = [tuple(cell(r[k]) for k in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


WORKLOADS = {w.name: w for w in (CrawlDeep, CrawlWide, Curate)}


