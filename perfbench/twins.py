"""Pure-Python twins of the crawls the benchmark runs.

Each twin replays the engine's round semantics over the synthetic link
graph of ``crawl4ai_spark.corpus.webgen`` (children of page i are
``a*i + b`` for ``(a, b)`` in ``CHILD_FACTORS``, kept below N) without
Spark:

- per-host politeness: a host whose frontier rows exceed its budget
  fetches the rows whose key is among its ``budget`` best by
  (effective priority, depth, url); the rest wait a round;
- the budget recurrence of a host with no rate-limited fetches:
  ``min(max_budget, int(budget * 4 / 3 + 1))``, applied to every host
  that has fetched so far;
- robots: a selected row whose path starts with one of its host's
  ``disallow`` prefixes (the benchmark sets no ``allow`` rules) is
  denied: a 403 page, not fetched;
- discovery: children of successful pages up to ``max_depth``, first
  parent = min (depth, parent url) among the round's discoverers,
  minus every url ever discovered (seeds stay out of the seen set
  until rediscovered, like the reference);
- the run stops after ``max_rounds`` rounds or when the frontier is
  empty.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from crawl4ai_spark.corpus.webgen import CHILD_FACTORS, N_HOSTS, url_of

FAIRNESS_ROUNDS = 5


def host_of(i: int) -> str:
    return f"site{i % N_HOSTS}.example.com"


def children(i: int, n: int) -> list[int]:
    return [a * i + b for a, b in CHILD_FACTORS if a * i + b < n]


@dataclass
class TwinRun:
    # (url, depth, parent_url, round, status_code), one per pages row
    pages: list[tuple] = field(default_factory=list)
    seen_count: list[int] = field(default_factory=list)   # after each round
    deferred: list[int] = field(default_factory=list)     # per round

    def count(self, status: int) -> int:
        return sum(1 for p in self.pages if p[4] == status)


def robots_denied(i: int, robots: dict[str, list[str]]) -> bool:
    path = f"/page/{i}"
    return any(path.startswith(p) for p in robots.get(host_of(i), ()))


def crawl(n: int, seeds: list[int], max_depth: int, base_budget: int,
          max_budget: int | None = None, max_rounds: int = 1000,
          robots: dict[str, list[str]] | None = None,
          extra_links: dict[int, list[int]] | None = None) -> TwinRun:
    """``extra_links`` are the anchors a page's text adds to its
    webgen children."""
    robots = robots or {}
    extra_links = extra_links or {}
    max_budget = max_budget or base_budget
    out = TwinRun()
    # frontier row: (id, depth, parent_url, wait_rounds)
    frontier = [(i, 0, None, 0) for i in sorted(set(seeds))]
    seen: set[int] = set()
    budget: dict[str, int] = {}
    for rnd in range(max_rounds):
        if not frontier:
            break
        by_host = defaultdict(list)
        for row in frontier:
            by_host[host_of(row[0])].append(row)
        selected, deferred = [], []
        for host, rows in by_host.items():
            b = budget.get(host, base_budget)
            if len(rows) <= b:
                selected += rows
                continue

            def order(r):
                eff = -1e9 - r[3] if r[3] > FAIRNESS_ROUNDS else float(r[1])
                return (eff, r[1], url_of(r[0]))
            winners = {r[0] for r in sorted(rows, key=order)[:b]}
            for r in rows:
                (selected if r[0] in winners else deferred).append(r)
        fetched = []
        for i, depth, parent, _ in selected:
            status = 403 if robots_denied(i, robots) else 200
            out.pages.append((url_of(i), depth, parent, rnd, status))
            if status == 200:
                fetched.append((i, depth))
        best: dict[int, tuple] = {}
        for i, depth in fetched:
            if depth + 1 > max_depth:
                continue
            for c in children(i, n) + extra_links.get(i, []):
                cand = (depth + 1, url_of(i))
                if c not in best or cand < best[c]:
                    best[c] = cand
        new = {c: v for c, v in best.items() if c not in seen}
        seen.update(new)
        for host in set(budget) | {host_of(p[0]) for p in selected}:
            b = budget.get(host, base_budget)
            budget[host] = min(max_budget, int(b * 4 / 3 + 1))
        out.seen_count.append(len(seen))
        out.deferred.append(len(deferred))
        frontier = [(i, d, p, w + 1) for i, d, p, w in deferred] + [
            (c, d, p, 0) for c, (d, p) in new.items()
        ]
    return out
