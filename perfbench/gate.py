"""Oracle gate: compare a committed crawl with ``oracle/bfs.simulate_crawl``.

Hard checks are properties the engine holds today; any breach makes the
run incorrect:

  * every fetched URL's ``doc_json`` list equals the oracle extraction of
    that page, byte for byte;
  * scheduled URLs per (crawl round, host) stay within the host budget;
  * ``sched_rank`` runs 1..n per (crawl round, host);
  * the manifest lists every round, for every table.

Divergence from the simulated crawl (ordering rows, docs rows) is counted,
not fatal: ``failed`` is the number of engine ``scheduled`` and ``docs``
rows with no identical oracle row, so a broken exactly-once guarantee
shows as a failed share instead of aborting the benchmark.

The crawl round of a ``scheduled`` row is its commit round. The table's
``round`` column is the URL's discovery round, which a deferred URL keeps,
so the gate reads each committed round separately.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from biothings_crawler_spark.catalog import ParquetManifestCatalog
from biothings_crawler_spark.fixtures.corpus import oracle_page_items
from biothings_crawler_spark.functions.json_canon import canonical_json
from biothings_crawler_spark.oracle.bfs import CrawlConfig, SimResult
from biothings_crawler_spark.urlnorm import canonicalize_url

CRAWL_TABLES = ("scheduled", "docs", "page_texts", "next_frontier",
                "seen_segments", "metrics", "lineage")


@dataclass
class EngineCrawl:
    """The committed output of one crawl, collected to the driver."""

    manifest_rounds: list[int]
    table_rounds: dict[str, list[int]]
    # (crawl round, host, sched_rank, url_canon, url, source, parser)
    scheduled: list[tuple]
    # (crawl round, url_canon, pos, doc_json)
    docs: list[tuple]


@dataclass
class GateResult:
    hard_failures: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return not self.hard_failures


def collect_crawl(spark, checkpoint: str) -> EngineCrawl:
    cat = ParquetManifestCatalog(checkpoint)
    rounds = cat.rounds()
    sched = []
    for r in rounds:
        df = cat.read(spark, "scheduled", r)
        if df is None:
            continue
        sched += [(r, *row) for row in df.select(
            "host", "sched_rank", "url_canon", "url", "source", "parser").collect()]
    docs_df = cat.read(spark, "docs")
    docs = [] if docs_df is None else [
        tuple(row) for row in docs_df.select("round", "url_canon", "pos", "doc_json").collect()]
    return EngineCrawl(rounds, {t: cat.rounds(t) for t in CRAWL_TABLES}, sched, docs)


def host_budget(robots: list[dict], cfg: CrawlConfig):
    delays = {r["host"]: r.get("crawl_delay") for r in robots}

    def budget(host: str) -> int:
        d = delays.get(host)
        if d:
            return max(1, int(cfg.round_seconds / d))
        return cfg.default_budget
    return budget


def _unmatched(engine: list[tuple], oracle: list[tuple]) -> int:
    """Engine rows (as a multiset) with no identical oracle row."""
    return sum((Counter(engine) - Counter(oracle)).values())


def check(crawl: EngineCrawl, oracle: SimResult, pages: dict[str, str],
          robots: list[dict], policies: dict[str, dict], cfg: CrawlConfig,
          failed_tasks: int = 0) -> GateResult:
    """Gate *crawl* against *oracle*, the simulation of the same inputs.

    *pages* maps page URL to html, as given to the simulator.
    """
    res = GateResult()
    hard = res.hard_failures

    n_rounds = len(crawl.manifest_rounds)
    if crawl.manifest_rounds != list(range(n_rounds)):
        hard.append(f"manifest rounds {crawl.manifest_rounds} are not 0..{n_rounds - 1}")
    for t in CRAWL_TABLES:
        if crawl.table_rounds.get(t) != crawl.manifest_rounds:
            hard.append(f"table {t} lists rounds {crawl.table_rounds.get(t)}")

    budget = host_budget(robots, cfg)
    ranks: dict[tuple, list[int]] = defaultdict(list)
    for r, host, rank, *_ in crawl.scheduled:
        ranks[(r, host)].append(rank)
    for (r, host), rs in sorted(ranks.items()):
        if len(rs) > budget(host):
            hard.append(f"round {r} host {host}: {len(rs)} scheduled > budget {budget(host)}")
        if sorted(rs) != list(range(1, len(rs) + 1)):
            hard.append(f"round {r} host {host}: sched_rank is not 1..{len(rs)}")

    by_canon = {canonicalize_url(u): (u, h) for u, h in pages.items()}
    engine_docs: dict[tuple, list] = defaultdict(list)
    for r, canon, pos, doc in crawl.docs:
        engine_docs[(r, canon)].append((pos, doc))
    n_fetched = 0
    for r, _host, _rank, canon, url, source, parser in crawl.scheduled:
        page = by_canon.get(canon)
        if page is None:
            continue
        n_fetched += 1
        pol = policies.get(source, policies.get("web"))
        ex = pol.get("extract_regex")
        want = ([canonical_json(it) for it in oracle_page_items(parser, page[1], url)]
                if ex is None or re.search(ex, url) else [])
        got = [d for _, d in sorted(engine_docs.get((r, canon), []))]
        if got != want:
            hard.append(f"round {r} {canon}: docs differ from the oracle extraction")

    sched_rows = [(r, host, rank, canon) for r, host, rank, canon, *_ in crawl.scheduled]
    doc_rows = [(r, canon, doc) for r, canon, _pos, doc in crawl.docs]
    bad_sched = _unmatched(sched_rows, oracle.ordering)
    bad_docs = _unmatched(doc_rows, oracle.docs)
    times_scheduled = Counter(canon for _r, _h, _k, canon in sched_rows)
    res.attempted = len(sched_rows) + len(doc_rows)
    res.failed = bad_sched + bad_docs + failed_tasks
    res.detail = {
        "rounds": n_rounds,
        "scheduled": len(sched_rows),
        "docs": len(doc_rows),
        "fetched": n_fetched,
        "unmatched_scheduled": bad_sched,
        "unmatched_docs": bad_docs,
        "failed_tasks": failed_tasks,
        "missing_oracle_scheduled": _unmatched(oracle.ordering, sched_rows),
        "missing_oracle_docs": _unmatched(oracle.docs, doc_rows),
        "scheduled_twice": sum(1 for n in times_scheduled.values() if n > 1),
        "seen_set_diff": len(set(times_scheduled) ^ oracle.seen),
    }
    return res
