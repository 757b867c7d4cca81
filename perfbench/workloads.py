"""Crawl workloads: generated inputs and crawl configuration per workload.

The corpus is the deterministic fixture corpus (``fixtures/corpus``), so
it depends only on its size. The workload seed picks which corpus URLs
become crawl seeds; the same seed always gives the same seed list.

Inputs are written to parquet once per run and the crawl reads them
back with ``spark.read.parquet``, the way ``jobs/crawl_job.py`` does.
The page rows are generated once in the driver, where the simulator needs
them too, and written by pyarrow in ``PAGE_FILES`` files.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from biothings_crawler_spark.fixtures import corpus
from biothings_crawler_spark.oracle.bfs import CrawlConfig, simulate_crawl

# the seven named sources of the fixture corpus, in corpus.gen_seeds order
NAMED_SOURCES = ["figshare_brunel", "zenodo", "omicsdi", "ncbi_geo",
                 "massbank", "edgar", "clic"]
HOT_SOURCE = "figshare_brunel"  # figshare.example.org holds 30% of the corpus
PAGE_FILES = 4  # one input partition per core of local[4]


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    cfg: CrawlConfig = field(default_factory=CrawlConfig)


WORKLOADS = {
    w.name: w
    for w in [
        # 10 seeds per named source, 4 rounds, budget 15: a few dozen URLs
        # per round, so round time is per-round fixed cost (jobs, commit)
        Workload("deep_bfs", 3000,
                 CrawlConfig(max_rounds=4, default_budget=15, round_seconds=10.0,
                             n_segments=8, bloom_bits_per_segment=1 << 12,
                             bloom_hashes=5)),
        # half of the hot host's pages as seeds, budget 125, salt_target 50:
        # the salted politeness window and heavy rediscovery through the
        # seen set
        Workload("hot_host", 5000,
                 CrawlConfig(max_rounds=3, default_budget=125, round_seconds=10.0,
                             salt_target=50)),
        # 5000 seeds over all sources, budget 200: data volume through
        # admission, fetch and extraction on the fused politeness window
        Workload("wide_frontier", 20000,
                 CrawlConfig(max_rounds=3, default_budget=200, round_seconds=10.0)),
        # one seed per named source; for the self-tests
        Workload("smoke", 300,
                 CrawlConfig(max_rounds=3, default_budget=15, round_seconds=10.0,
                             n_segments=8, bloom_bits_per_segment=1 << 12,
                             bloom_hashes=5)),
    ]
}


def _seed_row(k: int, i: int, seed_id: str) -> dict:
    src = corpus.source_of(i)
    if src == "longtail":
        src = "web"  # the policy list names the long tail "web"
    return {
        "seed_id": seed_id,
        "url": corpus.url_of(i),
        "source": src,
        "parser": corpus.parser_for_source(src),
        "priority": k % 3,
    }


def _per_source(rng: random.Random, n_pages: int, per_source: int) -> list[dict]:
    seeds = []
    for src in NAMED_SOURCES:
        pool = [i for i in range(n_pages) if corpus.source_of(i) == src]
        for j, i in enumerate(rng.sample(pool, per_source)):
            seeds.append(_seed_row(len(seeds), i, f"{src}-{j}"))
    return seeds


def oracle_pages(rows: list[dict]) -> dict[str, str]:
    """The page rows as the simulator takes them: page URL -> html."""
    return {r["url"]: r["html"].decode("utf-8") for r in rows}


def gen_seeds(wl: Workload, seed: int, pages: dict[str, str]) -> list[dict]:
    """The crawl seeds of *wl* for workload seed *seed*.

    ``deep_bfs`` redraws (from the same random stream) until the
    simulated crawl over *pages* lasts all ``max_rounds`` rounds: a crawl
    that dies out early does not measure per-round cost at depth.
    ``deep_bfs`` takes 10 seeds per source rather than the reference's 2
    because with 2 the URL count, and so ``urls_per_s``, varies by a
    quarter between seeds; with 10 most hosts fill their budget each round.
    """
    rng = random.Random(seed)
    n = wl.n_pages
    if wl.name == "deep_bfs":
        while True:
            seeds = _per_source(rng, n, 10)
            res = simulate_crawl(pages, seeds, corpus.gen_robots(),
                                 corpus.POLICIES, wl.cfg)
            if {r for r, *_ in res.ordering} == set(range(wl.cfg.max_rounds)):
                return seeds
    if wl.name == "hot_host":
        pool = [i for i in range(n) if corpus.source_of(i) == HOT_SOURCE]
        return [_seed_row(k, i, f"hot-{k}")
                for k, i in enumerate(sorted(rng.sample(pool, len(pool) // 2)))]
    if wl.name == "wide_frontier":
        return [_seed_row(k, i, f"wide-{k}")
                for k, i in enumerate(sorted(rng.sample(range(n), 5000)))]
    return _per_source(rng, n, 1)


def _write(spark, rows: list[dict], ddl: str, path: Path, n_files: int = 1) -> None:
    """*rows* with the Spark schema *ddl* as *n_files* parquet files,
    written by pyarrow: a Spark job per table costs seconds."""
    schema = to_arrow_schema(spark.createDataFrame([], ddl).schema)
    path.mkdir(parents=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        pq.write_table(pa.Table.from_pylist(rows[k * step:(k + 1) * step], schema=schema),
                       path / f"part-{k}.parquet")


def write_inputs(spark, page_rows: list[dict], seeds: list[dict], out: Path) -> dict[str, str]:
    """Write pages, seeds and robots parquet under *out*; return the paths."""
    _write(spark, page_rows, corpus.PAGES_SCHEMA, out / "pages", PAGE_FILES)
    _write(spark, seeds, corpus.SEEDS_SCHEMA, out / "seeds")
    _write(spark, corpus.gen_robots(), corpus.ROBOTS_SCHEMA, out / "robots")
    return {t: str(out / t) for t in ("pages", "seeds", "robots")}


def read_inputs(spark, paths: dict[str, str]):
    """(pages, seeds, robots) DataFrames over the parquet inputs."""
    return tuple(spark.read.parquet(paths[t]) for t in ("pages", "seeds", "robots"))
