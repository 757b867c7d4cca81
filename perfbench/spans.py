"""Traced crawl: spans around the calls ``plans/crawl.py`` makes into each layer.

``Tracer.installed()`` swaps the names ``plans/crawl.py`` imported
(``dedup_frontier``, ``apply_robots``, ``filter_unseen``,
``select_politely``, ``links_to_frontier``, ``build_segments`` and the
two extract UDFs) and the ``ParquetManifestCatalog.commit`` / ``read``
methods for wrappers, and restores them on exit. The package itself is
not changed.

Each wrapper calls the original under a Spark job group named for its
span, then persists and counts the result under the span's force group
``<span>/force``. The span's own group thus holds only the jobs the
layer runs eagerly inside the call (``select_politely``'s salt probe),
and the two groups together hold the layer's event-log task metrics.
Spark is lazy: work upstream of a wrapper that nothing forced yet is billed to the
first span that forces it. The fetch join and the canonicalisation of the
pages corpus have no function boundary in ``run_crawl``; their cost lands
in ``frontier.links``, the first span that forces ``fetched``.

Counting helpers that are not layer work (input row counts, the bloom
probe count, per-host counts) run under the ``trace.probe`` span, which
is excluded from the crawl's self time.

The extract UDFs are replaced by pandas UDFs that call the original
``.func`` and add Python-worker busy time and row counts to accumulators.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biothings_crawler_spark.catalog import ParquetManifestCatalog
from biothings_crawler_spark.operators.seen import mark_maybe_seen
from biothings_crawler_spark.plans import crawl as crawl_plan

PROBE = "trace.probe"
FORCE = "/force"  # suffix of the job group that forces a span's result
# spans whose Spark task metrics are reported; catalog.read runs no jobs
TASK_SPANS = ("frontier.dedup", "frontier.links", "politeness.robots",
              "politeness.select", "seen.filter", "seen.build",
              "catalog.commit")
WRAPPED = ("dedup_frontier", "apply_robots", "filter_unseen", "select_politely",
           "links_to_frontier", "build_segments", "extract_items_udf",
           "extract_links_udf")


def _items_udf(fn, busy_s, rows):
    def items(html: pd.Series, url: pd.Series, parser: pd.Series) -> pd.Series:
        t = time.perf_counter()
        out = fn(html, url, parser)
        busy_s.add(time.perf_counter() - t)
        rows.add(len(html))
        return out
    return F.pandas_udf(items, T.ArrayType(T.StringType()))


def _links_udf(fn, busy_s, rows):
    def links(html: pd.Series, url: pd.Series) -> pd.Series:
        t = time.perf_counter()
        out = fn(html, url)
        busy_s.add(time.perf_counter() - t)
        rows.add(len(html))
        return out
    return F.pandas_udf(links, T.ArrayType(T.StringType()))


def _file_stamps(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != ".tmp"]
        for name in filenames:
            st = os.stat(os.path.join(dirpath, name))
            out[os.path.join(dirpath, name)] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Span timings and layer counters of one traced ``run_crawl`` call.

    *parent* is the job group of the crawl itself; every span restores it.
    """

    def __init__(self, spark, parent: str):
        self.sc = spark.sparkContext
        self.parent = parent
        self.span_s: dict[str, float] = defaultdict(float)
        self.count: dict[str, int] = defaultdict(int)
        self.salted_hosts: list[int] = []
        self.host_skew: list[float] = []
        self.segment_bytes = 0
        self._rows: dict[int, int] = {}
        self._kept: list = []
        self.items_s = self.sc.accumulator(0.0)
        self.items_rows = self.sc.accumulator(0)
        self.links_s = self.sc.accumulator(0.0)
        self.links_rows = self.sc.accumulator(0)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.span_s[name] += time.perf_counter() - t
            self.sc.setJobGroup(self.parent, self.parent)

    def _run(self, name: str, fn, *args, **kwargs):
        """Call *fn* under span *name*; persist and count its result under
        the span's force group."""
        with self.span(name):
            out = fn(*args, **kwargs).persist()
            self.sc.setJobGroup(name + FORCE, name)
            n = out.count()
        self._kept.append(out)  # keeps id(out) unique while its count is cached
        self._rows[id(out)] = n
        return out, n

    def _rows_of(self, df) -> int:
        n = self._rows.get(id(df))
        if n is None:
            with self.span(PROBE):
                n = df.count()
        return n

    # --- wrappers, one per name plans/crawl.py imports -------------------

    def _wrappers(self, orig: dict) -> dict:
        def dedup_frontier(frontier):
            n_in = self._rows_of(frontier)
            out, n = self._run("frontier.dedup", orig["dedup_frontier"], frontier)
            self.count["frontier.dedup_rows_in"] += n_in
            self.count["frontier.dedup_rows_out"] += n
            return out

        def apply_robots(cand, *args, **kwargs):
            n_in = self._rows_of(cand)
            out, n = self._run("politeness.robots", orig["apply_robots"], cand, *args, **kwargs)
            self.count["politeness.robots_blocked"] += n_in - n
            return out

        def filter_unseen(cand, segments, exact_seen, n_segments):
            n_in = self._rows_of(cand)
            positive = 0
            if segments is not None:
                with self.span(PROBE):
                    positive = (mark_maybe_seen(cand, segments, n_segments)
                                .filter("maybe_seen").count())
            out, n = self._run("seen.filter", orig["filter_unseen"],
                               cand, segments, exact_seen, n_segments)
            self.count["seen.bloom_positive"] += positive
            # out = definitely-new (n_in - positive) + bloom positives the
            # exact anti-join let through
            self.count["seen.exact_rescued"] += n - (n_in - positive)
            return out

        def select_politely(cand, budgets, default_budget, salt_target=100_000, *args, **kwargs):
            n_in = self._rows_of(cand)
            with self.span(PROBE):
                per_host = [r[1] for r in cand.groupBy("host").count().collect()]
            out, n = self._run("politeness.select", orig["select_politely"],
                               cand, budgets, default_budget, salt_target, *args, **kwargs)
            with self.span(PROBE):
                sched = [r[1] for r in out.groupBy("host").count().collect()]
            self.count["politeness.deferred"] += n_in - n
            self.salted_hosts.append(sum(1 for c in per_host if c > salt_target))
            if sched:
                self.host_skew.append(max(sched) / statistics.median(sched))
            return out

        def links_to_frontier(*args, **kwargs):
            out, n = self._run("frontier.links", orig["links_to_frontier"], *args, **kwargs)
            self.count["frontier.links_rows_out"] += n
            return out

        def build_segments(*args, **kwargs):
            out, _ = self._run("seen.build", orig["build_segments"], *args, **kwargs)
            with self.span(PROBE):
                self.segment_bytes = out.agg(F.sum(F.length("bloom"))).first()[0] or 0
            return out

        return {
            "dedup_frontier": dedup_frontier,
            "apply_robots": apply_robots,
            "filter_unseen": filter_unseen,
            "select_politely": select_politely,
            "links_to_frontier": links_to_frontier,
            "build_segments": build_segments,
            "extract_items_udf": _items_udf(orig["extract_items_udf"].func,
                                            self.items_s, self.items_rows),
            "extract_links_udf": _links_udf(orig["extract_links_udf"].func,
                                            self.links_s, self.links_rows),
        }

    def _catalog_methods(self, commit, read):
        def traced_commit(cat, round_no, tables):
            forced = {name: self._run(f"catalog.compute.{name}", lambda df=df: df)[0]
                      for name, df in tables.items()}
            before = _file_stamps(cat.root)
            with self.span("catalog.commit"):
                commit(cat, round_no, forced)
            after = _file_stamps(cat.root)
            written = [p for p, st in after.items() if before.get(p) != st]
            self.count["catalog.files_written"] += len(written)
            self.count["catalog.bytes_written"] += sum(after[p][0] for p in written)

        def traced_read(cat, *args, **kwargs):
            with self.span("catalog.read"):
                return read(cat, *args, **kwargs)

        return traced_commit, traced_read

    @contextmanager
    def installed(self):
        """Swap the wrappers in for the duration of the block."""
        orig = {name: getattr(crawl_plan, name) for name in WRAPPED}
        commit, read = ParquetManifestCatalog.commit, ParquetManifestCatalog.read
        for name, fn in self._wrappers(orig).items():
            setattr(crawl_plan, name, fn)
        ParquetManifestCatalog.commit, ParquetManifestCatalog.read = \
            self._catalog_methods(commit, read)
        try:
            yield self
        finally:
            for name, fn in orig.items():
                setattr(crawl_plan, name, fn)
            ParquetManifestCatalog.commit, ParquetManifestCatalog.read = commit, read
            for df in self._kept:
                df.unpersist()
            self._kept.clear()

    def jobs_in(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))
