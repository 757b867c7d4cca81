"""End-to-end crawl benchmark: ``plans/crawl.run_crawl`` on generated workloads.

    python3 perfbench/run.py --workload deep_bfs --seed 1 --seconds 10 --trace 0

One run sets up, then measures. Set-up (``setup_s``) starts a
``local[4]`` Spark session, writes the workload's inputs (pages, seeds
and robots parquet) and warms the JVM up with a ``WARMUP_ROUNDS``-round
crawl of the workload into a throwaway checkpoint. The measurement runs
whole crawls back to back until ``--seconds`` have passed since the
first one started (at least one crawl). Every measured crawl is checked against the frozen
simulator ``oracle/bfs.simulate_crawl`` fed the same inputs (see
``gate.py``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also runs
one traced crawl (see ``spans.py``) with the Spark event log on, and
reports the per-layer metrics. Every process the run starts has ended
before it exits (see ``reap.py``). The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it list every metric by name and unit, plus diagnostics.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# a cold crawl pays most of its extra time in round 0; a longer warm-up
# would not leave the run time for ten runs per workload and commit
WARMUP_ROUNDS = 1

END_TO_END_UNITS = {
    "crawl_s": "s",
    "round_s.p50": "s",
    "round_s.max": "s",
    "urls_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def _spark(work: Path, trace: bool):
    from biothings_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        # keep the JVM's scratch files inside the work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the status tracker answers the job and stage counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf)


def _failed_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            stage = st.getStageInfo(sid)
            n += stage.numFailedTasks if stage else 0
    return n


def timed_crawl(spark, cfg, paths: dict, checkpoint: Path, group: str) -> dict:
    """One ``run_crawl`` call under job group *group*, with its round times.

    Round r's time runs from round r-1's commit stamp (the manifest's
    ``_meta[r].build_date``) to its own; round 0 runs from the call.
    """
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.plans import crawl as crawl_plan
    from perfbench.workloads import read_inputs

    sc = spark.sparkContext
    pages, seeds, robots = read_inputs(spark, paths)
    sc.setJobGroup(group, group)
    started = dt.datetime.now(dt.timezone.utc)
    t = time.perf_counter()
    crawl_plan.run_crawl(spark, pages, seeds, robots, corpus.gen_policies(),
                         str(checkpoint), cfg)
    crawl_s = time.perf_counter() - t
    sc.setLocalProperty("spark.jobGroup.id", None)
    meta = json.loads((checkpoint / "_manifest.json").read_text())
    stamps = [started] + [dt.datetime.fromisoformat(meta["_meta"][str(r)]["build_date"])
                          for r in meta["rounds"]]
    return {
        "checkpoint": checkpoint,
        "crawl_s": crawl_s,
        "round_s": [(b - a).total_seconds() for a, b in zip(stamps, stamps[1:])],
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "failed_tasks": _failed_tasks(sc, group),
    }


def seen_probes(spark, checkpoint: Path, n_segments: int, corpus_hashes) -> dict:
    """Probe each committed round's ``seen_segments`` with the url_hashes
    that rounds up to it committed to ``scheduled`` (any absent one is a
    false negative) and with corpus hashes never scheduled (any present
    one is a false positive)."""
    import numpy as np

    from biothings_crawler_spark.catalog import ParquetManifestCatalog
    from biothings_crawler_spark.operators.seen import filter_from_bytes, segment_fill_report

    cat = ParquetManifestCatalog(checkpoint)

    def contains(filters, keys, home):
        """Probe each key in the segment of its *home* url_hash."""
        seg = home % n_segments  # == pmod(url_hash, n_segments)
        hit = np.zeros(len(keys), dtype=bool)
        for sid, f in filters.items():
            m = seg == sid
            hit[m] = f.contains_many(keys[m])
        return hit

    seen: set[int] = set()
    per_round = []
    for r in cat.rounds("seen_segments"):
        seen.update(row[0] for row in cat.read(spark, "scheduled", r).select("url_hash").collect())
        filters = {row[0]: filter_from_bytes(bytes(row[1])) for row in
                   cat.read(spark, "seen_segments", r).select("segment_id", "bloom").collect()}
        keys = np.fromiter(seen, dtype=np.int64, count=len(seen))
        absent = keys[~contains(filters, keys, keys)]
        with np.errstate(invalid="ignore"):  # hashes near 2**63 overflow
            rounded = absent.astype(np.float64).astype(np.int64)
        never = np.fromiter((h for h in corpus_hashes if h not in seen), dtype=np.int64)
        per_round.append({
            "round": r,
            "false_negatives": int(len(absent)),
            # build_segments keys a segment by the true hash, then inserts
            # the hash as pandas' float64 column rounds it
            "false_negatives_hit_as_float64": int(contains(filters, rounded, absent).sum()),
            "observed_fpr": float(contains(filters, never, never).mean()) if len(never) else 0.0,
        })
    last = cat.rounds("seen_segments")[-1]
    est = (segment_fill_report(cat.read(spark, "seen_segments", last))
           .agg({"est_fpr_ppm": "avg"}).first()[0])
    return {"per_round": per_round, "est_fpr": est / 1e6}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "biothings_crawler_spark").is_dir():
        print(f"perfbench: no biothings_crawler_spark package beside {Path(__file__).parent}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import reap
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "local").mkdir(parents=True)
    (work / "tmp").mkdir()
    # Python workers import the package from the checkout; Spark scratch
    # stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    reap.adopt_orphans()
    try:
        result = _run(wl, args, work)
    finally:
        reap.stop_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def _run(wl, args, work: Path) -> dict:
    from biothings_crawler_spark.catalog import ParquetManifestCatalog
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.hashing import xxhash64_str
    from biothings_crawler_spark.oracle.bfs import simulate_crawl
    from biothings_crawler_spark.urlnorm import canonicalize_url
    from perfbench import gate
    from perfbench.eventlog import span_task_metrics
    from perfbench.procmem import PeakRSS
    from perfbench.spans import FORCE, Tracer
    from perfbench.workloads import gen_seeds, oracle_pages, write_inputs

    trace = bool(args.trace)
    # generating the rows, which the oracle shares, is not timed
    page_rows = corpus.gen_pages(wl.n_pages)
    pages = oracle_pages(page_rows)
    seeds = gen_seeds(wl, args.seed, pages)
    t0 = time.perf_counter()
    spark = _spark(work, trace)
    try:
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        paths = write_inputs(spark, page_rows, seeds, work / "input")
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        timed_crawl(spark, dataclasses.replace(wl.cfg, max_rounds=WARMUP_ROUNDS), paths,
                    work / "warmup", "warmup")
        warmup_s = time.perf_counter() - t
        setup_s = session_s + build_s + warmup_s

        crawls = []
        with PeakRSS() as rss:
            t_measure = time.perf_counter()
            while not crawls or time.perf_counter() - t_measure < args.seconds:
                k = len(crawls)
                crawls.append(timed_crawl(spark, wl.cfg, paths, work / f"crawl{k}", f"crawl-{k}"))
        checked = list(crawls)
        if trace:
            tracer = Tracer(spark, "crawl.traced")
            with tracer.installed():
                traced = timed_crawl(spark, wl.cfg, paths, work / "traced", tracer.parent)
            traced["failed_tasks"] += sum(_failed_tasks(spark.sparkContext, span + group)
                                          for span in tracer.span_s for group in ("", FORCE))
            checked.append(traced)

        # --- oracle gate, outside every timed region ----------------------
        t = time.perf_counter()
        robots = corpus.gen_robots()
        oracle = simulate_crawl(pages, seeds, robots, corpus.POLICIES, wl.cfg)
        for c in checked:
            c["gate"] = gate.check(gate.collect_crawl(spark, str(c["checkpoint"])), oracle,
                                   pages, robots, corpus.POLICIES, wl.cfg, c["failed_tasks"])
        if trace:
            corpus_hashes = [xxhash64_str(c) for c in map(canonicalize_url, pages) if c]
            probes = seen_probes(spark, traced["checkpoint"], wl.cfg.n_segments, corpus_hashes)
            per_metric = (ParquetManifestCatalog(traced["checkpoint"])
                          .read(spark, "metrics").groupBy("metric").sum("value").collect())
            select_jobs = tracer.jobs_in("politeness.select")
        checked_s = time.perf_counter() - t
    finally:
        spark.stop()

    gates = [c["gate"] for c in checked]
    attempted = sum(g.attempted for g in gates)
    failed = sum(g.failed for g in gates)
    rounds = [s for c in crawls for s in c["round_s"]]
    e2e = {
        "crawl_s": statistics.median(c["crawl_s"] for c in crawls),
        "round_s.p50": statistics.median(rounds),
        "round_s.max": max(rounds),
        "urls_per_s": statistics.median(
            (c["gate"].detail["scheduled"] + c["gate"].detail["docs"]) / c["crawl_s"]
            for c in crawls),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    first = crawls[0]
    print(f"# workload {wl.name} seed {args.seed}: {len(crawls)} crawl(s), {len(rounds)} "
          "rounds; round_s is the median and max of the rounds (too few for a tail percentile)")
    for name, unit in END_TO_END_UNITS.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"failed_share {failed / attempted:.6g} ratio")
    print(f"crawl.jobs {first['jobs']} count")
    print(f"crawl.jobs_per_round {first['jobs'] / len(first['round_s']):.6g} count")
    print(f"# setup: session {session_s:.3f} s, input build {build_s:.3f} s, "
          f"warm-up crawl {warmup_s:.3f} s; oracle gate and probes {checked_s:.3f} s")
    print(f"# peak RSS MB by executable: {rss.breakdown()}")
    print("# gate: " + json.dumps(first["gate"].detail))
    for c in checked:
        for msg in c["gate"].hard_failures[:20]:
            print(f"# HARD FAIL ({c['checkpoint'].name}): {msg}")

    if trace:
        metrics = per_layer_metrics(tracer, traced, first, e2e["crawl_s"], probes,
                                    dict(per_metric), select_jobs,
                                    span_task_metrics(work / "eventlog"))
        print("# per-layer (traced crawl); frontier.links_s includes the fetch join and "
              "the pages-corpus canonicalisation, which have no function boundary")
        print("# seen probes per round: " + json.dumps(probes["per_round"]))
        for name, (v, unit) in metrics.items():
            print(f"{name} {v:.6g} {unit}")
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    return {
        "correct": all(g.correct for g in gates),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_metrics(tracer, traced: dict, untraced: dict, untraced_crawl_s: float,
                      probes: dict, per_metric: dict, select_jobs: int,
                      tasks: dict) -> dict[str, tuple[float, str]]:
    """{name: (value, unit)} of the traced crawl, named by layer.

    A span's task metrics are those of its job group plus its force group.
    """
    from perfbench.gate import CRAWL_TABLES
    from perfbench.spans import FORCE, TASK_SPANS

    s, c = tracer.span_s, tracer.count
    last_probe = probes["per_round"][-1]
    out: dict[str, tuple[float, str]] = {
        "crawl.jobs": (untraced["jobs"], "count"),
        "crawl.jobs_per_round": (untraced["jobs"] / len(untraced["round_s"]), "count"),
        "crawl.self_s": (traced["crawl_s"] - sum(s.values()), "s"),
        "fetch.hit_ratio": (per_metric["fetched"] / per_metric["scheduled"], "ratio"),
        "frontier.dedup_s": (s["frontier.dedup"], "s"),
        "frontier.dedup_rows_in": (c["frontier.dedup_rows_in"], "count"),
        "frontier.dedup_rows_out": (c["frontier.dedup_rows_out"], "count"),
        "frontier.links_s": (s["frontier.links"], "s"),
        "frontier.links_rows_out": (c["frontier.links_rows_out"], "count"),
        "politeness.robots_s": (s["politeness.robots"], "s"),
        "politeness.robots_blocked": (c["politeness.robots_blocked"], "count"),
        "politeness.select_s": (s["politeness.select"], "s"),
        "politeness.select_jobs": (select_jobs, "count"),
        "politeness.deferred": (c["politeness.deferred"], "count"),
        "politeness.salted_hosts": (max(tracer.salted_hosts), "count"),
        "politeness.host_skew": (max(tracer.host_skew), "ratio"),
        "seen.filter_s": (s["seen.filter"], "s"),
        "seen.bloom_positive": (c["seen.bloom_positive"], "count"),
        "seen.exact_rescued": (c["seen.exact_rescued"], "count"),
        "seen.bloom_fpr": (last_probe["observed_fpr"], "ratio"),
        "seen.bloom_fpr_est": (probes["est_fpr"], "ratio"),
        "seen.false_negatives": (last_probe["false_negatives"], "count"),
        "seen.build_s": (s["seen.build"], "s"),
        "seen.segment_bytes": (tracer.segment_bytes, "bytes"),
        "extract.items_worker_s": (tracer.items_s.value, "s"),
        "extract.links_worker_s": (tracer.links_s.value, "s"),
        "extract.pages": (tracer.items_rows.value, "count"),
        "extract.docs_per_page": (traced["gate"].detail["docs"] / tracer.items_rows.value,
                                  "ratio"),
        "catalog.commit_s": (s["catalog.commit"], "s"),
    }
    for t in CRAWL_TABLES:
        out[f"catalog.compute_s.{t}"] = (s[f"catalog.compute.{t}"], "s")
    out["catalog.bytes_written"] = (c["catalog.bytes_written"], "bytes")
    out["catalog.files_written"] = (c["catalog.files_written"], "count")
    out["catalog.read_s"] = (s["catalog.read"], "s")
    groups = {"crawl": tracer.parent} | {sp: sp for sp in TASK_SPANS} | {
        f"catalog.compute.{t}": f"catalog.compute.{t}" for t in CRAWL_TABLES}
    for name, group in groups.items():
        ms = [tasks.get(group, {}), tasks.get(group + FORCE, {})]
        out[f"{name}.task_s"] = (sum(m.get("task_s", 0.0) for m in ms), "s")
        for field in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            out[f"{name}.{field}"] = (sum(m.get(field, 0) for m in ms), "bytes")
    out["trace.overhead_s"] = (traced["crawl_s"] - untraced_crawl_s, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
