"""Self-tests of the crawl benchmark.

    python3 -m pytest perfbench/tests -q

The gate tests run a small crawl in-process; the smoke tests run
``perfbench/run.py`` end to end as a subprocess (about a minute each) in
a session of its own, and check that it left no process in it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from biothings_crawler_spark.catalog import ParquetManifestCatalog  # noqa: E402
from biothings_crawler_spark.fixtures import corpus  # noqa: E402
from biothings_crawler_spark.oracle.bfs import simulate_crawl  # noqa: E402
from perfbench import gate  # noqa: E402
from perfbench.eventlog import span_task_metrics  # noqa: E402
from perfbench.procmem import tree_rss_bytes  # noqa: E402
from perfbench.workloads import WORKLOADS, gen_seeds  # noqa: E402

SMOKE = WORKLOADS["smoke"]
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark():
    from biothings_crawler_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def smoke_crawl(spark, tmp_path_factory):
    """(checkpoint, oracle, pages, seeds) of one committed smoke crawl."""
    from biothings_crawler_spark.plans.crawl import run_crawl

    rows = corpus.gen_pages(SMOKE.n_pages)
    pages = {r["url"]: r["html"].decode("utf-8") for r in rows}
    seeds = gen_seeds(SMOKE, 1, pages)
    cp = tmp_path_factory.mktemp("smoke") / "cp"
    run_crawl(spark, spark.createDataFrame(rows, corpus.PAGES_SCHEMA),
              spark.createDataFrame(seeds, corpus.SEEDS_SCHEMA), corpus.robots_df(spark),
              corpus.gen_policies(), str(cp), SMOKE.cfg)
    oracle = simulate_crawl(pages, seeds, corpus.gen_robots(), corpus.POLICIES, SMOKE.cfg)
    return cp, oracle, pages


def _gate(spark, cp, oracle, pages):
    return gate.check(gate.collect_crawl(spark, str(cp)), oracle, pages,
                      corpus.gen_robots(), corpus.POLICIES, SMOKE.cfg)


def _rewrite_round(spark, cp: Path, round_no: int, edit):
    """Replace committed ``scheduled`` round *round_no* by edit(rows)."""
    cat = ParquetManifestCatalog(cp)
    df = cat.read(spark, "scheduled", round_no)
    rows = edit([r.asDict() for r in df.collect()])
    final = cp / "scheduled" / f"r{round_no:06d}"
    staged = cp / ".tmp" / "edited"
    spark.createDataFrame(rows, df.schema).write.parquet(str(staged))
    shutil.rmtree(final)
    staged.rename(final)


def _two_same_host(rows):
    by_host = {}
    for i, r in enumerate(rows):
        by_host.setdefault(r["host"], []).append(i)
    return next(ix[:2] for ix in by_host.values() if len(ix) >= 2)


def test_gate_passes_committed_smoke_crawl(spark, smoke_crawl):
    res = _gate(spark, *smoke_crawl)
    assert res.correct, res.hard_failures
    assert res.attempted == res.detail["scheduled"] + res.detail["docs"] > 0
    assert res.failed == 0


def test_gate_counts_swapped_ranks(spark, smoke_crawl, tmp_path):
    cp, oracle, pages = smoke_crawl
    copy = tmp_path / "cp"
    shutil.copytree(cp, copy)

    def swap(rows):
        a, b = _two_same_host(rows)
        rows[a]["sched_rank"], rows[b]["sched_rank"] = rows[b]["sched_rank"], rows[a]["sched_rank"]
        return rows

    _rewrite_round(spark, copy, 1, swap)
    res = _gate(spark, copy, oracle, pages)
    # ranks still run 1..n, so the run stays correct; the two rows no
    # longer match the oracle ordering and count as failed
    assert res.correct, res.hard_failures
    assert res.failed == res.detail["unmatched_scheduled"] == 2


def test_gate_fails_duplicate_rank(spark, smoke_crawl, tmp_path):
    cp, oracle, pages = smoke_crawl
    copy = tmp_path / "cp"
    shutil.copytree(cp, copy)

    def dup(rows):
        a, b = _two_same_host(rows)
        rows[b]["sched_rank"] = rows[a]["sched_rank"]
        return rows

    _rewrite_round(spark, copy, 1, dup)
    res = _gate(spark, copy, oracle, pages)
    assert not res.correct
    assert any("sched_rank" in m for m in res.hard_failures)


def test_gate_fails_changed_doc(smoke_crawl, spark):
    cp, oracle, pages = smoke_crawl
    crawl = gate.collect_crawl(spark, str(cp))
    r, canon, pos, doc = crawl.docs[0]
    crawl.docs[0] = (r, canon, pos, doc.replace("}", ' }', 1))
    res = gate.check(crawl, oracle, pages, corpus.gen_robots(), corpus.POLICIES, SMOKE.cfg)
    assert not res.correct
    assert res.detail["unmatched_docs"] == 1


def test_gate_fails_missing_manifest_round(smoke_crawl, spark):
    cp, oracle, pages = smoke_crawl
    crawl = gate.collect_crawl(spark, str(cp))
    crawl.table_rounds["lineage"] = crawl.table_rounds["lineage"][:-1]
    res = gate.check(crawl, oracle, pages, corpus.gen_robots(), corpus.POLICIES, SMOKE.cfg)
    assert any("lineage" in m for m in res.hard_failures)


def test_eventlog_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "seen.filter"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "seen.build"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Disk Bytes Spilled": 7,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 250}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = span_task_metrics(tmp_path)
    # stage 1 ran under the first job that listed it
    assert got["seen.filter"] == {"task_s": 1.5, "shuffle_write_bytes": 5,
                                  "shuffle_read_bytes": 3, "spill_bytes": 7}
    assert got["seen.build"]["task_s"] == 0.25


def test_process_tree_rss_counts_children():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time; b = b'x' * (64 << 20); print('ready', flush=True); time.sleep(60)"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        child_rss = tree_rss_bytes(child.pid)
        assert child_rss >= 64 << 20
        assert tree_rss_bytes(os.getpid()) > child_rss
    finally:
        child.kill()
        child.wait(timeout=10)


def _session(sid: int) -> list[str]:
    """``pid (command)`` of every process left in session *sid*."""
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            stat = Path(f"/proc/{pid}/stat").read_bytes()
        except OSError:  # exited while we listed /proc
            continue
        if int(stat[stat.rindex(b")") + 2:].split()[3]) == sid:
            left.append(stat[:stat.rindex(b")") + 1].decode())
    return left


def _run_alone(cmd: list[str], cwd: Path = ROOT) -> subprocess.CompletedProcess:
    """Run *cmd* in a session of its own; assert it left no process behind."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    out, err = p.communicate(timeout=600)
    assert _session(p.pid) == [], err[-2000:]
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def _bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return _run_alone([sys.executable, str(cwd / "perfbench" / "run.py"), *args], cwd=cwd)


def test_reaper_waits_for_orphans_and_kills_stragglers():
    p = _run_alone([sys.executable, "-c", (
        "import subprocess\n"
        "from perfbench import reap\n"
        "reap.GRACE_S = 1\n"
        "reap.adopt_orphans()\n"
        "subprocess.Popen(['sh', '-c', 'sleep 60 & exit 0'])\n"
        "subprocess.Popen(['sleep', '2'])\n"
        "reap.stop_all()\n")])
    assert p.returncode == 0, p.stderr


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit(trace, section):
    p = _bench("--workload", "smoke", "--seed", "5", "--seconds", "1", "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    printed = {tuple(line.split()[::2]) for line in lines[:-1] if not line.startswith("#")}
    for name, unit in want.items():
        assert (name, unit) in printed, name
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in BENCHMARK["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "deep_bfs", "--seed", "1", "--seconds", "10", "--trace", "0",
               cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
