"""Offline parser for a Spark event log: task metrics per job group.

The traced crawl runs every layer's work under a Spark job group named
for its span, so grouping task metrics by job group gives per-span task
time, shuffle bytes and spill bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

SPAN_FIELDS = ("task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def span_task_metrics(log_dir: str | Path) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over the event logs under *log_dir*.

    A stage is charged to the group of the first job that lists it: a
    later job that reuses the stage skips it and runs none of its tasks.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPAN_FIELDS, 0))
    for path in sorted(p for p in Path(log_dir).iterdir() if p.is_file()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = out[stage_group.get(ev["Stage ID"], "")]
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return dict(out)
