"""Per-job-group totals from a Spark event log (uncompressed JSON lines).

Jobs are attributed to the ``spark.jobGroup.id`` property of their
``SparkListenerJobStart``; each completed stage to the group of the
first job that lists it (a stage reused by a later job is skipped there
and completes only once).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
FIELDS = ("jobs", "stages", "tasks", *_METRICS.values())


def group_totals(lines) -> dict[str, dict[str, int]]:
    """``{job group: {jobs, stages, tasks, executor_run_ms, ...}}`` for
    every group that started at least one job."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            totals[group]["jobs"] += 1
            for sid in event.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            row = totals[group]
            row["stages"] += 1
            row["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", ()):
                field = _METRICS.get(acc.get("Name"))
                if field is not None:
                    row[field] += int(acc.get("Value", 0))
    return dict(totals)


def read_group_totals(path: str) -> dict[str, dict[str, int]]:
    """Totals from one event-log file, or from every file under a log
    directory (one application, in file-name order)."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, n) for d, _, names in os.walk(path) for n in names
    )

    def lines():
        for name in files:
            with open(name, encoding="utf-8") as f:
                yield from f

    return group_totals(lines())
