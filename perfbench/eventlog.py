"""Fold a Spark event log into per-label stage totals.

The traced pass labels every public call it times with `setJobGroup`;
each stage carries that label in its submission properties. Stages are
attributed by it, and their completed-stage accumulators are summed per
label. The log must be uncompressed (`spark.eventLog.compress=false`).
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Iterable

GROUP_KEY = "spark.jobGroup.id"
FIELDS = ("jobs", "tasks", "executor_s", "gc_s", "shuffle_mb", "spill_mb")

_MS = 1e-3
_MB = 1.0 / (1024 * 1024)
# accumulator name -> (output field, scale)
_ACCUMULATORS = {
    "internal.metrics.executorRunTime": ("executor_s", _MS),
    "internal.metrics.jvmGCTime": ("gc_s", _MS),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", _MB),
    "internal.metrics.diskBytesSpilled": ("spill_mb", _MB),
}


def _empty() -> dict[str, float]:
    return {f: 0 if f in ("jobs", "tasks") else 0.0 for f in FIELDS}


def fold(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """{label: {jobs, tasks, executor_s, gc_s, shuffle_mb, spill_mb}}.

    `tasks` counts the tasks of completed stage attempts; a stage that a
    later job reuses is skipped by Spark and counted once. Stages without
    a label are ignored."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get(GROUP_KEY)
            if group:
                out.setdefault(group, _empty())["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (event.get("Properties") or {}).get(GROUP_KEY)
            info = event["Stage Info"]
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            if group is None:
                continue
            totals = out.setdefault(group, _empty())
            totals["tasks"] += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                field = _ACCUMULATORS.get(acc.get("Name"))
                if field:
                    totals[field[0]] += int(acc["Value"]) * field[1]
    return out


def fold_dir(log_dir: Path) -> dict[str, dict[str, float]]:
    """Fold every event-log file under `log_dir` (a v1 file or a v2 dir)."""
    # skip Hadoop's hidden .crc checksum files and v2 appstatus markers
    files = sorted(
        p for p in Path(log_dir).rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def lines():
        for path in files:
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return fold(lines())
