"""Reduce a Spark event log to per-stage records.

The traced run enables ``spark.eventLog`` (uncompressed, not rolling). Each
completed stage keeps its wall interval, the task-summed metrics Spark
accumulates on it (run and CPU time, GC, input/output/shuffle bytes and the
``ArrowEvalPython`` Python-worker metrics) and its task durations.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# Accumulator names as Spark 4.1 logs them.
CPU_NS = "internal.metrics.executorCpuTime"
INPUT_BYTES = "internal.metrics.input.bytesRead"
OUTPUT_BYTES = "internal.metrics.output.bytesWritten"
SHUFFLE_WRITE_BYTES = "internal.metrics.shuffle.write.bytesWritten"
PY_START_MS = "time to start Python workers"
PY_INIT_MS = "time to initialize Python workers"
PY_RUN_MS = "time to run Python workers"
PY_SENT_BYTES = "data sent to Python workers"
PY_RETURNED_BYTES = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    name: str
    start_s: float
    end_s: float
    acc: dict[str, float]
    task_s: list[float] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end_s - self.start_s

    def get(self, name: str) -> float:
        return self.acc.get(name, 0.0)

    @property
    def runs_python(self) -> bool:
        return PY_RUN_MS in self.acc


def load_stages(event_dir: str) -> list[Stage]:
    """Every completed stage in the event logs under ``event_dir``, in
    submission order. Times are epoch seconds, comparable with
    ``time.time()`` taken on the same host."""
    completed, tasks = [], {}
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerTaskEnd":
                    info = event["Task Info"]
                    tasks.setdefault(event["Stage ID"], []).append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
                elif kind == "SparkListenerStageCompleted":
                    completed.append(event["Stage Info"])
    stages = []
    for info in completed:
        if "Submission Time" not in info or "Completion Time" not in info:
            continue  # skipped stage: never ran
        acc = {}
        for a in info.get("Accumulables", []):
            try:
                acc[a["Name"]] = float(a["Value"])
            except (KeyError, TypeError, ValueError):
                continue
        stages.append(
            Stage(
                stage_id=info["Stage ID"],
                name=info["Stage Name"],
                start_s=info["Submission Time"] / 1000.0,
                end_s=info["Completion Time"] / 1000.0,
                acc=acc,
                task_s=tasks.get(info["Stage ID"], []),
            )
        )
    return sorted(stages, key=lambda s: (s.start_s, s.stage_id))


def within(stages: list[Stage], start_s: float, end_s: float,
           slack_s: float = 0.005) -> list[Stage]:
    """Stages that ran entirely inside the wall interval [start_s, end_s]."""
    return [s for s in stages
            if s.start_s >= start_s - slack_s and s.end_s <= end_s + slack_s]


def union_s(stages: list[Stage]) -> float:
    """Wall time covered by at least one of the stages."""
    covered, cur_start, cur_end = 0.0, None, None
    for s in sorted(stages, key=lambda s: s.start_s):
        if cur_end is None or s.start_s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s.start_s, s.end_s
        else:
            cur_end = max(cur_end, s.end_s)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered
