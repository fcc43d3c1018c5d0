"""Outside-in tracing for the traced benchmark run.

Spans are recorded by the benchmark around its own calls into the
engine's public functions: each span sets a unique Spark job group, so
every Spark job (and its tasks) submitted inside it can be attributed
from the event log afterwards. The event log is parsed with the
standard library only.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GAP = "gap"


@dataclass
class Span:
    name: str
    group: str
    parent: str
    start: float
    end: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``begin_job`` opens the parent span
    that the following layer spans hang off."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.job = -1
        self._seq = 0

    def begin_job(self) -> None:
        self.job += 1
        self.sc.setJobGroup(f"{GAP}#{self.job}", GAP)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self.job}.{self._seq}"
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans.append(Span(name, group, f"job#{self.job}", start, end))
            self.sc.setJobGroup(f"{GAP}#{self.job}", GAP)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: Spark jobs started, tasks ended, executor CPU
    seconds, shuffle bytes written and disk spill (MB). Tasks are
    attributed through their stage to the first job that listed it."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or GAP
                    groups.setdefault(group, _empty())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), GAP)
                    agg = groups.setdefault(group, _empty())
                    m = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 1e6
                    agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return groups
