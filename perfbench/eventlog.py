"""Per-span aggregates from Spark's JSON event log (traced run only).

Jobs are attributed to the benchmark span that was open when they started,
through the ``perfbench.span`` local property that Spark copies into each
``SparkListenerJobStart``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.ledger import SPAN_PROPERTY

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class StageAgg:
    task_ms: list[float] = field(default_factory=list)
    shuffle_read: int = 0


@dataclass
class SpanAgg:
    jobs: int = 0
    stages: dict[int, StageAgg] = field(default_factory=dict)
    tasks: int = 0
    task_failures: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def summary(self) -> dict:
        """Per-stage task count, task-time sum and max, shuffle read."""
        return {
            sid: {"tasks": len(st.task_ms), "task_ms_sum": sum(st.task_ms),
                  "task_ms_max": max(st.task_ms, default=0),
                  "shuffle_read": st.shuffle_read}
            for sid, st in sorted(self.stages.items())
        }

    def skew(self, stage: StageAgg | None) -> float:
        """max / median task time of one stage (1.0 when it is even)."""
        if stage is None or not stage.task_ms:
            return 0.0
        med = statistics.median(stage.task_ms)
        return max(stage.task_ms) / med if med > 0 else 0.0

    def python_stage(self) -> StageAgg | None:
        """The stage with the most tasks among those that ran Python (the
        one carrying the Python-node SQL metrics is not recorded per stage,
        so take the widest non-shuffle-reading stage)."""
        cands = [s for s in self.stages.values() if s.shuffle_read == 0]
        return max(cands, key=lambda s: len(s.task_ms), default=None)

    def reduce_stage(self) -> StageAgg | None:
        cands = [s for s in self.stages.values() if s.shuffle_read > 0]
        return max(cands, key=lambda s: s.shuffle_read, default=None)


def read_events(event_dir: str) -> list[dict]:
    events = []
    for dirpath, _, files in os.walk(event_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        events.append(json.loads(line))
    return events


def aggregate(events: list[dict]) -> dict[str, SpanAgg]:
    """Span name -> aggregate over the jobs started under it."""
    stage_span: dict[int, str] = {}
    out: dict[str, SpanAgg] = defaultdict(SpanAgg)
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            if tag is None:
                continue
            out[tag].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_span[sid] = tag
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        tag = stage_span.get(e["Stage ID"])
        if tag is None:
            continue
        agg = out[tag]
        st = agg.stages.setdefault(e["Stage ID"], StageAgg())
        info = e["Task Info"]
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])
        agg.tasks += 1
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            agg.task_failures += 1
        tm = e.get("Task Metrics") or {}
        agg.gc_ms += tm.get("JVM GC Time", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0)
        agg.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") in (PY_SENT, PY_RECV, PY_RUN):
                agg.sql[acc["Name"]] += float(acc.get("Update") or 0)
    return dict(out)
