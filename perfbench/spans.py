"""Spans around the benchmark's calls into each layer, and per-layer
task metrics folded from Spark's JSON event log.

Every Spark job started inside a span carries the span's layer name in
the ``perfbench.layer`` local property, which the event log records on
each submitted stage. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from procs import cpu_s, tree

LAYER_PROP = "perfbench.layer"
MB = 1024 * 1024


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}  # layer counters, e.g. sf_dict.forms

    def _python_cpu(self) -> float:
        return cpu_s([p for p in tree(self.jvm_pid) if p != self.jvm_pid])

    @property
    def layer(self) -> str:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"]

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(LAYER_PROP)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self.layer if self._stack else None,
            "start": time.time(),
            "python_cpu_start": self._python_cpu(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc.setLocalProperty(LAYER_PROP, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["python_cpu_s"] = self._python_cpu() - rec.pop("python_cpu_start")
            self._stack.pop()
            sc.setLocalProperty(LAYER_PROP, prev)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            out[rec["name"]] += rec["end"] - rec["start"]
            if rec["parent"] is not None:
                out[rec["parent"]] -= rec["end"] - rec["start"]
        return dict(out)

    def python_cpu(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            out[rec["name"]] += rec["python_cpu_s"]
        return dict(out)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans, "counts": self.counts}, indent=1))


def _event_files(log_dir: Path) -> list[Path]:
    # plain or rolling (eventlog_v2_*/events_<n>_*) layouts
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(("appstatus", "."))]

    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if p.name.startswith("events_") and parts[1].isdigit() else 0)

    return sorted(files, key=order)


def fold_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per layer: executor run/CPU/GC time, shuffle write, spill, task
    and retry counts, rows written and jobs, from TaskEnd events."""
    stage_layer: dict[int, str] = {}
    layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = (ev.get("Properties") or {}).get(LAYER_PROP) or "untagged"
                    layers[layer]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    layer = (ev.get("Properties") or {}).get(LAYER_PROP) or "untagged"
                    stage_layer[ev["Stage Info"]["Stage ID"]] = layer
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = layers[stage_layer.get(ev["Stage ID"], "untagged")]
                    acc["tasks"] += 1
                    acc["task_retries"] += ev["Task Info"]["Attempt"] > 0
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
                    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                    acc["records_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    return {k: dict(v) for k, v in layers.items()}
