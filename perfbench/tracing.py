"""Spans and per-layer Spark metrics for the traced run.

A span wraps the call into one engine layer. Inside it the layer's
output is materialized in a Spark job group named after the layer, so
the stage metrics of exactly those jobs can be read back from the
status REST API afterwards. Spans are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

import procstat

# per-layer metrics, in the order BENCHMARK.json lists them
LAYER_FIELDS = (
    "wall_s", "cpu_s", "busy_frac", "shuffle_write_mb", "spill_mb",
    "gc_s", "jobs", "rows_out",
)

LAYERS = (
    "images.decode", "windows.features", "asof.pit", "asof.matrix",
    "pipeline.summary", "text.shingle", "dedup.lsh", "dedup.verify",
    "dedup.clusters", "dedup.keepers", "table.write", "table.merge",
    "table.scan", "session",
)

# ratios and totals over the whole traced pass; a workload without the
# layer a ratio describes reads 0
RUN_METRICS = (
    "dedup.verify.useful_ratio", "table.scan.files_read_ratio",
    "table.write.bytes_per_input_byte", "table.merge.files_rewritten_ratio",
    "spark.failed_tasks", "trace.overhead_s",
)

_MB = 1024.0 * 1024.0
_UNITS = {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "overhead_s": "s",
          "busy_frac": "ratio", "shuffle_write_mb": "MB", "spill_mb": "MB",
          "jobs": "count", "rows_out": "rows", "failed_tasks": "count"}


def per_layer_names() -> list[str]:
    return [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS] + list(RUN_METRICS)


def unit(metric: str) -> str:
    return _UNITS.get(metric.rsplit(".", 1)[1], "ratio")


class Tracer:
    """Collects spans for one traced pass.

    ``layer(name)`` opens a span and sets the Spark job group to
    ``<run_id>/<name>``; the caller materializes the layer's output
    inside it and reports the rows it produced through ``rows_out``."""

    def __init__(self, spark, cores: int, run_id: str):
        self.spark = spark
        self.cores = cores
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = {"name": name, "parent": parent, "run_id": self.run_id,
                "rows_out": 0}
        self._stack.append(name)
        sc.setJobGroup(self._group(name), name, interruptOnCancel=True)
        cpu0, span["start"] = procstat.cpu_s(), time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            span["cpu_s"] = procstat.cpu_s() - cpu0
            self._stack.pop()
            sc.setJobGroup(self._group(parent or ""), parent or "", True)
            self.spans.append(span)

    def _group(self, layer: str) -> str:
        """Job group of a layer, unique to this run's traced pass."""
        return f"{self.run_id}/{layer}"

    def stage_metrics(self) -> dict[str, dict]:
        """Sum the REST stage metrics of every job, keyed by job group."""
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        groups = {self._group(s["name"]) for s in self.spans}
        deadline = time.time() + 10
        while True:  # the status store is fed asynchronously: wait for it
            jobs = _get(base + "/jobs")
            mine = [j for j in jobs if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in mine) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, list[dict]] = {}  # every attempt of a stage did work
        for st in _get(base + "/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict] = {}
        for j in mine:
            m = out.setdefault(j["jobGroup"].split("/", 1)[1], {
                "jobs": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "gc_s": 0.0, "failed_tasks": 0,
            })
            m["jobs"] += 1
            m["failed_tasks"] += j.get("numFailedTasks", 0)
            for st in (a for sid in j["stageIds"] for a in stages.get(sid, [])):
                if st["status"] == "SKIPPED":
                    continue
                m["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                m["spill_mb"] += (
                    st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                ) / _MB
                m["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Every per-layer metric; layers the workload never ran read 0."""
        spark_m = self.stage_metrics()
        vals: dict[str, float] = {}
        for name in LAYERS:
            spans = [s for s in self.spans if s["name"] == name]
            wall = sum(s["end"] - s["start"] for s in spans)
            cpu = sum(s["cpu_s"] for s in spans)
            m = spark_m.get(name, {})
            vals.update({
                f"{name}.wall_s": wall,
                f"{name}.cpu_s": cpu,
                f"{name}.busy_frac": cpu / (wall * self.cores) if wall else 0.0,
                f"{name}.shuffle_write_mb": m.get("shuffle_write_mb", 0.0),
                f"{name}.spill_mb": m.get("spill_mb", 0.0),
                f"{name}.gc_s": m.get("gc_s", 0.0),
                f"{name}.jobs": m.get("jobs", 0),
                f"{name}.rows_out": sum(s["rows_out"] for s in spans),
            })
        vals["spark.failed_tasks"] = sum(m["failed_tasks"] for m in spark_m.values())
        for key in RUN_METRICS:
            vals.setdefault(key, self.counts.get(key, 0.0))
        return vals


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)
