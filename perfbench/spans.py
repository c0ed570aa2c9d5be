"""Spans around public calls, and per-span Spark metrics from the event log.

A span is the timed region around one public library call. In a traced
run each span also gets its own Spark job group, so after the session
stops the uncompressed event log can be split by group: jobs, tasks,
executor CPU, GC, shuffle bytes and input records per call. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: the eight metrics every span gets (name → unit)
SPAN_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "bytes",
    "input_records": "count",
}
#: spans whose calls return rows, so input records per returned row is defined
READ_SPANS = (
    "api.search",
    "search.ranking.bm25",
    "search.inverted.phrase",
    "pipeline.similarity.knn",
    "search.streaming_expr",
)
SPANS = (
    *READ_SPANS,
    "streaming.commit",
    "streaming.bootstrap",
    "search.inverted.build",
    "session.start",
    "pipeline.dedup.exact",
    "pipeline.dedup.near_dup",
    "pipeline.text.quality",
    "pipeline.dedup.semantic",
)
#: span-specific extras (metric name → unit); values are set on the span record
EXTRA_METRICS = {
    "streaming.commit.bytes_written": "bytes",
    "streaming.commit.files_written": "count",
    "streaming.commit.write_amp": "ratio",
    "pipeline.dedup.near_dup.pairs": "count",
    "pipeline.dedup.near_dup.planted_recall": "ratio",
    "pipeline.dedup.semantic.planted_recall": "ratio",
    **{f"{s}.records_per_hit": "ratio" for s in READ_SPANS},
}
HARNESS_GROUP = "harness"


def layer_metric_units() -> dict[str, str]:
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


class Tracer:
    """Records spans; with ``traced`` set, tags each span's Spark jobs."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.sc = None
        self.records: list[dict] = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        if self.traced:
            self.sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)

    @contextmanager
    def span(self, name: str):
        rec = {"span": name, "group": f"{name}#{len(self.records)}"}
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if self.traced and self.sc is not None:
                self.sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)
            self.records.append(rec)


# ------------------------------------------------------------- event log


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a rolling ``eventlog_v2_*`` directory
    holds ``events_<n>_<app>`` parts; otherwise one file per app."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus") or n.endswith(".inprogress") or n.startswith("."):
                continue
            part = int(n.split("_")[1]) if n.startswith("events_") else 0
            files.append((dirpath, part, os.path.join(dirpath, n)))
    return [p for _, _, p in sorted(files)]


def job_group_metrics(log_dir: str) -> dict[str, dict]:
    """Sum SparkListenerTaskEnd metrics per job group, and keep each
    group's job intervals (ms since the epoch)."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"Event":"SparkListenerJob' not in line and '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or HARNESS_GROUP
                    g = groups.setdefault(gid, _empty_group())
                    job_group[ev["Job ID"]] = gid
                    g["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerJobEnd":
                    gid = job_group.get(ev["Job ID"])
                    if gid is not None:
                        groups[gid]["jobs"][ev["Job ID"]][1] = ev["Completion Time"]
                else:
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    g = groups[gid]
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return groups


def _empty_group() -> dict:
    return {"jobs": {}, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "input_records": 0}


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def per_call_metrics(records: list[dict], groups: dict[str, dict] | None) -> list[dict]:
    """The eight span metrics for each call (Spark counters zero when
    the run was not traced)."""
    out = []
    for rec in records:
        g = (groups or {}).get(rec["group"], _empty_group())
        intervals = [(a / 1e3, (b or a) / 1e3) for a, b in g["jobs"].values()]
        row = {
            "span": rec["span"],
            "wall_s": rec["wall_s"],
            "driver_s": max(0.0, rec["wall_s"] - _covered_s(intervals, rec["start"], rec["end"])),
            "jobs": len(g["jobs"]),
            "tasks": g["tasks"],
            "executor_cpu_s": g["executor_cpu_s"],
            "gc_s": g["gc_s"],
            "shuffle_bytes": g["shuffle_bytes"],
            "input_records": g["input_records"],
        }
        if "rows" in rec:
            row["records_per_hit"] = g["input_records"] / max(1, rec["rows"])
        for k, v in rec.items():
            if k in ("bytes_written", "files_written", "write_amp", "pairs", "planted_recall"):
                row[k] = v
        out.append(row)
    return out


def layer_metrics(calls: list[dict]) -> dict[str, tuple[float, int]]:
    """Per layer metric: the median over the span's calls in this run,
    with the number of calls. A span that never ran reads 0 with n=0."""
    out = {}
    units = layer_metric_units()
    for name in units:
        span, metric = _split(name)
        vals = [c[metric] for c in calls if c["span"] == span and metric in c]
        out[name] = (float(statistics.median(vals)) if vals else 0.0, len(vals))
    return out


def _split(name: str) -> tuple[str, str]:
    for span in sorted(SPANS, key=len, reverse=True):
        if name.startswith(span + "."):
            return span, name[len(span) + 1 :]
    raise KeyError(name)
