"""Spans around layer calls, Spark task metrics joined to them, and the
per-layer report of a traced run.

A span is (id, name, layer, start, end, parent). Spans stay in memory
and are written once, when the run ends. While a span is open its id is
the Spark job group of the calling thread, so the jobs it submits (and
the task metrics in the uncompressed event log) join back to it; a job
whose group Spark replaced (broadcasts run under their own group) joins
the innermost span open at its submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so the untraced run pays nothing but the ``with`` statement."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.paused = False  # e.g. during an untimed warm-up pass
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None
        self.bookkeeping_s = 0.0

    def attach(self, sc) -> None:
        self.sc = sc

    def _group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{sp.id}", sp.name)

    @property
    def recording(self) -> bool:
        return self.enabled and not self.paused

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.recording:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(len(self.spans), name, layer,
                  self.stack[-1].id if self.stack else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        self.stack.append(sp)
        self._group(sp)
        sp.start = time.time()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)
            self.bookkeeping_s += time.perf_counter() - t1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": s.id,
                                    "name": s.name, "layer": s.layer,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end, **s.attrs}) + "\n")


# -- layer hooks (traced run only) ------------------------------------------
def patch_layers(tracer: Tracer, counters: dict):
    """Wrap the package's internal layer entry points that the benchmark
    does not call itself — ``catalog.load`` (bound by name in each
    operator module) and ``scratch.fanout_write_atomic`` — in spans.
    Returns a function that restores the originals."""
    import sys

    from zigchain_indexer_clickhouse_spark import catalog
    from zigchain_indexer_clickhouse_spark.sources import scratch

    orig_load, orig_fanout = catalog.load, scratch.fanout_write_atomic
    memo_attr = getattr(catalog, "_CACHE_ATTR", None)

    def load(spark, sf_dir, name):
        if not tracer.recording:
            return orig_load(spark, sf_dir, name)
        memo = (getattr(spark, memo_attr, None) if memo_attr else None) or {}
        counters["catalog.loads"] += 1
        if f"{sf_dir}/{name}" not in memo:
            counters["catalog.misses"] += 1
        with tracer.span("catalog.load", "catalog", table=name):
            return orig_load(spark, sf_dir, name)

    def fanout_write_atomic(base, tables, write_fn, serial_first=None):
        if not tracer.recording:
            return orig_fanout(base, tables, write_fn, serial_first=serial_first)
        with tracer.span("scratch.fanout_write_atomic", "sources.scratch"):
            vdir = orig_fanout(base, tables, write_fn, serial_first=serial_first)
        t0 = time.perf_counter()
        for dirpath, _, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    counters["scratch.files_written"] += 1
                    counters["scratch.bytes_written"] += os.path.getsize(
                        os.path.join(dirpath, f))
        tracer.bookkeeping_s += time.perf_counter() - t0
        return vdir

    patched = []
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(catalog.__name__.rsplit(".", 1)[0]):
            if getattr(mod, "load", None) is orig_load:
                mod.load = load
                patched.append(mod)
    scratch.fanout_write_atomic = fanout_write_atomic

    def restore():
        for mod in patched:
            mod.load = orig_load
        scratch.fanout_write_atomic = orig_fanout

    return restore


# -- event log --------------------------------------------------------------
_TASK_KEYS = ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of every application log under ``log_dir``: submission time,
    job group and the sums of their tasks' metrics."""
    jobs, stage_job = {}, {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith((".", "appstatus")))
    for fname in paths:
        with open(fname) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = {"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0,
                         "group": (ev.get("Properties") or {}).get(
                             "spark.jobGroup.id"),
                         "tasks": 0, **{k: 0.0 for k in _TASK_KEYS}}
                    jobs[(fname, j["id"])] = j
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault((fname, s), j)
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get((fname, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return list(jobs.values())


def join_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Attach each job's metrics to its span (``attrs['spark']``)."""
    by_group = {f"{tracer.run_id}:{s.id}": s for s in tracer.spans}
    for j in jobs:
        sp = by_group.get(j["group"])
        if sp is None:
            inside = [s for s in tracer.spans if s.start <= j["t"] <= s.end]
            sp = max(inside, key=lambda s: s.start) if inside else None
        if sp is None:
            continue
        acc = sp.attrs.setdefault("spark", {"jobs": 0, "tasks": 0,
                                            **{k: 0.0 for k in _TASK_KEYS}})
        acc["jobs"] += 1
        acc["tasks"] += j["tasks"]
        for k in _TASK_KEYS:
            acc[k] += j[k]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(tracer: Tracer) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    that its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in tracer.spans:
        cov = _covered([(c.start, c.end) for c in kids.get(s.id, [])])
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.dur - cov)
    return out


def uncovered_shares(tracer: Tracer, round_layer: str) -> list[float]:
    """For each round span (one ingest batch, control cycle or analytics
    pass), the share of its time that no layer span covers."""
    kids: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return [1.0 - _covered([(c.start, c.end) for c in kids.get(s.id, [])]) / s.dur
            for s in tracer.spans if s.layer == round_layer and s.dur > 0]


def spark_totals(tracer: Tracer) -> dict[str, float]:
    tot = {"jobs": 0, "tasks": 0, **{k: 0.0 for k in _TASK_KEYS}}
    for s in tracer.spans:
        for k, v in s.attrs.get("spark", {}).items():
            tot[k] += v
    return tot
