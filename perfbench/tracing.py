"""Traced run: spans around the public calls into each layer, job tags,
and executor metrics per tag from Spark's event log.

Only the traced run (``--trace 1``) installs anything here; the
end-to-end run calls the engine untouched.  Wrappers are installed
from the benchmark's side around the engine's public entry points:

  cdc.pipeline  CdcPipeline.apply_batch        span pipeline.apply_batch, tag pipeline
  cdc.merge     cdc.pipeline.merge_into        span merge.merge_into,     tag merge
  cdc.scd2      cdc.pipeline.apply_history     span scd2.apply_history,   tag scd2
  table         LakeTable.merge_append/append/append_rows/record_batch/
                replace_buckets                span table.commit (no tag: the
                                               write job belongs to its caller)
                LakeTable.compact              span table.compact, tag table_maint
                LakeTable.fold_delta_lane      span table.fold,    tag table_maint

Tags are Spark local properties (``perfbench.layer``).  They are per
thread, so a wrapper tags the pipeline's phase thread that runs it, and
restores the previous tag on exit.  Spans nest through a per-thread
stack; a span opened on a fresh thread (the pipeline's merge/history
workers) takes the active ``apply_batch`` span as its parent.  Self
time is a span's duration minus the union of its children's intervals.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from common import LAYER_PROP, median

#: tags that name a layer; executor time under any other tag (or none)
#: counts as unattributed
LAYER_TAGS = ("pipeline", "merge", "scd2", "table_maint", "table_read", "query")

#: per-tag executor metrics read from the event log
TAG_METRICS = (
    ("executor_cpu_s", "s"),
    ("executor_run_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("tasks", "count"),
    ("task_p50_ms", "ms"),
    ("task_max_ms", "ms"),
)

COMMIT_METHODS = ("merge_append", "append", "append_rows", "record_batch",
                  "replace_buckets")


class Span:
    __slots__ = ("name", "start", "end", "parent", "children")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name, self.start, self.end = name, start, start
        self.parent, self.children = parent, []

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the union of the children's intervals."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children, key=lambda c: c.start):
            s, e = max(c.start, self.start), min(c.end, self.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.dur - covered


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._root: Span | None = None
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans and tags -------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, tag: str | None = None, root: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = Span(name, time.perf_counter(), parent)
        with self._lock:
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)
        stack.append(sp)
        if root:
            self._root = sp
        prev = self.sc.getLocalProperty(LAYER_PROP) if tag else None
        if tag:
            self.sc.setLocalProperty(LAYER_PROP, tag)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if tag:
                self.sc.setLocalProperty(LAYER_PROP, prev)
            stack.pop()
            if root:
                self._root = None

    def tag(self, tag: str | None) -> None:
        """Tag subsequent jobs of the calling thread (None clears)."""
        self.sc.setLocalProperty(LAYER_PROP, tag)

    def reset(self) -> None:
        """Drop spans and counts gathered so far (set-up work)."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, tag=None, root=False,
              count=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name, tag=tag, root=root):
                out = orig(*a, **kw)
            if count is not None:
                count(tracer.counts, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        from data_pipeline_spark.cdc import pipeline as pl
        from data_pipeline_spark.table.laketable import LakeTable

        def merge_count(c, out):
            c["merge.buckets"] += len((out or {}).get("buckets", ()))

        def scd2_count(c, out):
            c["scd2.changed_docs"] += int((out or {}).get("changed_docs") or 0)

        def commit_count(c, out):
            c["table.commits"] += 1

        def compact_count(c, out):
            c["table.compacted_buckets"] += len(out or ())

        self._wrap(pl.CdcPipeline, "apply_batch", "pipeline.apply_batch",
                   tag="pipeline", root=True)
        self._wrap(pl, "merge_into", "merge.merge_into", tag="merge",
                   count=merge_count)
        self._wrap(pl, "apply_history", "scd2.apply_history", tag="scd2",
                   count=scd2_count)
        for m in COMMIT_METHODS:
            self._wrap(LakeTable, m, "table.commit", count=commit_count)
        self._wrap(LakeTable, "compact", "table.compact", tag="table_maint",
                   count=compact_count)
        self._wrap(LakeTable, "fold_delta_lane", "table.fold",
                   tag="table_maint", count=compact_count)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- summaries --------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def self_total(self, name: str) -> float:
        return sum(s.self_time() for s in self.spans if s.name == name)

    def span_metrics(self) -> dict[str, float]:
        return {
            "pipeline.apply_batch_s": self.total("pipeline.apply_batch"),
            "pipeline.self_s": self.self_total("pipeline.apply_batch"),
            "merge.merge_into_s": self.total("merge.merge_into"),
            "merge.buckets": self.counts["merge.buckets"],
            "scd2.apply_history_s": self.total("scd2.apply_history"),
            "scd2.changed_docs": self.counts["scd2.changed_docs"],
            "table.commit_s": self.total("table.commit"),
            "table.commits": self.counts["table.commits"],
            "table.compact_s": self.total("table.compact"),
            "table.fold_s": self.total("table.fold"),
            "table.compacted_buckets": self.counts["table.compacted_buckets"],
        }


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------

def _tag_of(props: dict | None) -> str | None:
    return (props or {}).get(LAYER_PROP) or None


def executor_metrics(eventlog_dir: str, window: tuple[float, float]) -> dict:
    """Per-tag executor metrics for jobs submitted inside ``window``
    (epoch seconds), from the uncompressed event log."""
    lo_ms, hi_ms = window[0] * 1000, window[1] * 1000
    stage_tag: dict[int, str | None] = {}
    stage_in: dict[int, bool] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    for name in os.listdir(eventlog_dir):
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    inside = lo_ms <= t <= hi_ms
                    tag = _tag_of(ev.get("Properties"))
                    for sid in ev.get("Stage IDs", ()):
                        stage_in.setdefault(sid, inside)
                        stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if not stage_in.get(sid):
                        continue
                    tm = ev.get("Task Metrics") or {}
                    tasks[stage_tag.get(sid) or "untagged"].append(tm)
    out: dict[str, float] = {}
    run_total = attributed = 0.0
    for tag in LAYER_TAGS + ("untagged",):
        tms = tasks.get(tag, [])
        run_ms = [tm.get("Executor Run Time", 0) for tm in tms]
        run_s = sum(run_ms) / 1000
        out[f"{tag}.executor_run_s"] = run_s
        if tag == "untagged":
            continue
        sr = [tm.get("Shuffle Read Metrics") or {} for tm in tms]
        sw = [tm.get("Shuffle Write Metrics") or {} for tm in tms]
        out[f"{tag}.executor_cpu_s"] = (
            sum(tm.get("Executor CPU Time", 0) for tm in tms) / 1e9
        )
        out[f"{tag}.shuffle_read_bytes"] = sum(
            m.get("Remote Bytes Read", 0) + m.get("Local Bytes Read", 0) for m in sr
        )
        out[f"{tag}.shuffle_write_bytes"] = sum(
            m.get("Shuffle Bytes Written", 0) for m in sw
        )
        out[f"{tag}.spill_bytes"] = sum(
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for tm in tms
        )
        out[f"{tag}.tasks"] = len(tms)
        out[f"{tag}.task_p50_ms"] = median(run_ms)
        out[f"{tag}.task_max_ms"] = max(run_ms, default=0)
    for tag, tms in tasks.items():
        s = sum(tm.get("Executor Run Time", 0) for tm in tms) / 1000
        run_total += s
        if tag in LAYER_TAGS:
            attributed += s
    out["layers.attributed_share"] = attributed / run_total if run_total else 1.0
    out["layers.unattributed_run_s"] = run_total - attributed
    return out


def per_layer_names() -> list[tuple[str, str]]:
    """Event-log metric names and units, in report order."""
    names = []
    for tag in LAYER_TAGS:
        names += [(f"{tag}.{m}", u) for m, u in TAG_METRICS]
    names += [("untagged.executor_run_s", "s"),
              ("layers.attributed_share", "ratio"),
              ("layers.unattributed_run_s", "s")]
    return names
