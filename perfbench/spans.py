"""Spans around the calls into each engine layer, and the Spark task
metrics attributed to them.

A span records a name, its start and end, the span that caused it and
the replay it belongs to. While a span is open in a thread, that
thread's Spark job group is the span's id, so the event log ties every
Spark task to the innermost span that launched it. Spans stay in memory
and become per-layer metrics when the run ends.

Spans wrap the engine's public calls from the outside:

- ``pipeline.epoch``: ``CDCPipeline.process_batch`` (one per epoch);
- ``cdc.resolve``: the conflicts ``LakeTable.append``, which
  materialises the lazy ``resolve_and_detect`` aggregate;
- ``lineage.append`` / ``lineage.status``: the lineage appends of the
  per-partition rows and of the epoch status row;
- ``lake.merge``: the target ``merge``;
- ``view.*``: ``ivm.maintain_aggregate`` / ``maintain_join`` /
  ``maintain_topk`` and ``sketch.maintain_cms``, named by the epoch-id
  prefix the pipeline gives each view.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
LINEAGE_SPANS = {"l": "lineage.append", "s": "lineage.status"}
VIEW_SPANS = {
    "m": "view.stats",
    "f": "view.freq",
    "t": "view.leaderboard",
    "q": "view.quantiles",
    "v": "view.join",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    rep: int
    t0: float = 0.0
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder for one measuring phase.

    With ``jobs=False`` only epochs are timed (the untraced measurement:
    two clock reads per epoch, no Spark calls). With ``jobs=True`` every
    layer call gets a span and tags its Spark jobs.
    """

    def __init__(self, spark, run_id: str, jobs: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jobs = jobs
        self.rep = 0
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # the open epoch span: parent of spans opened in the pipeline's
        # audit pool threads, whose own span stacks start empty
        self._epoch: Span | None = None

    def group(self, span_id: int) -> str:
        return f"{self.run_id}.{span_id}"

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self._epoch

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        sp = Span(next(self._ids), name, parent.id if parent else None, self.rep, attrs=attrs)
        stack = self._stack()
        prev = None
        if self.jobs:
            prev = self.sc.getLocalProperty(GROUP)
            self.sc.setLocalProperty(GROUP, self.group(sp.id))
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if self.jobs:
                self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    # -- instrumentation ---------------------------------------------------
    def instrument(self, pipe) -> None:
        """Wrap this pipeline instance's epoch entry and, when tagging
        jobs, its audit, lineage and target tables."""
        batch_fn = pipe.process_batch

        def process_batch(batch, epoch):
            with self.span("pipeline.epoch", epoch=epoch) as sp:
                self._epoch = sp
                try:
                    sp.attrs["result"] = batch_fn(batch, epoch)
                finally:
                    self._epoch = None
            return sp.attrs["result"]

        pipe.process_batch = process_batch
        if not self.jobs:
            return
        pipe.conflicts.append = self._wrap(pipe.conflicts.append, lambda eid: "cdc.resolve")
        pipe.lineage.append = self._wrap(
            pipe.lineage.append, lambda eid: LINEAGE_SPANS.get(str(eid)[:1], "lineage.failed")
        )
        pipe.target.merge = self._wrap(pipe.target.merge, lambda eid: "lake.merge")
        read_fn = pipe.target.read

        @functools.wraps(read_fn)
        def read(*args, **kwargs):
            cur = self.current()
            # the COW merge reads its own touched buckets; count only the
            # reads other layers make of the target
            if cur is not None and cur.name != "lake.merge":
                cur.attrs["target_reads"] = cur.attrs.get("target_reads", 0) + 1
            return read_fn(*args, **kwargs)

        pipe.target.read = read

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            eid = args[1] if len(args) > 1 else kwargs.get("epoch_id")
            with self.span(name_of(eid)) as sp:
                sp.attrs["result"] = fn(*args, **kwargs)
            return sp.attrs["result"]

        return wrapper

    def _view(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = VIEW_SPANS.get(str(kwargs.get("epoch_id", ""))[:1])
            cur = self.current()
            # maintain_cms delegates to maintain_aggregate: one span, not two
            if name is None or self._epoch is None or cur.name.startswith("view."):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @contextmanager
    def views(self):
        """Route the view maintainers through spans for the block."""
        from data_ingestion_resolution_platform_spark.operators import ivm, sketch

        targets = [
            (ivm, "maintain_aggregate"),
            (ivm, "maintain_join"),
            (ivm, "maintain_topk"),
            (sketch, "maintain_cms"),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name in targets]
        for mod, name, fn in saved:
            setattr(mod, name, self._view(fn))
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)


# -- event log ---------------------------------------------------------------
@dataclass
class GroupTasks:
    """Spark task metrics of one job group."""

    jobs: int = 0
    shuffle_write: int = 0
    spill: int = 0
    gc_ms: int = 0
    out_bytes: int = 0
    out_records: int = 0
    out_tasks: int = 0
    stage_run_ms: dict = field(default_factory=lambda: defaultdict(list))


def read_event_log(path: str) -> dict[str, GroupTasks]:
    """Task metrics per job group from an uncompressed Spark event log."""
    groups: dict[str, GroupTasks] = defaultdict(GroupTasks)
    stage_group: dict[int, str | None] = {}
    task_ends = []
    with open(path) as f:
        for line in f:
            head = line[:64]
            if "SparkListenerJobStart" in head:
                ev = json.loads(line)
                groups[(ev.get("Properties") or {}).get(GROUP)].jobs += 1
            elif "SparkListenerStageSubmitted" in head:
                ev = json.loads(line)
                stage_group[ev["Stage Info"]["Stage ID"]] = (ev.get("Properties") or {}).get(GROUP)
            elif "SparkListenerTaskEnd" in head:
                task_ends.append(json.loads(line))
    for ev in task_ends:
        stage = ev["Stage ID"]
        g = groups[stage_group.get(stage)]
        m = ev.get("Task Metrics") or {}
        g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        out = m.get("Output Metrics") or {}
        if out.get("Bytes Written", 0) > 0:
            g.out_bytes += out["Bytes Written"]
            g.out_records += out.get("Records Written", 0)
            g.out_tasks += 1
        g.stage_run_ms[stage].append(m.get("Executor Run Time", 0))
    return groups


# -- per-layer metrics -------------------------------------------------------
def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _skew(run_ms: dict) -> float:
    """max / median task time of the stage with the most task time."""
    if not run_ms:
        return 0.0
    heaviest = max(run_ms.values(), key=sum)
    return max(heaviest) / max(1.0, statistics.median(heaviest))


LAYER_SPANS = (
    "cdc.resolve",
    "lineage.append",
    "lineage.status",
    "lake.merge",
    *VIEW_SPANS.values(),
)


def epoch_layer_metrics(spans: list[Span], groups: dict[str, GroupTasks], tracer: Tracer, facts):
    """One dict of per-layer metrics per traced epoch.

    ``facts[epoch]`` gives the epoch's input events and distinct keys,
    counted by the oracle from the materialised feed.
    """
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids[x.id])
        return out

    def tasks(of: list[Span]) -> list[GroupTasks]:
        return [groups[tracer.group(x.id)] for s in of for x in subtree(s) if tracer.group(x.id) in groups]

    rows = []
    for e in (s for s in spans if s.name == "pipeline.epoch"):
        tree = subtree(e)
        by = defaultdict(list)
        for s in tree[1:]:
            by[s.name].append(s)
        cdc = tasks(by["cdc.resolve"])
        merge = tasks(by["lake.merge"])
        audit = tasks(by["cdc.resolve"] + by["lineage.append"] + by["lineage.status"])
        views = tasks([s for n in VIEW_SPANS.values() for s in by[n]])
        result = e.attrs.get("result") or {}
        merge_res = (by["lake.merge"][0].attrs.get("result") or {}) if by["lake.merge"] else {}
        fact = facts[e.attrs["epoch"]]
        stage_ms = defaultdict(list)
        for g in cdc:
            for st, ms in g.stage_run_ms.items():
                stage_ms[st].extend(ms)
        written = sum(g.out_records for g in merge)
        row = {
            "pipeline.epoch_s": e.dur,
            "pipeline.self_s": e.dur - union_length((c.t0, c.t1) for c in kids[e.id]),
            "pipeline.jobs": sum(g.jobs for g in tasks([e])),
            "cdc.resolve_s": sum(s.dur for s in by["cdc.resolve"]),
            "cdc.shuffle_write_bytes": sum(g.shuffle_write for g in cdc),
            "cdc.spill_bytes": sum(g.spill for g in cdc),
            "cdc.gc_ms": sum(g.gc_ms for g in cdc),
            "cdc.task_skew": _skew(stage_ms),
            "cdc.keys_per_event": fact["keys"] / max(1, fact["events"]),
            "cdc.conflict_keys": result.get("conflicts", 0),
            "lineage.append_s": sum(s.dur for s in by["lineage.append"]),
            "lineage.status_s": sum(s.dur for s in by["lineage.status"]),
            "audit.append_s": union_length(
                (s.t0, s.t1) for s in by["cdc.resolve"] + by["lineage.append"]
            ),
            "audit.files_written": sum(g.out_tasks for g in audit),
            "audit.bytes_written": sum(g.out_bytes for g in audit),
            "lake.merge_s": sum(s.dur for s in by["lake.merge"]),
            "lake.touched_buckets": merge_res.get("touched_buckets", 0),
            "lake.written_buckets": merge_res.get("written_buckets", 0),
            "lake.bytes_written": sum(g.out_bytes for g in merge),
            "lake.rewrite_ratio": fact["keys"] / written if written else 0.0,
            "lake.shuffle_write_bytes": sum(g.shuffle_write for g in merge),
            "lake.delta_bytes": merge_res.get("delta_bytes", 0),
            "lake.compactions": 1 if merge_res.get("compacted") else 0,
            "view.shuffle_write_bytes": sum(g.shuffle_write for g in views),
            "view.target_reads": sum(s.attrs.get("target_reads", 0) for s in tree),
        }
        for n in VIEW_SPANS.values():
            row[n + "_s"] = sum(s.dur for s in by[n])
        rows.append(row)
    return rows


def medians(rows: list[dict]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
