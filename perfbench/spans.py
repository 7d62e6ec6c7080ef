"""Per-layer attribution for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary:
either around a call the benchmark makes itself, or by wrapping a
package's public function in place (``Tracer.wrap``) for the duration
of the run.  Every span sets its own Spark job group, so the Spark
event log attributes each stage — and through it each task's run time,
shuffle, spill and input — to exactly one span.  Streaming spans come
from ``StreamingQuery.recentProgress`` (``add_streaming``).

Nothing here changes what the engine computes; with tracing off the
benchmark uses ``NullTracer`` and the package is never patched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

# The span names, in report order (layer = package module).
SPANS = (
    "session.get_spark",
    "sources.read_bronze_json",
    "sources.split_corrupt",
    "pipelines.run_silver",
    "pipelines.run_gold",
    "sinks.merge_upsert",
    "sinks.merge_delete",
    "streaming.trigger",
    "streaming.add_batch",
    "operators.dedup",
    "queries.fused_scores",
    "queries.collect",
)
SPAN_FIELDS = (
    ("wall_s", "s"), ("self_s", "s"), ("task_s", "s"), ("idle_s", "s"),
    ("tasks", "count"), ("failed_tasks", "count"), ("shuffle_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"),
)
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    name: str
    sid: int
    t0: float  # epoch seconds
    t1: float = 0.0
    phase: str = ""
    group: str | None = None  # Spark job group owning this span's own tasks
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)  # own (exclusive) tasks
    # streaming dedup span: the addBatch interval its tasks launch in
    window: tuple[float, float] | None = None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """Tracing off: spans are no-ops and nothing is patched."""

    enabled = False
    phase = ""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def add_streaming(self, query) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spark = None
        self.phase = "setup"
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._streams: list[tuple[str, list[dict]]] = []
        self._lock = threading.Lock()

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            sp = Span(name, len(self.spans), time.time(), phase=self.phase)
            self.spans.append(sp)
        stack = self._stack()
        if stack:
            sp.parent = stack[-1]
            sp.parent.children.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        saved = None
        if sc is not None:
            saved = [sc.getLocalProperty(k) for k in _JOB_PROPS]
            sp.group = f"perfbench-span-{sp.sid}"
            sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.t1 = time.time()
            if sc is not None:
                # restore the caller's group: inside foreachBatch that is
                # the streaming query's own run group
                for k, v in zip(_JOB_PROPS, saved):
                    sc.setLocalProperty(k, v)

    def claim(self, sp: Span) -> None:
        """Give ``sp`` a job group after the fact — for the session span,
        which starts before there is a SparkContext."""
        sp.group = f"perfbench-span-{sp.sid}"
        self.spark.sparkContext.setJobGroup(sp.group, sp.name)

    def release(self) -> None:
        sc = self.spark.sparkContext
        for k in _JOB_PROPS:
            sc.setLocalProperty(k, None)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`unwrap_all`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def add_streaming(self, query) -> None:
        """Keep the query's run group and progress for attribution."""
        self._streams.append((str(query.runId), list(query.recentProgress)))

    # -- attribution -------------------------------------------------------

    def _streaming_spans(self) -> set[str]:
        """Derive trigger / add_batch / dedup spans from recentProgress;
        returns the queries' run groups."""
        for run_id, progress in self._streams:
            for p in progress:
                if not p.get("numInputRows"):
                    continue
                dur = p["durationMs"]
                t0 = datetime.strptime(
                    p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
                ).replace(tzinfo=timezone.utc).timestamp()
                t1 = t0 + dur.get("triggerExecution", 0) / 1000.0
                # addBatch is followed only by the offset commit
                ab1 = t1 - dur.get("commitOffsets", 0) / 1000.0
                ab0 = ab1 - dur.get("addBatch", 0) / 1000.0
                phase = self._phase_at(t0)
                trig = Span("streaming.trigger", -1, t0, t1, phase, group=run_id)
                add = Span("streaming.add_batch", -1, ab0, ab1, phase, parent=trig)
                trig.children.append(add)
                inner = [
                    s for s in self.spans
                    if s.name == "sinks.merge_upsert" and ab0 - 0.05 <= s.t0 <= ab1
                ]
                for s in inner:
                    s.parent = add
                    add.children.append(s)
                # operators.dedup = add_batch minus the sink's time: one
                # span whose wall is the remainder, owning the query's
                # own-group tasks inside the addBatch window
                rest = max(0.0, add.wall - sum(s.wall for s in inner))
                dd = Span("operators.dedup", -1, ab0, ab0 + rest, phase,
                          group=run_id, parent=add, window=(ab0, ab1))
                add.children.append(dd)
                self.spans.extend([trig, add, dd])
        return {run_id for run_id, _ in self._streams}

    def _phase_at(self, t: float) -> str:
        for s in self.spans:
            if s.name == "perfbench.op" and s.t0 <= t <= s.t1:
                return s.phase
        return ""

    def attribute(self, event_log_dir: str) -> None:
        """Parse the event log(s) and hang every task on its span."""
        stream_groups = self._streaming_spans()
        by_group = {s.group: s for s in self.spans if s.group and s.sid >= 0}
        stream_spans = [s for s in self.spans if s.group in stream_groups]
        for fname in sorted(os.listdir(event_log_dir)):
            stage_group: dict[int, str | None] = {}
            with open(os.path.join(event_log_dir, fname)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_group[sid] = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"
                        )
                    elif kind == "SparkListenerTaskEnd":
                        task = _task(ev)
                        g = stage_group.get(ev["Stage ID"])
                        if g in by_group:
                            by_group[g].tasks.append(task)
                        elif g in stream_groups:
                            _to_stream_span(stream_spans, g, task)

    # -- report ------------------------------------------------------------

    def layer_metrics(self, phases: tuple[str, ...], n_ops: int, n_setups: int) -> dict:
        """Per span name: metrics summed over the span instances of the
        given phases, divided by the number of operations (setup spans:
        by the number of set-ups) — per-operation means."""
        out = {}
        for name in SPANS:
            inst = [s for s in self.spans if s.name == name and s.phase in phases]
            denom = max(1, n_setups if name.startswith("session.") else n_ops)
            agg = dict.fromkeys((k for k, _ in SPAN_FIELDS), 0.0)
            for s in inst:
                tasks = _inclusive_tasks(s)
                agg["wall_s"] += s.wall
                agg["self_s"] += max(0.0, s.wall - sum(c.wall for c in s.children))
                agg["task_s"] += sum(t["run_ms"] for t in tasks) / 1000.0
                agg["idle_s"] += max(0.0, s.wall - _busy(tasks, s.t0, s.t1))
                agg["tasks"] += len(tasks)
                agg["failed_tasks"] += sum(t["failed"] for t in tasks)
                agg["shuffle_bytes"] += sum(t["shuffle"] for t in tasks)
                agg["spill_bytes"] += sum(t["spill"] for t in tasks)
                agg["input_bytes"] += sum(t["input"] for t in tasks)
            for (k, unit) in SPAN_FIELDS:
                out[f"{name}.{k}"] = (agg[k] / denom, unit)
        return out

    def coverage(self, phase: str) -> float:
        """Share of the timed operations' wall time covered by span self
        times (= by the outermost spans inside each operation)."""
        ops = [s for s in self.spans if s.name == "perfbench.op" and s.phase == phase]
        total = sum(s.wall for s in ops)
        covered = 0.0
        for s in self.spans:
            if s.name in SPANS and s.phase == phase and _outermost(s):
                covered += s.wall
        return covered / total if total else 0.0

    def input_records(self, name: str, phase: str) -> int:
        return sum(
            t["records"]
            for s in self.spans if s.name == name and s.phase == phase
            for t in _inclusive_tasks(s)
        )


def _task(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    inp = m.get("Input Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "launch": info.get("Launch Time", 0) / 1000.0,
        "finish": info.get("Finish Time", 0) / 1000.0,
        "failed": 1 if info.get("Failed") else 0,
        "run_ms": m.get("Executor Run Time", 0),
        "shuffle": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "input": inp.get("Bytes Read", 0),
        "records": inp.get("Records Read", 0),
    }


def _to_stream_span(stream_spans: list[Span], group: str, task: dict) -> None:
    """A task of the query's own run group belongs to the dedup span
    whose addBatch window holds its launch, else to the enclosing
    trigger (offset/commit work)."""
    best = None
    for s in stream_spans:
        if s.group != group:
            continue
        lo, hi = s.window or (s.t0, s.t1)
        if lo - 0.05 <= task["launch"] <= hi + 0.05:
            if best is None or s.name == "operators.dedup":
                best = s
    if best is not None:
        best.tasks.append(task)


def _inclusive_tasks(s: Span) -> list[dict]:
    out = list(s.tasks)
    for c in s.children:
        out.extend(_inclusive_tasks(c))
    return out


def _busy(tasks: list[dict], lo: float, hi: float) -> float:
    """Length of the union of task run intervals, clipped to [lo, hi]."""
    iv = sorted(
        (max(lo, t["launch"]), min(hi, t["finish"]))
        for t in tasks if t["finish"] > lo and t["launch"] < hi
    )
    total, cur0, cur1 = 0.0, None, None
    for a, b in iv:
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def _outermost(s: Span) -> bool:
    p = s.parent
    while p is not None:
        if p.name in SPANS:
            return False
        p = p.parent
    return True
