"""Spans around the program's public functions, and the Spark work each
span caused.

Wrappers replace module and class attributes from outside the program:
``cli.main`` and ``curate.curate`` look names up at call time, so they
call the wrappers.  Each span sets the Spark job group to its own id, so
every job, stage and task in the event log names the innermost span that
caused it; the group reaches jobs that adaptive query execution submits
from other threads.  Counts come from the event log, not from the status
tracker, which forgets stages beyond its retention limit.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

P = "rdbms_subsetter_spark."

#: (module, attribute path, span name, other modules that bound the same
#: function by ``from ... import`` and so need the wrapper too)
TARGETS = [
    (P + "cli", "main", "cli.main", ()),
    (P + "catalog", "Catalog.__init__", "catalog.Catalog", ()),
    (P + "writer", "plan_preview", "writer.plan_preview", ()),
    (P + "writer", "write_subset", "writer.write_subset", ()),
    (P + "writer", "sequence_resync_report", "writer.sequence_resync_report", ()),
    (P + "sampling", "sample_exact_n", "sampling.sample_exact_n", (P + "closure",)),
    (P + "closure", "ClosureEngine.create_subset", "closure.create_subset", ()),
    (P + "closure", "ClosureEngine.close_parents", "closure.close_parents", ()),
    (P + "closure", "ClosureEngine.pull_children", "closure.pull_children", ()),
    (P + "closure", "ClosureEngine.integrity_violations", "closure.integrity_violations", ()),
    (P + "curate", "curate", "curate.curate", ()),
    (P + "curate", "rule_filter", "curate.rule_filter", ()),
    (P + "curate", "dedup_survivors", "curate.dedup_survivors", ()),
    (P + "operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", ()),
    (P + "operators.dedup", "connected_components", "dedup.connected_components", ()),
    (P + "partitioning", "split_assignment", "partitioning.split_assignment", ()),
    (P + "partitioning", "shard_assignment", "partitioning.shard_assignment", ()),
]

COUNTS = ("jobs", "stages", "tasks", "task_s", "gc_s", "written_mb", "shuffle_mb")


def group_id(op: int, span: int) -> str:
    return f"pb|{op}|{span}"


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float = 0.0
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records the spans of each op run between :meth:`begin_op` and
    :meth:`end_op`; while ``enabled`` is false an op gets one job group
    and no spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self.enabled = False

    # -- op and span boundaries -------------------------------------
    def begin_op(self, op: int) -> None:
        self._op = op
        self.sc.setJobGroup(group_id(op, -1), "op")

    def end_op(self) -> None:
        self.sc.setJobGroup("pb|idle|-1", "idle")
        self._op = -1

    def _enter(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent, self._op, name)
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.id)
        self._stack.append(span.id)
        self.sc.setJobGroup(group_id(self._op, span.id), name)
        span.start = time.perf_counter()
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        outer = self._stack[-1] if self._stack else -1
        self.sc.setJobGroup(group_id(self._op, outer), "span")

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span (a plain call while tracing is off)."""
        if not self.enabled or self._op < 0:
            return fn(*args, **kwargs)
        span = self._enter(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._exit(span)

    # -- attribute replacement --------------------------------------
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Replace every target attribute with a span wrapper."""
        for mod_name, attr, name, aliases in TARGETS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            fn = getattr(owner, leaf)
            wrapped = self._wrap(fn, name)
            for target in [owner, *map(importlib.import_module, aliases)]:
                setattr(target, leaf, wrapped)

    # -- aggregation ------------------------------------------------
    def per_op_layers(self, work: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
        """``op -> {"<span>.<quantity>": value}`` for every traced op.

        ``work`` maps job-group ids to Spark counts (:func:`read_event_log`).
        Times and counts of a span name are summed over its calls in the
        op; counts include the span's descendants.
        """
        inclusive: dict[int, dict[str, float]] = {}
        for span in reversed(self.spans):  # children were created after parents
            own = dict(work.get(group_id(span.op, span.id), {}))
            for child in span.children:
                for k, v in inclusive[child].items():
                    own[k] = own.get(k, 0.0) + v
            inclusive[span.id] = own
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for span in self.spans:
            if span.parent is not None and self.spans[span.parent].name == span.name:
                continue  # a recursive call is already inside its caller's span
            m = out[span.op]
            dur = span.end - span.start
            m[f"{span.name}.s"] += dur
            m[f"{span.name}.self_s"] += dur - sum(
                self.spans[c].end - self.spans[c].start for c in span.children
            )
            for k, v in inclusive[span.id].items():
                m[f"{span.name}.{k}"] += v
        return out


def spark_defaults(work_dir: Path, trace: bool) -> str:
    """``spark-defaults.conf`` text: JVM scratch files inside ``work_dir``,
    no console progress bar, and (traced runs only) an uncompressed,
    unrolled event log."""
    tmp = work_dir / "tmp"
    lines = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work_dir / 'events'}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    return "\n".join(lines) + "\n"


def read_event_log(events_dir: Path) -> dict[str, dict[str, float]]:
    """Spark work per job group from the finished event log:
    ``group -> {jobs, stages, tasks, task_s, gc_s, written_mb, shuffle_mb}``."""
    logs = [p for p in events_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {len(logs)}")
    work: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTS, 0.0))
    stage_group: dict[int, str] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                work[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                work[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                w = work[stage_group.get(ev["Stage ID"], "none")]
                tm = ev.get("Task Metrics") or {}
                w["tasks"] += 1
                w["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                w["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                w["written_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
                w["shuffle_mb"] += (
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                )
    return dict(work)
