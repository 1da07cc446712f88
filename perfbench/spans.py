"""Spans at the engine's layer boundaries, recorded from the benchmark's
own files, and the Spark work under each span from the event log.

A span is entered around a call into a layer: the benchmark opens the
``query`` / ``registry.build`` / ``execute`` spans itself, and ``Tracer``
wraps the engine's public layer functions (``session.materialize``,
``catalog.load_table``, the operators, the Zarr writers) for the traced
passes.  Operators bind those functions by name (``from ..session import
materialize``), so a wrapper is installed in every engine module namespace
that holds the function object.

Each span sets the Spark job group ``pb-<span id>`` while it is the
innermost open span, so every job, stage and task in the event log maps
to exactly one span; a span's Spark work is that of its subtree.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PKG = "single_cell_experiments_spark"

#: (engine module, function, span name) wrapped in traced passes; the span
#: name is ``<layer>.<function>``.
WRAPPED = (
    ("session", "materialize", "session.materialize"),
    ("session", "sever", "session.sever"),
    ("catalog", "load_table", "catalog.load_table"),
    ("catalog", "table_view", "catalog.table_view"),
    ("operators.singlecell", "sc_recipe_zheng17", "singlecell.sc_recipe_zheng17"),
    ("operators.singlecell", "sc_nnd_edges", "singlecell.sc_nnd_edges"),
    ("operators.dedup", "lsh_pairs_staged", "dedup.lsh_pairs_staged"),
    ("operators.dedup", "cc_star_labels", "dedup.cc_star_labels"),
    ("sources.zarrv2", "write_zarr_group", "sources.write_zarr_group"),
)

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    """One call into a layer; ``qid`` is shared by all spans of a query."""

    id: int
    name: str
    parent: int | None
    qid: int
    pass_no: int
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._installed: list[tuple[object, str, object]] = []
        self._wrapper_of: dict[int, object] = {}
        self.qid = 0
        self.pass_no = 0

    def _set_group(self, span: Span | None) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"{GROUP_PREFIX}{span.id}"
        )

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, None if parent is None else parent.id, self.qid, self.pass_no, 0.0
        )
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.id)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def install(self) -> None:
        """Wrap every ``WRAPPED`` function in each engine module holding it."""
        engine_mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod_name, fn_name, span_name in WRAPPED:
            fn = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
            wrapper = self._wrap(fn, span_name)
            self._wrapper_of[id(fn)] = wrapper
            for mod in engine_mods:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        self._installed.append((mod, attr, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in self._installed:
            setattr(mod, attr, fn)
        self._installed.clear()
        self._wrapper_of.clear()

    def traced(self, fn):
        """``fn``'s installed wrapper (a query builder that is itself a
        wrapped operator, reached through ``registry.fresh_fn``), else ``fn``."""
        return self._wrapper_of.get(id(fn), fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the time covered by child spans (children of one
    span run one after another on the driver thread)."""
    return span.dur - sum(spans[c].dur for c in span.children)


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    """``span`` and all its descendants."""
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(spans[c] for c in s.children)
    return out


SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "executor_run_s",
    "executor_cpu_s",
    "peak_exec_mem_mb",
)


def read_event_log(log: Path) -> dict[str | None, dict[str, float]]:
    """Spark work per job group from an uncompressed JSON event log."""
    per = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    stage_group: dict[tuple[int, int], str | None] = {}
    with open(log) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListener'):
                _count_event(line, per, stage_group)
    return dict(per)


_MB = 2.0**20


def _count_event(line: str, per, stage_group) -> None:
    kind = line[len('{"Event":"SparkListener') : line.index('"', len('{"Event":"'))]
    if kind not in ("JobStart", "StageSubmitted", "StageCompleted", "TaskEnd"):
        return
    ev = json.loads(line)
    if kind == "JobStart":
        per[(ev.get("Properties") or {}).get("spark.jobGroup.id")]["jobs"] += 1
        return
    if kind == "TaskEnd":
        c = per[stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))]
        tm = ev.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        c["tasks"] += 1
        c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
        c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
        c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
        c["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
        c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        c["peak_exec_mem_mb"] = max(c["peak_exec_mem_mb"], tm.get("Peak Execution Memory", 0) / _MB)
        return
    info = ev["Stage Info"]
    key = (info["Stage ID"], info["Stage Attempt ID"])
    if kind == "StageSubmitted":
        stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
    else:
        per[stage_group.get(key)]["stages"] += 1


def spark_work(spans_: list[Span], per_group: dict[str, dict[str, float]]) -> dict[str, float]:
    """Summed Spark work of the job groups of ``spans_`` (peak memory: max)."""
    tot = dict.fromkeys(SPARK_FIELDS, 0.0)
    for s in spans_:
        c = per_group.get(f"{GROUP_PREFIX}{s.id}")
        if c is None:
            continue
        for k in SPARK_FIELDS:
            tot[k] = max(tot[k], c[k]) if k == "peak_exec_mem_mb" else tot[k] + c[k]
    return tot
