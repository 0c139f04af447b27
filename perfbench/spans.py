"""Span tracing around the public functions of ``wdel_spark`` modules, and
Spark counters per job group read from the in-process status store.

The traced run replaces module attributes with wrappers for the length of
one rep.  Each wrapped call:

1. forces every DataFrame argument not forced before, billed to the
   caller's span (the caller built that lazy input);
2. opens its span and its own job group;
3. calls the function and forces a returned DataFrame once, inside the span;
4. closes the span, restores the caller's job group, and records output
   counts (rows, input rows, components, bytes written) in a
   ``tracing.count`` span beside it.

Spans stay in memory and are written out when the run ends.  Forcing
recomputes inputs that the program itself never materializes, so traced
timings are only ever used for per-layer numbers, never end to end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# (module, attribute) of every layer the traced run wraps.  A function that
# a later refactor removes is reported as absent instead of failing the run.
LAYERS = (
    ("wdel_spark.entry_pipeline", "derive_mention_tokens"),
    ("wdel_spark.entry_pipeline", "derive_vocab_kb_df"),
    ("wdel_spark.plans.pipeline", "prepare_kb"),
    ("wdel_spark.plans.pipeline", "extract_mentions"),
    ("wdel_spark.plans.pipeline", "candidate_signatures"),
    ("wdel_spark.plans.pipeline", "score_pair_sigs"),
    ("wdel_spark.plans.pipeline", "rank_signature_scores"),
    ("wdel_spark.plans.pipeline", "attach_sig_scores"),
    ("wdel_spark.plans.pipeline", "er_ids_plan"),
    ("wdel_spark.plans.pipeline", "run_pipeline"),
    ("wdel_spark.operators.cc", "connected_components"),
    ("wdel_spark.sources.snapshot", "write_snapshot"),
    ("wdel_spark.sources.snapshot", "read_snapshot"),
)

# Layers whose output (and, where named, first-argument) rows are counted.
COUNT_OUT = {
    "entry_pipeline.derive_mention_tokens",
    "entry_pipeline.derive_vocab_kb_df",
    "plans.pipeline.prepare_kb",
    "plans.pipeline.candidate_signatures",
    "plans.pipeline.score_pair_sigs",
    "plans.pipeline.rank_signature_scores",
}
COUNT_IN = {
    "plans.pipeline.candidate_signatures",
    "plans.pipeline.rank_signature_scores",
    "operators.cc.connected_components",
}

GROUP_PREFIX = "perfbench:"


def layer_name(module: str, attr: str) -> str:
    return f"{module.removeprefix('wdel_spark.')}.{attr}"


def force(df: DataFrame) -> None:
    """Compute every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans for calls into the wrapped layers of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.forced: list[DataFrame] = []  # compared by identity
        self.absent: list[str] = []
        self.wrapped: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        self.absent, self.wrapped = [], []
        for module, attr in LAYERS:
            name = layer_name(module, attr)
            try:
                orig = getattr(importlib.import_module(module), attr)
            except (ImportError, AttributeError):
                self.absent.append(name)
                continue
            wrapper = self._wrap(name, orig)
            # the function is also bound under other modules' names
            # (``from ... import``); replace every binding of it
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("wdel_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        self._patches.append((mod, key, orig))
                        setattr(mod, key, wrapper)
            self.wrapped.append(name)

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patches):
            setattr(mod, key, orig)
        self._patches = []

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._force_args(args, kwargs)
            span, prev_group = self._open(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    force(out)
                    self.forced.append(out)
            finally:
                self._close(span, prev_group)
            self._count(span, args, out)
            return out

        return traced

    # -- spans and job groups --------------------------------------------
    def _open(self, name: str) -> tuple[Span, str | None]:
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(span)
        self.stack.append(span)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", name)
        return span, prev

    def _close(self, span: Span, prev_group: str | None) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def section(self, name: str):
        """A span with its own job group for work outside the wrapped
        layers: the traced call as a whole, or tracing's own counts."""
        span, prev = self._open(name)
        try:
            yield span
        finally:
            self._close(span, prev)

    def _is_forced(self, df: DataFrame) -> bool:
        return any(df is f for f in self.forced)

    def _force_args(self, args, kwargs) -> None:
        for a in [*args, *kwargs.values()]:
            items = a.values() if isinstance(a, dict) else (
                a if isinstance(a, (list, tuple)) else [a])
            for df in items:
                if isinstance(df, DataFrame) and not self._is_forced(df):
                    force(df)
                    self.forced.append(df)

    def _count(self, span: Span, args, out) -> None:
        want_out = span.name in COUNT_OUT and isinstance(out, DataFrame)
        first = args[0] if args else None
        want_in = span.name in COUNT_IN and isinstance(first, DataFrame)
        is_cc = span.name == "operators.cc.connected_components"
        if span.name == "sources.snapshot.write_snapshot":
            path = args[1] if len(args) > 1 else None
            span.counts["bytes"] = dir_bytes(path) if path else 0
        if not (want_out or want_in or is_cc):
            return
        with self.section("tracing.count"):
            if want_out:
                span.counts["rows"] = out.count()
            if want_in:
                span.counts["rows_in"] = first.count()
            if is_cc and isinstance(out, DataFrame):
                span.counts["components"] = (
                    out.select("component").distinct().count())


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------- counters

STAGE_FIELDS = ("tasks", "task_s", "jvm_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes")


def group_counters(spark, prefix: str = GROUP_PREFIX) -> dict[str, dict]:
    """Per job group (with ``prefix``): jobs, stages and summed stage
    metrics, from the status store (works with ``spark.ui.enabled=false``).

    A stage reused through a shuffle is listed by later jobs as skipped;
    each stage is billed once, to the lowest job id listing it."""
    sc, jvm = spark.sparkContext, spark._jvm
    store = sc._jsc.sc().statusStore()
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    empty = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = {}
    for s in as_java(store.stageList(empty, False, False, no_quantiles,
                                     empty)):
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        stages[s.stageId()] = {
            "tasks": s.numTasks(),
            "task_s": s.executorRunTime() / 1e3,
            "jvm_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    groups: dict[str, dict] = {}
    billed: set[int] = set()
    jobs = sorted(as_java(store.jobsList(empty)), key=lambda j: j.jobId())
    for j in jobs:
        g = j.jobGroup()
        if not g.isDefined() or not g.get().startswith(prefix):
            continue
        acc = groups.setdefault(g.get(), dict.fromkeys(
            ("jobs", "stages", *STAGE_FIELDS), 0))
        acc["jobs"] += 1
        for sid in as_java(j.stageIds()):
            if sid in billed or sid not in stages:
                continue
            billed.add(sid)
            acc["stages"] += 1
            for k, v in stages[sid].items():
                acc[k] += v
    return groups


# ------------------------------------------------------------- span math

def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


def span_table(tracer: Tracer, counters: dict[str, dict]) -> list[dict]:
    """Spans as records: name, start, end, parent, root (the name of its
    top-level ancestor), self_s, job counters."""
    kids: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    t0 = tracer.spans[0].start if tracer.spans else 0.0
    rows = []
    for s in tracer.spans:
        c = counters.get(f"{GROUP_PREFIX}{s.id}", {})
        root = s
        while root.parent is not None:
            root = tracer.spans[root.parent]
        rows.append({
            "id": s.id, "name": s.name, "parent": s.parent,
            "root": root.name,
            "start": s.start - t0, "end": s.end - t0,
            "self_s": self_time(s, kids.get(s.id, [])),
            **{k: c.get(k, 0) for k in ("jobs", "stages", *STAGE_FIELDS)},
            **s.counts,
        })
    return rows


def layer_metrics(spans: list[dict], wrapped: list[str],
                  absent: list[str], roots=None) -> dict[str, dict]:
    """Per layer: calls, inclusive seconds, self seconds, own jobs and
    stage metrics, and summed counts, over its spans (only those whose
    root is in ``roots``, when given).  Derived: output rows per input
    row, and task time spent outside JVM CPU (Python workers, Arrow
    transfer, waits)."""
    out: dict[str, dict] = {name: {"absent": True} for name in absent}
    for name in wrapped:
        mine = [s for s in spans if s["name"] == name
                and (roots is None or s["root"] in roots)]
        m = {"calls": len(mine),
             "s": sum(s["end"] - s["start"] for s in mine),
             "self_s": sum(s["self_s"] for s in mine)}
        for k in ("jobs", *STAGE_FIELDS, "rows", "rows_in", "components",
                  "bytes"):
            m[k] = sum(s.get(k, 0) for s in mine)
        m["rows_per_input"] = m["rows"] / max(m["rows_in"], 1)
        m["nonjvm_task_s"] = m["task_s"] - m["jvm_cpu_s"]
        out[name] = m
    return out
