"""Tracing for the traced run: spans at each layer boundary, counters,
and per-query reads of Spark's status store.

Spans are recorded by the benchmark around calls into the program's
public functions; nothing inside the program changes. They are kept in
memory and written once, when the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans
    cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        inside = [
            (max(k.start, s.start), min(k.end, s.end)) for k in kids[i]
        ]
        out.append(
            (s.end - s.start) - covered_s([iv for iv in inside if iv[1] > iv[0]])
        )
    return out


class Tracer:
    """Span and counter recorder. While ``enabled`` is false, spans and
    counters are not recorded and wrapped functions only call
    through."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.tables_read: set[str] = set()
        self.enabled = False
        self.trace_id = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def wrap(
        self, fn: Callable, name: str, result_counter: str | None = None
    ) -> Callable:
        """``fn`` inside a span; with ``result_counter``, its numeric
        result is added to that counter."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if result_counter is not None:
                self.count(result_counter, out)
            return out

        return traced

    def spans_of(self, trace_id: str) -> list[Span]:
        """Spans of ``trace_id`` and of the trace ids below it."""
        return [
            s for s in self.spans
            if s.trace_id == trace_id or s.trace_id.startswith(trace_id + "/")
        ]

    def dump(self) -> list[dict]:
        return [
            {**asdict(s), "self_s": st}
            for s, st in zip(self.spans, self_times(self.spans))
        ]


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points. Call before ``registry.load_all()``
    so that query modules' ``from ... import`` statements bind the
    wrapped functions."""
    from hdsp_hive_release_src_spark import catalog
    from hdsp_hive_release_src_spark.operators import (
        components,
        materialize,
        sketches,
    )

    table = catalog.Catalog.table

    @functools.wraps(table)
    def traced_table(self, name: str):
        tracer.count("catalog.table_calls")
        if tracer.enabled:
            tracer.tables_read.add(f"{self.sf_dir}/{name}.parquet")
        with tracer.span("catalog.table"):
            return table(self, name)

    catalog.Catalog.table = traced_table
    materialize.flush_pending_releases = tracer.wrap(
        materialize.flush_pending_releases,
        "materialize.flush",
        result_counter="materialize.released",
    )
    components.connected_components_star = tracer.wrap(
        components.connected_components_star, "components.star"
    )
    sketches.heavy_hitters = tracer.wrap(
        sketches.heavy_hitters, "sketches.heavy_hitters"
    )


# StageData getter and the factor that converts it to the metric's unit
_STAGE_METRICS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.input_records": ("inputRecords", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.output_records": ("outputRecords", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_records": ("shuffleWriteRecords", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}
SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    *_STAGE_METRICS,
)


def job_group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of every job run under job
    group ``group``, read from Spark's status store. Skipped stages
    (shuffle output reused) count as neither stages nor tasks."""
    jsc = sc._jsc.sc()
    # the status store is fed asynchronously by the listener bus
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        ids = store.job(jid).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["spark.failed_tasks"] += st.numFailedTasks()
        for metric, (getter, factor) in _STAGE_METRICS.items():
            out[metric] += getattr(st, getter)() * factor
    return out


def cache_state(sc) -> tuple[int, float]:
    """(persisted RDD count, MiB they hold in memory and on disk)."""
    jsc = sc._jsc.sc()
    infos = jsc.statusStore().rddList(True)
    used = sum(
        infos.apply(i).memoryUsed() + infos.apply(i).diskUsed()
        for i in range(infos.size())
    )
    return jsc.getPersistentRDDs().size(), used / (1024 * 1024)
