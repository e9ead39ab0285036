"""Spans and Spark counters, recorded from outside the package.

The benchmark never edits the package. In a traced pass it swaps a few
module attributes for wrappers that time the call and pass it through, and
it reads Spark's own status tracker and status store after each op. Spans
stay in memory; ``run.py`` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the time its direct children cover."""
        s = self.spans[idx]
        children = sum(c.seconds for c in self.spans if c.parent == idx)
        return s.seconds - children

    def accounting(self, name: str) -> tuple[float, float]:
        """Summed direct-child time and self time of the spans named ``name``."""
        children = own = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name:
                own += self.self_seconds(i)
                children += s.seconds - self.self_seconds(i)
        return children, own

    def to_records(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for i, s in enumerate(self.spans)
        ]


def _timed(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


class _TimedAcquire:
    """Wraps a context manager so only its ``__enter__`` (the acquire) is a span."""

    def __init__(self, tracer: Tracer, name: str, cm) -> None:
        self._tracer, self._name, self._cm = tracer, name, cm

    def __enter__(self):
        with self._tracer.span(self._name):
            return self._cm.__enter__()

    def __exit__(self, *exc):
        return self._cm.__exit__(*exc)


class Patches:
    """Module-attribute wrappers, installed for traced passes only."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _set(self, module, attr: str, value) -> None:
        self._saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, value)

    def install_migration(self) -> None:
        """Wrap what ``migrate_single_table`` looks up at call time."""
        from clickhousemigrators3_spark import catalog, resume
        from clickhousemigrators3_spark.operators import migrate

        t = self.tracer
        lock_fn = migrate.table_lock
        self._set(migrate, "table_lock", lambda *a, **k: _TimedAcquire(t, "lock.acquire", lock_fn(*a, **k)))
        for attr, name in (
            ("discover_partition_values", "migrate.discover"),
            ("_copy_partitions", "migrate.copy"),
            ("_validate", "validate"),
            ("table_exists", "catalog.table_exists"),
            ("drop_path", "catalog.drop"),
            ("rename_path", "catalog.rename"),
        ):
            self._set(migrate, attr, _timed(t, name, getattr(migrate, attr)))
        self._set(resume, "mark_partition", _timed(t, "resume.mark_partition", resume.mark_partition))
        # every ledger write (mark_partition's and mark_table_completed's)
        self._set(resume, "save_progress", _timed(t, "resume.flush", resume.save_progress))
        # migrate_single_table imports load_table from the catalog module at
        # call time, so the module attribute is what it sees
        self._set(catalog, "load_table", _timed(t, "catalog.load_table", catalog.load_table))

    def uninstall(self) -> None:
        while self._saved:
            module, attr, value = self._saved.pop()
            setattr(module, attr, value)


class SparkCounters:
    """Per-op job, stage and task counters from Spark's status store.

    Job ids are sequential, so an op's jobs are those submitted between the
    two ``mark`` calls around it; no job group or description is set, so the
    package's own job labels stay untouched."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def mark(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def collect(self, first_job: int, last_job: int) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), self._jsc.statusStore()
        stage_ids: set[int] = set()
        for job in range(first_job, last_job):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("exec.stages", "exec.tasks", "exec.input_rows", "exec.shuffle_write_bytes",
             "exec.spill_bytes", "exec.executor_run_s"),
            0.0,
        )
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.input_rows"] += sd.inputRecords()
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["exec.executor_run_s"] += sd.executorRunTime() / 1000.0
        out["exec.jobs"] = float(last_job - first_job)
        return out

    def persisted_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return {
        "catalyst.analysis_s": out.get("analysis", 0.0),
        "catalyst.optimization_s": out.get("optimization", 0.0),
        "catalyst.planning_s": out.get("planning", 0.0),
    }
