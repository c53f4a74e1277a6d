"""Spans around the engine's public calls, installed from outside at runtime.

``Tracer.install()`` replaces a fixed set of public callables with thin
wrappers that record one span per call (name, start, end, parent, batch
id, thread) in memory; ``uninstall()`` restores the originals. Nothing in
the package changes: the wrappers sit on the attributes the driver module
looks up at call time, so they see exactly what the driver calls.

Wrapped boundaries:

- ``ReplayDriver.plan_ranges`` / ``process_range`` / ``process_markers``
  (a ``process_*`` call is one batch: the root span of its batch id);
- ``consolidate``, ``consolidate_with_markers``, ``open_txn_watermark``,
  ``parse_committed_typed`` and ``build_merge_source_typed`` as the driver
  module sees them;
- ``SnapshotTable.merge`` / ``compact`` / ``read_for_keys``;
- ``LineageLog.record_batch`` and the engine's ``load_snapshot``.

After each batch the tracer reads Spark's status store (jobs with their
submit/complete times, stage executor run time, shuffle and output bytes);
it works with the UI disabled. The lazy layers (consolidate, parse, fold)
only build DataFrames, so their task time is measured by
``decompose()``: it re-runs the DataFrames the driver built for one batch
into the ``noop`` sink, one cumulative prefix at a time.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: str | None = None
    thread: int = 0
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]


@dataclass
class StageStats:
    run_s: float
    shuffle_write_b: int
    output_b: int
    output_rows: int


class StatusStore:
    """Read-only view of the driver's ``AppStatusStore`` through py4j."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._stages: dict[int, StageStats | None] = {}

    def jobs(self, after: int = -1) -> list[Job]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = int(j.jobId())
            sub, done = j.submissionTime(), j.completionTime()
            if jid <= after or not sub.isDefined() or not done.isDefined():
                continue
            sids = j.stageIds()
            out.append(
                Job(
                    jid,
                    sub.get().getTime() / 1000.0,
                    done.get().getTime() / 1000.0,
                    [int(sids.apply(k)) for k in range(sids.size())],
                )
            )
        return sorted(out, key=lambda x: x.id)

    def last_job_id(self) -> int:
        seq = self._store.jobsList(None)
        return max((int(seq.apply(i).jobId()) for i in range(seq.size())), default=-1)

    def stage(self, sid: int) -> StageStats | None:
        """Stats of a stage's last attempt; None for a stage that never ran
        (skipped because its shuffle output was reused)."""
        if sid not in self._stages:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException
                self._stages[sid] = None
            else:
                if str(s.status().toString()) == "SKIPPED" or s.numCompleteTasks() == 0:
                    self._stages[sid] = None
                else:
                    self._stages[sid] = StageStats(
                        s.executorRunTime() / 1000.0,
                        int(s.shuffleWriteBytes()),
                        int(s.outputBytes()),
                        int(s.outputRecords()),
                    )
        return self._stages[sid]

    def job_totals(self, jobs: list[Job], seen: set[int]) -> StageStats:
        """Summed stage stats of ``jobs``, each stage counted once overall
        (``seen`` carries the stage ids already counted)."""
        tot = StageStats(0.0, 0, 0, 0)
        for j in jobs:
            for sid in j.stages:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.stage(sid)
                if st is not None:
                    tot.run_s += st.run_s
                    tot.shuffle_write_b += st.shuffle_write_b
                    tot.output_b += st.output_b
                    tot.output_rows += st.output_rows
        return tot


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self.captured: dict[str, dict] = {}  # batch id -> DataFrames / args
        self._local = threading.local()
        self._lock = threading.Lock()
        self._current_batch: Span | None = None
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._current_batch
        sp = Span(
            name,
            time.time(),
            parent=parent.id if parent else None,
            batch=parent.batch if parent else None,
            thread=threading.get_ident(),
        )
        with self._lock:
            sp.id = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()

    # ---------------------------------------------------------- install
    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(sp)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _wrap_batch(self, owner, attr: str, batch_id_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            mark = tracer.store.last_job_id()
            sp = tracer._open("batch")
            sp.batch = batch_id_of(args, kwargs)
            tracer._current_batch = sp
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(sp)
                tracer._current_batch = None
            sp.attrs["skipped"] = bool(out.get("skipped"))
            tracer.jobs.extend(tracer.store.jobs(after=mark))
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _capture(self, key: str):
        def after(sp, args, kwargs, out):
            if sp.batch is None:
                return
            slot = self.captured.setdefault(sp.batch, {})
            slot[key] = out
            if key == "parse":
                slot["raw_chunks"] = slot.get("raw_chunks", False) or bool(kwargs.get("raw_chunks"))
            if key == "source":
                slot["salt"] = kwargs.get("salt_chunks")
            if key == "committed" and kwargs.get("reassemble") and slot.get("raw_chunks"):
                slot["fallback"] = True  # exchange-path retry after a fused attempt

        return after

    def install(self) -> None:
        from logminer_kafka_connect_spark import engine as engine_mod
        from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable
        from logminer_kafka_connect_spark.plans.lineage import LineageLog
        from logminer_kafka_connect_spark.streaming import driver as driver_mod

        D = driver_mod.ReplayDriver
        self._wrap(D, "plan_ranges", "driver.plan")
        self._wrap_batch(D, "process_range", lambda a, k: f"cdc-{a[2]}-{a[3]}")
        self._wrap_batch(
            D, "process_markers", lambda a, k: k.get("batch_id", a[3] if len(a) > 3 else None)
        )
        self._wrap(driver_mod, "consolidate", "consolidate", self._capture("committed"))
        self._wrap(driver_mod, "consolidate_with_markers", "consolidate", self._capture("committed"))
        self._wrap(driver_mod, "open_txn_watermark", "watermark")
        self._wrap(driver_mod, "parse_committed_typed", "parse", self._capture("parse"))
        self._wrap(driver_mod, "build_merge_source_typed", "fold", self._capture("source"))

        def merge_after(sp, args, kwargs, out):
            sp.attrs.update(applied=out.applied, buckets=out.affected_buckets, rows=out.source_rows)

        self._wrap(SnapshotTable, "merge", "merge", merge_after)
        self._wrap(SnapshotTable, "compact", "compact")

        def lookup_after(sp, args, kwargs, out):
            table = args[0]
            sp.attrs["files"] = len(out.inputFiles())
            sp.attrs["delta_depth"] = table.delta_depth()

        self._wrap(SnapshotTable, "read_for_keys", "lookup", lookup_after)
        self._wrap(LineageLog, "record_batch", "lineage")
        self._wrap(engine_mod, "load_snapshot", "snapshot")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------- lazy layers
    def decompose(self, batch_id: str) -> dict[str, float]:
        """Task time, shuffle bytes and rows of the consolidate, parse and
        fold layers of one finished batch: run each cumulative prefix of
        the DataFrames the driver built into the ``noop`` sink and take
        differences between consecutive prefixes."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        slot = self.captured.get(batch_id, {})
        out: dict[str, float] = {}
        prev = StageStats(0.0, 0, 0, 0)
        for layer, key in (("consolidate", "committed"), ("parse", "parse"), ("fold", "source")):
            df = slot.get(key)
            if df is None:
                raise RuntimeError(f"batch {batch_id}: driver built no {key} DataFrame")
            if layer == "parse":
                plan = df._jdf.queryExecution().executedPlan().treeString()
                out["parse.plan_nodes"] = float(sum(1 for ln in plan.splitlines() if ln.strip()))
            obs = Observation()
            mark = self.store.last_job_id()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            rows = int(obs.get["n"])
            tot = self.store.job_totals(self.store.jobs(after=mark), set())
            out[f"{layer}.task_s"] = max(0.0, tot.run_s - prev.run_s)
            out[f"{layer}.shuffle_write_b"] = max(0, tot.shuffle_write_b - prev.shuffle_write_b)
            out[f"{layer}.rows"] = float(rows)
            prev = tot
        return out

    # ---------------------------------------------------------- queries
    def batches(self) -> list[Span]:
        return [s for s in self.spans if s.name == "batch" and not s.attrs.get("skipped")]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs_in(self, start: float, end: float) -> list[Job]:
        # status-store times have millisecond resolution
        return [j for j in self.jobs if start - 0.002 <= j.submit <= end + 0.002]
