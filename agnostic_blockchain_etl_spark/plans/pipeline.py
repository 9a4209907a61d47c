"""Micro-batch pipeline orchestration (reference: internal/pipeline/*.go).

The reference assembles goroutines linked by bounded channels
(pipeline.go:64-149): TipTracker → Batcher → Steps (Stage xor Sequencer)
→ Finalizer. Here TipTracker and Batcher are one loop, ``run_batcher``:
it polls tip.sql and cuts the new range into batches itself, so no tip
queue or polling thread sits between them. The other components follow
the reference: each runs on a Python thread under ``_guarded`` (an error
in any cancels all), linked by bounded ``queue.Queue``s over a shared
(thread-safe) SparkSession.

Scale stance: intra-query parallelism belongs to Spark (partitions, AQE);
this layer adds *inter-batch* concurrency — N worker threads each driving
independent Spark jobs, sharing the cluster via FAIR scheduler pools —
plus in-order commit, which Spark does not provide across jobs.
"""

from __future__ import annotations

import heapq
import logging
import queue
import threading
import time
import uuid as uuidlib
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException

from .config import (BatcherConfig, InitConfig, PipelineConfig, StageConfig,
                     TipTrackerConfig)
from .executor import Executor, select_single_row
from .templates import TemplateSet
from .types import CLOSE, Batch

log = logging.getLogger("agnostic_blockchain_etl_spark.pipeline")


class PipelineCancelled(RuntimeError):
    pass


@dataclass
class _Ctx:
    """Shared cancellation context (the analog of errgroup + ctx cancel,
    pipeline.go:60-65)."""
    cancel: threading.Event = field(default_factory=threading.Event)
    error: BaseException | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def fail(self, e: BaseException) -> None:
        with self._lock:
            if self.error is None:
                self.error = e
        self.cancel.set()

    def check(self) -> None:
        if self.cancel.is_set():
            raise PipelineCancelled()


def _put(ctx: _Ctx, q: queue.Queue, item) -> None:
    """Bounded put that honors cancellation (backpressure parity with the
    reference's bounded channels, pipeline.go:66-67)."""
    while True:
        ctx.check()
        try:
            q.put(item, timeout=0.1)
            return
        except queue.Full:
            continue


def _get(ctx: _Ctx, q: queue.Queue):
    while True:
        ctx.check()
        try:
            return q.get(timeout=0.1)
        except queue.Empty:
            continue


def _guarded(ctx: _Ctx, fn, *args, out: queue.Queue | None = None) -> None:
    """Run the component ``fn(ctx, *args)``. Any error it raises cancels the
    whole pipeline; a normal return closes ``out`` (the analog of closing
    a Go channel), so the next component drains and ends."""
    try:
        fn(ctx, *args)
        if out is not None:
            _put(ctx, out, CLOSE)
    except PipelineCancelled:
        pass
    except BaseException as e:
        ctx.fail(e)


# ---------------------------------------------------------------------------
# Init (internal/pipeline/init.go:11-66)
# ---------------------------------------------------------------------------

def run_init(executor: Executor, templates: TemplateSet, vars: dict,
             conf: InitConfig) -> int:
    """Run setup DDL once, then resolve the resume cursor.

    Precedence (init.go:33-37,61-63): ForceStart > start.sql row > DefaultStart.
    """
    for name in conf.Setup:
        executor.exec(templates.render(name, vars))
    if conf.ForceStart is not None:
        return conf.ForceStart
    if conf.Start not in templates.templates:
        return conf.DefaultStart
    row = select_single_row(executor, templates.render(conf.Start, vars))
    start = row.get("start")
    if start is None:
        return conf.DefaultStart
    return int(start)


# ---------------------------------------------------------------------------
# TipTracker + Batcher (internal/pipeline/tip_tracker.go:32-96,
# batcher.go:24-94)
# ---------------------------------------------------------------------------

def run_batcher(ctx: _Ctx, executor: Executor, templates: TemplateSet,
                vars: dict, start: int, out: queue.Queue,
                tip_conf: TipTrackerConfig, conf: BatcherConfig) -> None:
    """Poll tip.sql every PollInterval and cut ``[cursor, tip]`` into
    ≤MaxBatchSize ranges with NUMBER/START/END vars (batcher.go:73-78).
    A non-increasing tip cuts nothing, since the cursor is already past
    it (batcher.go:55-57). Stops after TipTracker.StopAfter non-null tips
    or Batcher.StopAfter batches; a cancel wakes the poll wait."""
    number, cursor, tips = 0, start, 0
    while True:
        row = select_single_row(executor, templates.render(tip_conf.Tip, vars))
        if row.get("tip") is not None:
            tip = int(row["tip"])
            tips += 1
            while cursor <= tip:
                end = min(cursor + conf.MaxBatchSize - 1, tip)
                _put(ctx, out, Batch(number=number, start=cursor, end=end,
                                     vars={**vars, "NUMBER": number,
                                           "START": cursor, "END": end}))
                number += 1
                cursor = end + 1
                if conf.StopAfter is not None and number >= conf.StopAfter:
                    return
            if tip_conf.StopAfter is not None and tips >= tip_conf.StopAfter:
                return
        if ctx.cancel.wait(tip_conf.PollIntervalS):
            return


# ---------------------------------------------------------------------------
# Stage (internal/pipeline/stage.go:64-165)
# ---------------------------------------------------------------------------

@dataclass
class StageMetrics:
    """Per-file counters (stage.go:17-43)."""
    executions: int = 0
    rows: int = 0
    elapsed_s: float = 0.0


def run_stage_workers(ctx: _Ctx, executor: Executor, templates: TemplateSet,
                      inq: queue.Queue, out: queue.Queue, conf: StageConfig,
                      workers: int, pool_name: str = "stage",
                      metrics: dict[str, StageMetrics] | None = None,
                      scheduler_hook=None) -> None:
    """N worker threads sharing in/out queues (pipeline.go:100-143). Each
    renders + executes the stage's file list per batch in order
    (stage.go:101-106). Returns when every worker has."""
    metrics = metrics if metrics is not None else {}
    lock = threading.Lock()

    def worker(ctx: _Ctx) -> None:
        if scheduler_hook:
            scheduler_hook(pool_name)  # set FAIR pool for this thread's jobs
        if conf.Settings:
            executor.apply_settings(conf.Settings)  # stage.go:88-90 parity
        while (batch := _get(ctx, inq)) is not CLOSE:
            for name in conf.Files:
                t0 = time.monotonic()
                md = executor.exec(templates.render(name, batch.vars))
                with lock:
                    m = metrics.setdefault(name, StageMetrics())
                    m.executions += 1
                    m.rows += md.rows
                    m.elapsed_s += time.monotonic() - t0
            _put(ctx, out, batch)
        # Go's closed channel wakes every receiver; our sentinel is
        # consumed — re-enqueue it for sibling workers.
        _put(ctx, inq, CLOSE)

    threads = [threading.Thread(target=_guarded, args=(ctx, worker),
                                name=f"{pool_name}-w{i}", daemon=True)
               for i in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# ---------------------------------------------------------------------------
# Sequencer (internal/pipeline/sequencer.go:24-84)
# ---------------------------------------------------------------------------

def run_sequencer(ctx: _Ctx, inq: queue.Queue, out: queue.Queue) -> None:
    """Restore total order: hold out-of-order batches in a min-heap and
    emit while its head is the next expected number (sequencer.go:52-80).
    A batch still held at close means one was lost upstream."""
    held: list[Batch] = []
    next_number = 0
    while (batch := _get(ctx, inq)) is not CLOSE:
        heapq.heappush(held, batch)
        while held and held[0].number == next_number:
            _put(ctx, out, heapq.heappop(held))
            next_number += 1
    if held:
        raise RuntimeError(
            f"sequencer closed with {len(held)} out-of-order batches "
            f"buffered (next expected {next_number})")


# ---------------------------------------------------------------------------
# Finalizer (internal/pipeline/finalizer.go:28-70)
# ---------------------------------------------------------------------------

@dataclass
class FinalizerStats:
    items: int = 0
    batches: int = 0
    max_end: int = 0
    started_at: float = field(default_factory=time.monotonic)

    @property
    def items_per_s(self) -> float:
        dt = time.monotonic() - self.started_at
        return self.items / dt if dt > 0 else 0.0


def run_finalizer(ctx: _Ctx, inq: queue.Queue, stats: FinalizerStats,
                  on_commit=None) -> None:
    """Terminal consumer: count items ``(end-start)+1``, track maxEnd, log
    throughput (finalizer.go:53-67); ``on_commit(batch)`` is the commit
    hook (cursor checkpoint, temp-view cleanup)."""
    while (batch := _get(ctx, inq)) is not CLOSE:
        if on_commit is not None:
            on_commit(batch)
        stats.items += batch.items
        stats.batches += 1
        stats.max_end = max(stats.max_end, batch.end)
        log.info("finalized batch %d [%d,%d] — %.1f items/s",
                 batch.number, batch.start, batch.end, stats.items_per_s)


# ---------------------------------------------------------------------------
# Pipeline assembly (internal/pipeline/pipeline.go:18-152)
# ---------------------------------------------------------------------------

@dataclass
class PipelineResult:
    stats: FinalizerStats
    start: int


def run_pipeline(executor: Executor, templates: TemplateSet,
                 conf: PipelineConfig, vars: dict | None = None,
                 on_commit=None, scheduler_hook=None,
                 stage_metrics_out: list | None = None) -> PipelineResult:
    """Assemble and run the full dataflow; blocks until the stream closes
    (StopAfter bounds) or a component errors (error cancels all, parity
    with the errgroup at pipeline.go:60-65).

    ``stage_metrics_out``: pass a LIVE list and the per-stage metric
    dicts are appended to it as the stages spawn, so a metrics endpoint
    registered BEFORE the (blocking) run can serve real counters during
    it — the counters mutate in place (review finding: the CLI's
    --metrics-port served an empty body for the whole run because
    nothing could reach these dicts until the run returned)."""
    run_vars = {**conf.Vars, **(vars or {}),
                "UUID": str(uuidlib.uuid4())}  # pipeline.go:48-54
    start = run_init(executor, templates, run_vars, conf.Init)

    ctx = _Ctx()
    threads: list[threading.Thread] = []

    def spawn(name: str, fn, *args, out: queue.Queue | None = None) -> None:
        t = threading.Thread(target=_guarded, args=(ctx, fn, *args),
                             kwargs={"out": out}, name=name, daemon=True)
        threads.append(t)
        t.start()

    batch_q: queue.Queue = queue.Queue(maxsize=3)  # pipeline.go:67
    spawn("batcher", run_batcher, executor, templates, run_vars, start,
          batch_q, conf.TipTracker, conf.Batcher, out=batch_q)

    if stage_metrics_out is not None:
        stage_metrics_out.clear()   # a retry re-run must not duplicate
    inq = batch_q
    for i, step in enumerate(conf.Steps):
        outq: queue.Queue = queue.Queue(maxsize=step.ChanSize)
        if step.Sequencer is not None:
            spawn(f"sequencer-{i}", run_sequencer, inq, outq, out=outq)
        else:
            m: dict[str, StageMetrics] = {}
            if stage_metrics_out is not None:
                stage_metrics_out.append(m)
            spawn(f"stage-{i}", run_stage_workers, executor, templates, inq,
                  outq, step.Stage, step.Workers, f"stage-{i}", m,
                  scheduler_hook, out=outq)
        inq = outq

    stats = FinalizerStats()
    spawn("finalizer", run_finalizer, inq, stats, on_commit)

    for t in threads:
        t.join()
    if ctx.error is not None:
        raise ctx.error
    return PipelineResult(stats=stats, start=start)


# ---------------------------------------------------------------------------
# Retrier (internal/pipeline_retrier/pipeline_retrier.go:16-64)
# ---------------------------------------------------------------------------

_OOM_MARKERS = ("outofmemory", "out of memory", "memory limit",
                "memorylimitexceeded", "total memory", "java heap space",
                "gc overhead")


def is_memory_error(e: BaseException) -> bool:
    """Memory errors are retried at a smaller batch size. A Spark analysis
    or parse error (``ParseException`` is an ``AnalysisException``) is a
    broken query, never a memory error, even when it names a column like
    ``totalMemory``. The markers match the message as written, spaces
    included, so a field name such as ``totalMemory`` or ``gcOverheadMs``
    in any other error does not count either."""
    if isinstance(e, AnalysisException):
        return False
    s = str(e).lower()
    return isinstance(e, MemoryError) or any(m in s for m in _OOM_MARKERS)


def run_with_retry(executor: Executor, templates: TemplateSet,
                   conf: PipelineConfig, vars: dict | None = None,
                   on_commit=None, scheduler_hook=None,
                   stage_metrics_out: list | None = None) -> PipelineResult:
    """Re-run the whole pipeline with MaxBatchSize × multiplier on memory
    errors (pipeline_retrier.go:47-58); other errors propagate. Safe because
    sinks are replay-idempotent (range-keyed writes, SURVEY.md §7.2)."""
    original = conf.Batcher.MaxBatchSize
    batch_size = float(original)
    try:
        for attempt in range(conf.Retry.MaxRetries + 1):
            conf.Batcher.MaxBatchSize = max(1, int(batch_size))
            try:
                return run_pipeline(executor, templates, conf, vars,
                                    on_commit, scheduler_hook,
                                    stage_metrics_out)
            except BaseException as e:
                if not is_memory_error(e) or attempt == conf.Retry.MaxRetries:
                    raise
                batch_size *= conf.Retry.MaxBatchSizeMultiplier
                log.warning("memory error (%s); retrying with MaxBatchSize=%d",
                            e, max(1, int(batch_size)))
        raise AssertionError("unreachable")
    finally:
        # the shrink is per-run state, not a lasting config edit
        conf.Batcher.MaxBatchSize = original
