"""Session set-up, tracing and Spark counters for the benchmark.

Everything here wraps the engine from outside: the traced executor and
template set subclass the public ``SparkExecutor`` and ``TemplateSet``,
and Spark's own counters come from its REST API, which only the traced
run enables.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit; must run
    before the session starts."""
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["AGN_RPC_MOCK"] = "perfbench.chain:transport"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_session(work: str, traced: bool):
    """``get_session`` on ``local[nproc]`` with a heap sized for a 15 GB
    host, all scratch space inside ``work``; the traced run turns on the
    UI so its REST API can serve task counters."""
    from agnostic_blockchain_etl_spark.session import get_session
    n = cpus()
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": "3g",
        "spark.sql.shuffle.partitions": str(n),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_session(master=f"local[{n}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: (id, name, start, end, parent, batch START).

    Disabled, ``span`` costs one attribute test. Spans opened on a thread
    with no open span take the innermost ``root`` span as parent, so the
    pipeline's worker threads still hang under their pipeline."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.root: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = iter(range(1, 1 << 62))

    @contextmanager
    def span(self, name: str, batch=None, root: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        outer_root = self.root
        if root:
            self.root = sid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if root:
                self.root = outer_root
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, batch))

    def total(self, name: str) -> tuple[float, int]:
        """Summed duration and count of the spans called ``name``."""
        d = [s[3] - s[2] for s in self.spans if s[1] == name]
        return sum(d), len(d)

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "batch")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


class PipelineProbe:
    """What one ``run_pipeline`` call did, seen through its executor,
    templates and commit hook."""

    def __init__(self, stage0_files: list[str], stage1_first: str | None):
        self.stage0_first = stage0_files[0] if stage0_files else None
        self.stage0_last = stage0_files[-1] if stage0_files else None
        self.stage1_first = stage1_first
        self.stage0_start: dict = {}
        self.stage0_end: dict = {}
        self.stage1_start: dict = {}
        self.tips: list[int] = []
        self.commits: list[tuple[float, int, int]] = []   # (time, start, end)
        self.lock = threading.Lock()

    def on_render(self, name: str, start) -> None:
        if name in (self.stage0_first, self.stage1_first):
            first = (self.stage0_start if name == self.stage0_first
                     else self.stage1_start)
            with self.lock:
                first.setdefault(start, time.perf_counter())

    def on_exec_end(self, name: str, start) -> None:
        if name == self.stage0_last:
            with self.lock:
                self.stage0_end[start] = time.perf_counter()

    def on_commit(self, batch) -> None:
        self.commits.append((time.perf_counter(), batch.start, batch.end))

    def batch_latencies(self) -> list[float]:
        """Per committed batch: from its first stage-0 render to its
        commit."""
        return [t - self.stage0_start[s] for t, s, _ in self.commits
                if s in self.stage0_start]

    def queue_waits(self) -> list[float]:
        return [self.stage1_start[k] - t for k, t in self.stage0_end.items()
                if k in self.stage1_start]

    def tip_advances(self) -> int:
        best, n = None, 0
        for t in self.tips:
            if best is None or t > best:
                n, best = n + 1, t
        return n


def traced_engine(spark, templates_dir: str, tracer: Tracer,
                  probe: PipelineProbe):
    """A ``SparkExecutor`` and ``TemplateSet`` that record spans and feed
    ``probe``; the render on a thread names the SQL its next exec runs."""
    from agnostic_blockchain_etl_spark.plans.executor import SparkExecutor
    from agnostic_blockchain_etl_spark.plans.templates import TemplateSet

    tls = threading.local()

    class Templates(TemplateSet):
        def render(self, name, vars):
            start = vars.get("START")
            tls.current = (name, start)
            probe.on_render(name, start)
            with tracer.span("plans.templates.render", start):
                return super().render(name, vars)

    class Executor(SparkExecutor):
        def exec(self, sql):
            name, start = getattr(tls, "current", (None, None))
            with tracer.span("plans.executor.exec", start):
                md = super().exec(sql)
            probe.on_exec_end(name, start)
            return md

        def select(self, sql):
            name, start = getattr(tls, "current", (None, None))
            with tracer.span("plans.executor.select", start):
                rows = super().select(sql)
            if name == "tip.sql" and rows and rows[0].get("tip") is not None:
                with probe.lock:
                    probe.tips.append(int(rows[0]["tip"]))
            return rows

    loaded = TemplateSet.load(templates_dir)
    return Executor(spark), Templates(loaded.templates)


# ---------------------------------------------------------------------------
# Spark counters (REST API of the traced session)
# ---------------------------------------------------------------------------

def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_counters(spark) -> dict[str, float]:
    """Cumulative job/task counters of the session so far."""
    stages = _rest(spark, "stages?status=complete") + _rest(
        spark, "stages?status=failed")
    execs = _rest(spark, "allexecutors")
    return {
        "jobs": len(_rest(spark, "jobs")),
        "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                     for s in stages),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                   for s in stages),
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                           + s.get("diskBytesSpilled", 0) for s in stages),
        "gc_s": sum(e.get("totalGCTime", 0) for e in execs) / 1e3,
        "executor_run_s": sum(s.get("executorRunTime", 0)
                              for s in stages) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0)
                              for s in stages) / 1e9,
    }


def wait_idle(spark) -> None:
    """Wait, for up to 30 s, until the REST API has seen every job finish,
    so counter snapshots do not split a job."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not _rest(spark, "jobs?status=running"):
            return
        time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


# ---------------------------------------------------------------------------
# Kernel micro-timings (driver side, on a sample of the workload's inputs)
# ---------------------------------------------------------------------------

FUNCTION_SAMPLE = 200          # blocks of the workload's chain per timing


def time_functions(chain) -> dict[str, float]:
    """Mean µs per call of the kernels the ingest SQL runs, over the first
    ``FUNCTION_SAMPLE`` blocks of ``chain``."""
    from agnostic_blockchain_etl_spark.functions import abi, hex as hexmod
    from agnostic_blockchain_etl_spark.functions.rpc import ethereum_rpc

    from .chain import dictionary_rows
    url = chain.url()
    sigs = {sel: f for sel, f in dictionary_rows()}
    blocks = [min(n, chain.tip) for n in range(FUNCTION_SAMPLE)]

    t0 = time.perf_counter()
    raws = [ethereum_rpc("eth_getBlockByNumber", [hex(n), "false"], url)
            for n in blocks]
    raws += [ethereum_rpc("eth_getBlockReceipts", [hex(n)], url)
             for n in blocks]
    rpc_us = (time.perf_counter() - t0) * 1e6 / len(raws)

    docs = [json.loads(r)["value"] for r in raws[:len(blocks)]]
    ints = [d[k] for d in docs for k in ("timestamp", "number", "gasLimit",
                                         "gasUsed", "size")]
    byts = [d[k] for d in docs for k in ("hash", "parentHash", "miner",
                                         "extraData")]
    logs = [lg for r in raws[len(blocks):] for rc in json.loads(r)["value"]
            for lg in rc["logs"]]

    t0 = time.perf_counter()
    for s in ints:
        hexmod.evm_hex_decode_int(s, "UInt64")
    int_us = (time.perf_counter() - t0) * 1e6 / len(ints)
    t0 = time.perf_counter()
    for s in byts:
        hexmod.evm_hex_decode(s)
    bytes_us = (time.perf_counter() - t0) * 1e6 / len(byts)
    args = [([hexmod.evm_hex_decode(t) for t in lg["topics"]],
             hexmod.evm_hex_decode(lg["data"]),
             sigs.get(lg["topics"][0], [])) for lg in logs]
    t0 = time.perf_counter()
    for topics, data, fullsigs in args:
        abi.evm_decode_event(topics, data, fullsigs)
    abi_us = (time.perf_counter() - t0) * 1e6 / max(1, len(args))
    return {"functions.rpc.ethereum_rpc_us": rpc_us,
            "functions.hex.evm_hex_decode_int_us": int_us,
            "functions.hex.evm_hex_decode_us": bytes_us,
            "functions.abi.evm_decode_event_us": abi_us}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Host speed
# ---------------------------------------------------------------------------

PROBE_LOOPS = 400_000   # one probe task; ~37 ms on a quiet 4-vCPU Xeon VM
PROBE_REF_S = 0.037     # a probe's wall time there: the speed times scale to


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return x


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine so far, from
    ``/proc/stat``; stolen ticks are those the hypervisor gave to others
    while a vCPU had work. (0, 0) where the file is missing."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    t += [0] * (8 - len(t))
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class HostProbe:
    """How fast the shared host runs right now.

    A probe runs one fixed CPU task on every core at once and times the
    whole; ``read`` is the fastest of five probes, since work left in the
    JVM (GC, JIT) can only slow a probe down. Read around set-up, after
    warm-up passes and before and after each measured pass, while Spark
    is idle, the readings give a phase its ``scale``: the factor that
    turns its wall times into the times they would have taken on the
    quiet host ``PROBE_REF_S`` came from. Neighbours that lower clocks or
    contend for caches and shared cores slow the probe and the workload
    together, and the time they steal outright is counted by the kernel,
    so scaled times move with the program rather than with the host.

    The pool is forked before the JVM starts; ``close`` waits for it."""

    def __init__(self):
        import multiprocessing
        self.n = cpus()
        self.pool = multiprocessing.get_context("fork").Pool(self.n)
        self.readings: list[float] = []

    def read(self) -> float:
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.pool.map(_spin, [PROBE_LOOPS] * self.n, chunksize=1)
            runs.append(time.perf_counter() - t0)
        self.readings.append(min(runs))
        return self.readings[-1]

    def scale(self, since: tuple[int, int]) -> float:
        """Factor for a phase that began at ``cpu_ticks()`` reading
        ``since``. The host's speed is the median of every reading this run
        took: over a run it drifts less than one reading scatters. The
        fastest of five probes dodges short steals, so the share of busy
        time the hypervisor stole during the phase is taken out as well."""
        busy, stolen = (b - a for a, b in zip(since, cpu_ticks()))
        kept = 1 - stolen / (busy + stolen) if busy + stolen > 0 else 1.0
        return PROBE_REF_S / statistics.median(self.readings) * kept

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()
