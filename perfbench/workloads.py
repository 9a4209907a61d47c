"""The benchmark's two workloads.

Each workload has a set-up (inputs that must exist before timing), a
warm-up, a measured window and correctness checks run outside the window.
A window returns a ``Window``: its rate, latencies and the per-layer
readings the traced run reports. A window's sample is one pass. The host
probe is read after each warm-up pass, before the first measured pass and
after each one, and the window's times are scaled by ``HostProbe.scale``.

- ``backfill`` (closed loop): a seeded backlog carried through
  blocks_ingest → logs_ingest → decoded_logs → decoded_logs_to_daily_parquet,
  pass after pass, each pass into fresh sinks. Every pipeline cuts the
  backlog into two batches. Rate: backlog blocks over the median pass
  time. Latency: the median over passes of the mean time from a batch's
  first stage-0 render to its commit.
- ``query_mix`` (closed loop, one client): ``MIX`` from
  ``__spark_entry__.queries()`` over seeded tables, pass after pass. Rate:
  queries over the sum of their median times. Latency: the geometric mean
  of the median times.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import uuid
from dataclasses import dataclass, field

from . import harness
from .chain import EVENTS, Chain, dictionary_rows

EXAMPLES = os.path.join(harness.ROOT, "examples")
BACKFILL = ("blocks_ingest", "logs_ingest", "decoded_logs",
            "decoded_logs_to_daily_parquet")
BACKFILL_BLOCKS = 200          # two batches of 100 blocks per ingest
BACKFILL_BLOCK_SECONDS = 3600  # 8.3 days: two batches of the daily export
# decoded_logs cuts 1000 blocks per batch in its example config; at 100 it
# too runs two batches of the backlog, so the sequencer has work everywhere
MAX_BATCH = {"decoded_logs": 100}
DAILY_DEFAULT_START = 18518    # decoded_logs_to_daily_parquet DefaultStart
STAGE_TEMPLATES = ("create_buffer", "write_to_sink", "delete_buffer",
                   "transform")
MIX = ("q1_pricing_summary", "q3_shipping_priority", "q5_supplier_volume",
       "sessionization", "json_typed_struct", "skew_salted_join",
       "winnow_dup_pairs")
# a cold pass of the mix takes about 4× a warm one and the next pass 2×;
# two warm-up passes start the window past the steepest part of that curve
MIX_WARMUP_PASSES = 2


@dataclass
class Window:
    rate: float = 0.0        # work units per second
    latency: float = 0.0     # seconds
    blocks: int = 0          # chain blocks the window's pipelines fetched
    seconds: float = 0.0
    latencies: list[float] = field(default_factory=list)   # samples
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    batches: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    summary: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(e).__name__}: {e}"[:300])


def _check(w: Window, what: str, got, want) -> bool:
    if got != want:
        w.errors.append(f"{what}: got {got}, want {want}")
        return False
    return True


class Ctx:
    """One benchmark process: session, scratch directory, seed, tracer,
    host probe, and the ``plans`` readings of the pipelines it ran."""

    def __init__(self, spark, work: str, seed: int, tracer: harness.Tracer,
                 host: harness.HostProbe):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.host = host
        self.reset_layers()

    def reset_layers(self) -> None:
        self.stage_totals: dict[str, list] = {}
        self.pipeline_walls: dict[str, float] = {}
        self.probes: list[harness.PipelineProbe] = []

    def fresh(self, prefix: str) -> tuple[str, str]:
        """A new sink table name and its directory."""
        name = f"{prefix}_{uuid.uuid4().hex[:10]}"
        return name, os.path.join(self.work, "sinks", name)

    def one(self, sql: str) -> tuple:
        return tuple(self.spark.sql(sql).collect()[0])

    def run(self, example: str, vars: dict, edit=None):
        """``run_pipeline`` on ``examples/<example>``; returns the result
        and the probe that watched it. Stage workers are capped at the
        core count, and batch sizes follow ``MAX_BATCH``."""
        from agnostic_blockchain_etl_spark.plans.config import PipelineConfig
        from agnostic_blockchain_etl_spark.plans.pipeline import run_pipeline
        tdir = os.path.join(EXAMPLES, example)
        # env={}: AGN_* variables (AGN_RPC_MOCK among them) must not
        # override the example's config
        conf = PipelineConfig.from_yaml(os.path.join(tdir, "pipeline.yaml"),
                                        env={})
        for step in conf.Steps:
            step.Workers = min(step.Workers, harness.cpus())
        conf.Batcher.MaxBatchSize = MAX_BATCH.get(
            example, conf.Batcher.MaxBatchSize)
        if edit is not None:
            edit(conf)
        stages = [s.Stage.Files for s in conf.Steps if s.Stage is not None]
        probe = harness.PipelineProbe(
            stages[0], stages[1][0] if len(stages) > 1 else None)
        executor, templates = harness.traced_engine(
            self.spark, tdir, self.tracer, probe)
        sc = self.spark.sparkContext
        stage_metrics: list = []
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"plans.pipeline.{example}", root=True):
                result = run_pipeline(
                    executor, templates, conf, vars, on_commit=probe.on_commit,
                    scheduler_hook=lambda pool: sc.setLocalProperty(
                        "spark.scheduler.pool", pool),
                    stage_metrics_out=stage_metrics)
        finally:
            self.probes.append(probe)
            self.pipeline_walls[example] = (self.pipeline_walls.get(
                example, 0.0) + time.perf_counter() - t0)
            for m in stage_metrics:
                for name, sm in m.items():
                    acc = self.stage_totals.setdefault(
                        name.removesuffix(".sql"), [0.0, 0])
                    acc[0] += sm.elapsed_s
                    acc[1] += sm.executions
        return result, probe

    def plans_layers(self) -> dict[str, float]:
        """``plans.*`` readings of every pipeline run since the last
        ``reset_layers``."""
        out: dict[str, float] = {}
        for t in STAGE_TEMPLATES:
            busy, n = self.stage_totals.get(t, (0.0, 0))
            out[f"plans.stage.{t}.busy_s"] = busy
            out[f"plans.stage.{t}.executions"] = n
        for ex in BACKFILL:
            out[f"plans.pipeline.{ex}.wall_s"] = self.pipeline_walls.get(
                ex, 0.0)
        for kind in ("exec", "select"):
            s, n = self.tracer.total(f"plans.executor.{kind}")
            out[f"plans.executor.{kind}_s"] = s
            out[f"plans.executor.{kind}_count"] = n
        out["plans.templates.render_s"] = self.tracer.total(
            "plans.templates.render")[0]
        polls = sum(len(p.tips) for p in self.probes)
        out["plans.tip_polls"] = polls
        out["plans.tip_advance_ratio"] = (
            sum(p.tip_advances() for p in self.probes) / polls if polls else 0)
        commits = [c for p in self.probes for c in p.commits]
        out["plans.batches"] = len(commits)
        out["plans.blocks_per_batch_mean"] = (
            sum(e - s + 1 for _, s, e in commits) / len(commits)
            if commits else 0)
        out["plans.commit_interval_p50_s"] = harness.median(
            [b[0] - a[0] for p in self.probes
             for a, b in zip(p.commits, p.commits[1:])])
        out["plans.batch.queue_wait_p50_s"] = harness.median(
            [x for p in self.probes for x in p.queue_waits()])
        return out


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------

class Backfill:
    name = "backfill"
    unused_layers = ("operators.",)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.chain = Chain(seed=ctx.seed, tip=BACKFILL_BLOCKS - 1,
                           bt=BACKFILL_BLOCK_SECONDS)
        self.last_pass: dict[str, str] = {}
        self.pre = Window()    # warm-up work and its replay check

    def setup(self) -> None:
        self.abi = os.path.join(self.ctx.work, "abi_dictionary.parquet")
        self.ctx.spark.createDataFrame(
            dictionary_rows(), "selector STRING, fullsigs ARRAY<STRING>"
        ).write.mode("overwrite").parquet(self.abi)

    def one_pass(self, chain: Chain, w: Window) -> None:
        """Carry ``chain`` through the four pipelines into fresh sinks."""
        sinks: dict[str, str] = {}
        source = None
        for ex in BACKFILL:
            table, path = self.ctx.fresh(ex.split("_")[0])
            vars = {"TARGET_PATH": path, "SINK_TABLE": table,
                    "RPC_ENDPOINT": chain.url(), "ABI_DICT_PATH": self.abi}
            if source is not None:
                vars["SOURCE_TABLE"] = source
            w.attempted += 1
            try:
                res, probe = self.ctx.run(ex, vars)
            except Exception as e:  # noqa: BLE001 — counted, then reported
                w.fail(ex, e)
                return
            w.batches += len(probe.commits)
            w.latencies += probe.batch_latencies()
            # a reused sink resumes past the backlog and silently does no
            # work, so every pipeline must start from its DefaultStart
            ok = _check(w, f"{ex} start", res.start,
                        DAILY_DEFAULT_START if ex == BACKFILL[-1] else 0)
            if ex in ("blocks_ingest", "logs_ingest"):
                ok &= _check(w, f"{ex} blocks committed", res.stats.items,
                             chain.tip + 1)
            w.failed += not ok
            sinks[ex] = source = table
        w.blocks += chain.tip + 1
        self.last_pass = sinks

    def warmup(self) -> None:
        """A pass over a chain of the backlog's shape, then the replay check
        on its blocks sink (the replay is one more blocks_ingest run). A
        shorter chain cuts one batch per pipeline and leaves the first
        measured pass a third slower than the next."""
        chain = Chain(seed=self.ctx.seed + 1, tip=BACKFILL_BLOCKS - 1,
                      bt=BACKFILL_BLOCK_SECONDS)
        self.one_pass(chain, self.pre)
        self.ctx.host.read()
        if "blocks_ingest" in self.last_pass:
            self.check_replay(chain, self.pre)

    def window(self, seconds: float) -> Window:
        w, walls, lats = Window(), [], []
        since = harness.cpu_ticks()
        self.ctx.host.read()
        t0 = time.perf_counter()
        while w.seconds < seconds:
            n = len(w.latencies)
            t = time.perf_counter()
            self.one_pass(self.chain, w)
            walls.append(time.perf_counter() - t)
            self.ctx.host.read()
            if len(w.latencies) > n:
                lats.append(statistics.fmean(w.latencies[n:]))
            w.seconds = time.perf_counter() - t0
        k = self.ctx.host.scale(since)
        raw_rate = (self.chain.tip + 1) / harness.median(walls)
        w.rate = raw_rate / k
        w.latency = harness.median(lats) * k
        w.summary.update(backfill_blocks_per_s=w.rate, passes=len(walls),
                         raw_blocks_per_s=raw_rate, scale=k,
                         pass_min_s=min(walls), pass_max_s=max(walls))
        return w

    def trace_layers(self, w: Window, calls: int) -> dict[str, float]:
        """``plans`` and ``functions`` readings of the traced window ``w``,
        in which the workers made ``calls`` numbered RPC calls."""
        out = self.ctx.plans_layers()
        out.update(harness.time_functions(self.chain))
        out["functions.rpc.calls_per_block"] = (
            calls / w.blocks if w.blocks else 0)
        return out

    def check(self, w: Window) -> None:
        """Sinks of the last pass against the chain model, plus the
        replay check made during warm-up."""
        w.attempted += self.pre.attempted
        w.failed += self.pre.failed
        w.errors += self.pre.errors
        w.layers.update(self.pre.layers)
        if len(self.last_pass) != len(BACKFILL):
            w.errors.append("no complete pass to check")
            return
        c, s, n = self.chain, self.last_pass, self.chain.tip + 1
        logs = [(b, i, c.log_kind(b, i)) for b in range(n)
                for i in range(c.log_count(b))]
        canon = {e[0]: e[1].replace("event ", "").replace(" indexed", "")
                 for e in EVENTS}
        want_sigs: dict[str, int] = {}
        for _, _, k in logs:
            if k != "unknown":
                want_sigs[canon[k]] = want_sigs.get(canon[k], 0) + 1
        ok = _check(w, "blocks sink", self.ctx.one(
            f"SELECT count(*), sum(number), sum(gas_used) "
            f"FROM {s['blocks_ingest']}"),
            (n, n * (n - 1) // 2, sum(c.gas_used(b) for b in range(n))))
        ok &= _check(w, "logs sink", self.ctx.one(
            f"SELECT count(*), sum(block_number * 64 + log_index) "
            f"FROM {s['logs_ingest']}"),
            (len(logs), sum(b * 64 + i for b, i, _ in logs)))
        ok &= _check(w, "decoded signatures", dict(self.ctx.spark.sql(
            f"SELECT signature, count(*) FROM {s['decoded_logs']} "
            f"GROUP BY signature").collect()), want_sigs)
        ok &= _check(w, "daily parquet rows", self.ctx.one(
            f"SELECT count(*) FROM {s['decoded_logs_to_daily_parquet']}")[0],
            sum(want_sigs.values()))
        w.failed += not ok

    def check_replay(self, chain: Chain, w: Window) -> None:
        """Replay the newer half of ``chain`` into the last pass's blocks
        sink: the Replacing read must still give one row per block."""
        from agnostic_blockchain_etl_spark.sources.replacing import \
            read_replacing
        spark, n = self.ctx.spark, chain.tip + 1
        table = self.last_pass["blocks_ingest"]
        replay = n // 2
        w.attempted += 1
        try:
            self.ctx.run("blocks_ingest", {
                "TARGET_PATH": os.path.join(self.ctx.work, "sinks", table),
                "SINK_TABLE": table, "RPC_ENDPOINT": chain.url()},
                edit=lambda conf: setattr(conf.Init, "ForceStart",
                                          n - replay))
        except Exception as e:  # noqa: BLE001
            w.fail("replay", e)
            return
        spark.catalog.refreshTable(table)
        ok = _check(w, "replayed raw rows", spark.table(table).count(),
                    n + replay)
        t0 = time.perf_counter()
        got = read_replacing(spark.table(table), ["number"]).count()
        w.layers["sources.replacing.read_s"] = time.perf_counter() - t0
        ok &= _check(w, "read_replacing rows", got, n)
        w.failed += not ok


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class QueryMix:
    name = "query_mix"
    unused_layers = ("plans.", "functions.", "sources.")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: dict[str, tuple[list, list]] = {}
        self.times: dict[str, list[float]] = {}

    def setup(self) -> None:
        import __spark_entry__

        from .tables import generate
        self.dir = os.path.join(self.ctx.work, "tables")
        generate(self.ctx.seed, self.dir)
        queries = __spark_entry__.queries()
        self.queries = {q: queries[q] for q in MIX}
        self.oracles = __spark_entry__.oracle_sql()

    def one_pass(self, w: Window) -> dict[str, float]:
        """Each query of the mix once; returns their wall times."""
        times = {}
        for q, fn in self.queries.items():
            w.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.ctx.tracer.span(f"operators.{q}"):
                    df = fn(self.ctx.spark, self.dir)
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001
                w.fail(q, e)
                continue
            times[q] = time.perf_counter() - t0
            self.results[q] = (df.columns, [tuple(r) for r in rows])
        return times

    def warmup(self) -> None:
        for _ in range(MIX_WARMUP_PASSES):
            self.one_pass(Window())
            self.ctx.host.read()

    def window(self, seconds: float) -> Window:
        self.times.clear()
        w = Window()
        since = harness.cpu_ticks()
        self.ctx.host.read()
        t0 = time.perf_counter()
        while w.seconds < seconds:
            for q, dt in self.one_pass(w).items():
                w.latencies.append(dt)
                self.times.setdefault(q, []).append(dt)
            self.ctx.host.read()
            w.seconds = time.perf_counter() - t0
        k = self.ctx.host.scale(since)
        w.summary["raw_query_mix_s"] = sum(
            harness.median(v) for v in self.times.values())
        w.summary["scale"] = k
        med = {q: harness.median(v) * k for q, v in self.times.items()}
        for q in MIX:
            w.layers[f"operators.{q}_s"] = med.get(q, 0.0)
        if med:
            w.rate = len(med) / sum(med.values())
            w.latency = math.exp(
                sum(math.log(v) for v in med.values()) / len(med))
            w.summary["query_mix_s"] = sum(med.values())
        return w

    def trace_layers(self, w: Window, calls: int) -> dict[str, float]:
        return {}    # the operators.* readings are in w.layers

    def check(self, w: Window) -> None:
        """Each query's last output against its DuckDB ``oracle_sql()``."""
        from tests.oracle_harness import duckdb_run, rows_signature
        for q, (cols, rows) in self.results.items():
            d_cols, d_rows = duckdb_run(self.oracles[q], self.dir)
            if (sorted(cols) != sorted(d_cols)
                    or rows_signature(cols, rows)
                    != rows_signature(d_cols, d_rows)):
                w.failed += 1
                w.errors.append(f"{q}: output differs from its DuckDB oracle")


WORKLOADS = {c.name: c for c in (Backfill, QueryMix)}
