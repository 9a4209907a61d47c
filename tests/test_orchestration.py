"""Orchestration tests with a fake executor — no JVM needed (SURVEY.md §5
item 4: batcher covers [start, tip] exactly once; sequencer orders any
permutation; init precedence; retrier shrink)."""

import queue
import re
import threading
import time

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.errors import AnalysisException

from agnostic_blockchain_etl_spark.plans.config import (BatcherConfig,
                                                        InitConfig,
                                                        PipelineConfig,
                                                        StageConfig,
                                                        TipTrackerConfig)
from agnostic_blockchain_etl_spark.plans.executor import (Executor,
                                                          QueryMetadata,
                                                          select_single_row,
                                                          split_statements)
from agnostic_blockchain_etl_spark.plans.pipeline import (
    _Ctx, is_memory_error, run_batcher, run_init, run_pipeline, run_sequencer,
    run_with_retry)
from agnostic_blockchain_etl_spark.plans.templates import TemplateSet
from agnostic_blockchain_etl_spark.plans.types import CLOSE, Batch


class FakeExecutor(Executor):
    """Scripted executor: maps regex → rows for select; records execs."""

    def __init__(self, selects=None):
        self.selects = selects or []
        self.execs = []
        self.lock = threading.Lock()

    def exec(self, sql):
        with self.lock:
            self.execs.append(sql)
        return QueryMetadata(rows=1)

    def select(self, sql):
        for pattern, rows in self.selects:
            if re.search(pattern, sql):
                return rows() if callable(rows) else rows
        raise RuntimeError(f"no fake select for {sql!r}")


def drain(q):
    """What a finished component left on ``q``, up to CLOSE if closed."""
    out = []
    while not q.empty():
        item = q.get_nowait()
        if item is CLOSE:
            break
        out.append(item)
    return out


def cut(start, tips, **batcher):
    """Batches ``run_batcher`` cuts from ``start`` while tip.sql answers
    ``tips`` in turn (one poll each, no wait between polls)."""
    answers = iter(tips)
    ex = FakeExecutor(selects=[(r"head", lambda: [{"tip": next(answers)}])])
    out = queue.Queue()
    run_batcher(_Ctx(), ex, _pipeline_templates(), {}, start, out,
                TipTrackerConfig(PollIntervalS=0, StopAfter=len(tips)),
                BatcherConfig(**batcher))
    return drain(out)


class TestBatcher:
    @given(start=st.integers(0, 1000), width=st.integers(1, 50),
           extra=st.integers(0, 500))
    @settings(max_examples=50, deadline=None)
    def test_covers_range_exactly_once(self, start, width, extra):
        tip = start + extra
        batches = cut(start, [tip], MaxBatchSize=width)
        covered = [c for b in batches for c in range(b.start, b.end + 1)]
        assert covered == list(range(start, tip + 1))
        assert all(b.items <= width for b in batches)
        assert [b.number for b in batches] == list(range(len(batches)))
        for b in batches:
            assert b.vars["START"] == b.start and b.vars["END"] == b.end

    def test_ignores_non_increasing_tips(self):
        batches = cut(0, [10, 10, 5, 12], MaxBatchSize=100)
        # [0,10] then [11,12] — duplicates/regressions produce nothing
        assert [(b.start, b.end) for b in batches] == [(0, 10), (11, 12)]

    def test_stop_after(self):
        assert len(cut(0, [100], MaxBatchSize=10, StopAfter=3)) == 3


class TestSequencer:
    @given(perm=st.permutations(list(range(12))))
    @settings(max_examples=50, deadline=None)
    def test_any_permutation_restored(self, perm):
        ctx = _Ctx()
        inq, out = queue.Queue(), queue.Queue()
        for n in perm:
            inq.put(Batch(number=n, start=n, end=n))
        inq.put(CLOSE)
        run_sequencer(ctx, inq, out)
        assert [b.number for b in drain(out)] == list(range(12))

    def test_gap_at_close_raises(self):
        ctx = _Ctx()
        inq, out = queue.Queue(), queue.Queue()
        inq.put(Batch(number=1, start=1, end=1))  # 0 never arrives
        inq.put(CLOSE)
        with pytest.raises(RuntimeError, match="out-of-order"):
            run_sequencer(ctx, inq, out)


class TestInit:
    def _templates(self, start_sql="select max(n)+1 as start from t"):
        return TemplateSet({"start.sql": start_sql, "setup.sql": "create x"})

    def test_precedence_force_start(self):
        ex = FakeExecutor()
        v = run_init(ex, self._templates(), {},
                     InitConfig(Setup=["setup.sql"], ForceStart=77))
        assert v == 77
        assert ex.execs == ["create x"]  # setup still runs

    def test_query_start(self):
        ex = FakeExecutor(selects=[(r"max\(n\)", [{"start": 42}])])
        assert run_init(ex, self._templates(), {}, InitConfig()) == 42

    def test_null_start_falls_back_to_default(self):
        ex = FakeExecutor(selects=[(r"max\(n\)", [{"start": None}])])
        assert run_init(ex, self._templates(), {},
                        InitConfig(DefaultStart=7)) == 7

    def test_missing_start_template_uses_default(self):
        ex = FakeExecutor()
        ts = TemplateSet({})
        assert run_init(ex, ts, {}, InitConfig(DefaultStart=3)) == 3


class TestSelectSingleRow:
    def test_errors_on_multiple_rows(self):
        ex = FakeExecutor(selects=[(r".", [{"a": 1}, {"a": 2}])])
        with pytest.raises(RuntimeError, match="exactly 1 row"):
            select_single_row(ex, "select a")


class TestSplitStatements:
    def test_split(self):
        assert split_statements("a; b;  ; c") == ["a", "b", "c"]

    def test_semicolon_in_string_literal(self):
        assert split_statements("select ';x'; select 2") == ["select ';x'", "select 2"]

    def test_comment(self):
        assert split_statements("select 1 -- trailing; not a split\n; select 2") == [
            "select 1 -- trailing; not a split", "select 2"]

    def test_bracketed_comment_hides_semicolon(self):
        assert split_statements("/* don't; */ select 1; select 2") == [
            "/* don't; */ select 1", "select 2"]

    def test_nested_bracketed_comments(self):
        """Spark SQL bracketed comments NEST; a ';' after an inner '*/'
        is still inside the outer comment (advice finding — the single
        find('*/') skip split there and corrupted both statements)."""
        sql = "select /* outer /* inner */ still; comment */ 1; select 2"
        assert split_statements(sql) == [
            "select /* outer /* inner */ still; comment */ 1", "select 2"]
        # unterminated nested comment consumes to EOF, no bogus split
        assert split_statements("select /* a /* b */ ; 1") == [
            "select /* a /* b */ ; 1"]

    def test_backquoted_identifier_hides_semicolon_and_quote(self):
        assert split_statements("SELECT 1 AS `a;b`; SELECT 2") == [
            "SELECT 1 AS `a;b`", "SELECT 2"]
        assert split_statements("SELECT 1 AS `it's`; SELECT 2") == [
            "SELECT 1 AS `it's`", "SELECT 2"]
        # a doubled backtick is a backtick inside the identifier
        assert split_statements("SELECT 1 AS `a``;b`; SELECT 2") == [
            "SELECT 1 AS `a``;b`", "SELECT 2"]

    def test_raw_string_has_no_backslash_escape(self):
        assert split_statements("SELECT r'a\\' AS x; SELECT 2") == [
            "SELECT r'a\\' AS x", "SELECT 2"]
        assert split_statements('SELECT R"a\\" AS x; SELECT 2') == [
            'SELECT R"a\\" AS x', "SELECT 2"]
        # an identifier ending in r is no raw prefix: \' escapes here
        assert split_statements("SELECT bar'a\\';x'; SELECT 2") == [
            "SELECT bar'a\\';x'", "SELECT 2"]


def _pipeline_conf(max_batch=10, tips=1, workers=4):
    return PipelineConfig.from_dict({
        "Batcher": {"MaxBatchSize": max_batch},
        "TipTracker": {"PollInterval": "10ms", "StopAfter": tips},
        "Steps": [
            {"Stage": {"Files": ["create_buffer.sql"]}, "Workers": workers},
            {"Sequencer": {}},
            {"Stage": {"Files": ["write_to_sink.sql", "delete_buffer.sql"]}},
        ],
    })


def _pipeline_templates():
    return TemplateSet({
        "start.sql": "select resume as start",
        "tip.sql": "select head as tip",
        "create_buffer.sql": "create buffer_{{.START}}_{{.END}}",
        "write_to_sink.sql": "insert from buffer_{{.START}}_{{.END}}",
        "delete_buffer.sql": "drop buffer_{{.START}}_{{.END}}",
    })


class TestPipelineEndToEnd:
    def test_full_dataflow_ordered_commit(self):
        ex = FakeExecutor(selects=[
            (r"resume", [{"start": 0}]),
            (r"head", [{"tip": 54}]),
        ])
        committed = []
        result = run_pipeline(ex, _pipeline_templates(), _pipeline_conf(),
                              on_commit=lambda b: committed.append(b.number))
        # 55 items in batches of 10 → 6 batches, committed in order
        assert committed == list(range(6))
        assert result.stats.items == 55
        assert result.stats.max_end == 54
        # every batch ran all three files exactly once
        buffers = [e for e in ex.execs if e.startswith("create buffer_")]
        assert len(buffers) == 6
        assert len([e for e in ex.execs if e.startswith("insert")]) == 6
        # write happens after its create for the same range
        for s, e_ in [(0, 9), (50, 54)]:
            assert ex.execs.index(f"create buffer_{s}_{e_}") < \
                ex.execs.index(f"insert from buffer_{s}_{e_}")

    def test_batcher_stop_after_terminates_without_tip_bound(self):
        """Review finding: Batcher.StopAfter WITHOUT TipTracker.StopAfter
        must still end the run. The loop returns after its third batch,
        which the first tip already gives, so tip.sql is polled once."""
        polls = []
        ex = FakeExecutor(selects=[
            (r"resume", [{"start": 0}]),
            # far more blocks than needed
            (r"head", lambda: polls.append(1) or [{"tip": 10_000}]),
        ])
        conf = PipelineConfig.from_dict({
            "Batcher": {"MaxBatchSize": 10, "StopAfter": 3},
            "TipTracker": {"PollInterval": "10ms"},   # NO StopAfter
            "Steps": [
                {"Stage": {"Files": ["create_buffer.sql"]}},
                {"Sequencer": {}},
                {"Stage": {"Files": ["write_to_sink.sql",
                                     "delete_buffer.sql"]}},
            ],
        })
        committed = []
        done = {}

        def run():
            done["result"] = run_pipeline(
                ex, _pipeline_templates(), conf,
                on_commit=lambda b: committed.append(b.number))

        import threading
        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=30)
        assert not t.is_alive(), "run_pipeline hung after Batcher.StopAfter"
        assert committed == [0, 1, 2]
        assert done["result"].stats.items == 30
        assert len(polls) == 1

    def test_stage_error_wakes_poll_wait(self):
        """With a 10 s PollInterval and no StopAfter, the loop sits in its
        poll wait after the first tip; a stage error must cancel that
        wait, so run_pipeline raises long before the next poll."""
        class Boom(FakeExecutor):
            def exec(self, sql):
                if sql.startswith("insert"):
                    raise RuntimeError("stage failure")
                return super().exec(sql)

        ex = Boom(selects=[(r"resume", [{"start": 0}]), (r"head", [{"tip": 5}])])
        conf = _pipeline_conf()
        conf.TipTracker.PollIntervalS = 10.0
        conf.TipTracker.StopAfter = None
        done = {}

        def run():
            t0 = time.monotonic()
            with pytest.raises(RuntimeError, match="stage failure"):
                run_pipeline(ex, _pipeline_templates(), conf)
            done["elapsed_s"] = time.monotonic() - t0

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=30)
        assert not t.is_alive(), "run_pipeline hung after a stage error"
        assert done["elapsed_s"] < 2.0

    def test_stage_error_cancels_pipeline(self):
        class Boom(FakeExecutor):
            def exec(self, sql):
                if "buffer_20_29" in sql:
                    raise RuntimeError("stage failure")
                return super().exec(sql)

        ex = Boom(selects=[(r"resume", [{"start": 0}]), (r"head", [{"tip": 99}])])
        with pytest.raises(RuntimeError, match="stage failure"):
            run_pipeline(ex, _pipeline_templates(), _pipeline_conf())

    def test_retrier_shrinks_on_oom(self):
        calls = {"n": 0}

        class OomOnce(FakeExecutor):
            def exec(self, sql):
                if sql.startswith("create buffer_") and calls["n"] == 0:
                    calls["n"] += 1
                    raise RuntimeError("java.lang.OutOfMemoryError: Java heap space")
                return super().exec(sql)

        ex = OomOnce(selects=[(r"resume", [{"start": 0}]), (r"head", [{"tip": 19}])])
        conf = _pipeline_conf(max_batch=20)
        result = run_with_retry(ex, _pipeline_templates(), conf)
        assert result.stats.items == 20
        # retry ran at 16 (20 × 0.8): first buffer covers only [0,15]
        assert any(e == "create buffer_0_15" for e in ex.execs)
        # the shrink is per-run state — caller's config is restored
        assert conf.Batcher.MaxBatchSize == 20

    def test_retrier_runs_analysis_error_once(self):
        """A broken query is not retried at smaller batch sizes, even when
        its message names a column like ``totalMemory``."""
        runs = []

        class Broken(FakeExecutor):
            def exec(self, sql):
                raise AnalysisException(UNRESOLVED_TOTAL_MEMORY)

        ex = Broken(selects=[
            (r"resume", lambda: runs.append(1) or [{"start": 0}]),
            (r"head", [{"tip": 5}])])
        with pytest.raises(AnalysisException, match="totalMemory"):
            run_with_retry(ex, _pipeline_templates(), _pipeline_conf())
        assert len(runs) == 1

    def test_retrier_propagates_non_oom(self):
        class Bad(FakeExecutor):
            def exec(self, sql):
                raise ValueError("syntax error")

        ex = Bad(selects=[(r"resume", [{"start": 0}]), (r"head", [{"tip": 5}])])
        with pytest.raises(ValueError, match="syntax error"):
            run_with_retry(ex, _pipeline_templates(), _pipeline_conf())


class TestMemoryErrorClassifier:
    def test_markers(self):
        assert is_memory_error(RuntimeError("MemoryLimitExceeded: would use 10GB"))
        assert is_memory_error(RuntimeError("java.lang.OutOfMemoryError"))
        assert is_memory_error(MemoryError())
        assert not is_memory_error(ValueError("bad sql"))

    def test_analysis_error_is_not_memory_error(self):
        assert not is_memory_error(AnalysisException(UNRESOLVED_TOTAL_MEMORY))

    def test_field_names_are_not_memory_errors(self):
        assert not is_memory_error(KeyError("totalMemory"))
        assert not is_memory_error(RuntimeError("gcOverheadMs exceeded"))
        assert is_memory_error(RuntimeError("Container ran out of memory"))


UNRESOLVED_TOTAL_MEMORY = (
    "[UNRESOLVED_COLUMN.WITH_SUGGESTION] A column with name `totalMemory` "
    "cannot be resolved.")


def test_cli_store_prune(tmp_path, capsys):
    """`store-prune` CLI: dry-run reports without deleting; the real
    run prunes deltas covered by the newest committed snapshot."""
    import json
    import os

    from agnostic_blockchain_etl_spark.plans.cli import main as cli_main
    from agnostic_blockchain_etl_spark.session import get_session
    spark = get_session(master="local[2]",
                        conf={"spark.sql.shuffle.partitions": "2"})
    store = str(tmp_path / "clistore")
    schema = "vec_id long, list_id int, e array<double>"
    for b in (0, 1, 2):
        spark.createDataFrame([(b, 1, [float(b)])], schema) \
            .write.mode("overwrite").parquet(f"{store}/batch_id={b}")
    spark.createDataFrame([(0, 1, [0.0]), (1, 1, [1.0])], schema) \
        .write.mode("overwrite").parquet(f"{store}_compact/upto=1")

    assert cli_main(["store-prune", store, "--dry-run"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["dry_run"] and rep["pruned_deltas"] == [0, 1]
    assert os.path.isdir(f"{store}/batch_id=0")   # nothing deleted

    assert cli_main(["store-prune", store]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not rep["dry_run"] and rep["pruned_deltas"] == [0, 1]
    assert not os.path.isdir(f"{store}/batch_id=0")
    assert os.path.isdir(f"{store}/batch_id=2")

    # checkpoint-guard refusal: exit 1 + one JSON line (scripts parse
    # it) — the dedicated PruneRefusedError path, not a traceback
    spark.createDataFrame([(2, 1, [2.0])], schema) \
        .write.mode("overwrite").parquet(f"{store}_compact/upto=2")
    ckpt = str(tmp_path / "cliout_ckpt")
    os.makedirs(f"{ckpt}/commits")
    open(f"{ckpt}/commits/0", "w").write("v1")   # behind upto=2
    assert cli_main(["store-prune", store, "--checkpoint", ckpt]) == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "behind the newest snapshot" in rep["error"]
    assert os.path.isdir(f"{store}/batch_id=2")   # refusal deleted nothing

    # store CORRUPTION is not a refusal: a malformed upto=<junk> dir
    # propagates (traceback), never a clean one-line 'error' JSON
    import pytest
    from agnostic_blockchain_etl_spark.streaming.dedup import (
        PruneRefusedError)
    os.makedirs(f"{store}_compact/upto=junk")
    with pytest.raises(ValueError) as exc_info:
        cli_main(["store-prune", store, "--checkpoint", ckpt])
    assert not isinstance(exc_info.value, PruneRefusedError)
