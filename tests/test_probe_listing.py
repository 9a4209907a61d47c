"""Tests for the startup probe, metrics endpoint, per-stage settings
application, and the metadata-only partition listing."""

import os
import sys
import urllib.request

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.plans.pipeline import StageMetrics
from agnostic_blockchain_etl_spark.plans.probe import (MetricsServer,
                                                       run_startup_probe,
                                                       stage_metrics_collector)
from agnostic_blockchain_etl_spark.sources.listing import (
    list_partition_files, partition_summary)


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    s = get_session(master="local[8]",
                    conf={"spark.sql.shuffle.partitions": "8"})
    yield s


class TestProbe:
    def test_ready_session_passes(self, spark):
        run_startup_probe(spark, max_delay_s=5)


class TestMetricsServer:
    def test_serves_prometheus_text(self):
        m = StageMetrics(executions=3, rows=42, elapsed_s=1.25)
        server = MetricsServer(port=19999)
        server.register(stage_metrics_collector([{"create_buffer.sql": m}]))
        server.start()
        try:
            body = urllib.request.urlopen(
                "http://127.0.0.1:19999/metrics", timeout=5).read().decode()
        finally:
            server.stop()
        assert 'query_executions_total{stage="0",file="create_buffer_sql"} 3' in body
        assert 'query_rows_total{stage="0",file="create_buffer_sql"} 42' in body


class TestStageSettings:
    @staticmethod
    def _run_stage(spark, settings):
        """Run a one-worker stage with ``settings`` over an empty input;
        returns the pipeline context, which holds any error."""
        import queue

        from agnostic_blockchain_etl_spark.plans.config import StageConfig
        from agnostic_blockchain_etl_spark.plans.executor import SparkExecutor
        from agnostic_blockchain_etl_spark.plans.pipeline import (
            _Ctx, run_stage_workers)
        from agnostic_blockchain_etl_spark.plans.templates import TemplateSet
        from agnostic_blockchain_etl_spark.plans.types import CLOSE

        ctx = _Ctx()
        inq, outq = queue.Queue(), queue.Queue(maxsize=10)
        inq.put(CLOSE)
        run_stage_workers(
            ctx, SparkExecutor(spark), TemplateSet({}), inq, outq,
            StageConfig(Files=[], Settings=settings), workers=1)
        return ctx

    def test_settings_applied_at_worker_start(self, spark):
        spark.conf.set("spark.sql.cbo.enabled", "false")
        self._run_stage(spark, {"spark.sql.cbo.enabled": "true"})
        assert spark.conf.get("spark.sql.cbo.enabled") == "true"

    def test_unmodifiable_confs_are_skipped(self, spark, tmp_path):
        """A static SQL conf and a Spark core conf cannot change after
        start: both are skipped, and the settings after them still apply."""
        spark.conf.set("spark.sql.cbo.enabled", "false")
        ctx = self._run_stage(spark, {
            "spark.sql.warehouse.dir": str(tmp_path),
            "spark.executor.memory": "3g",
            "spark.sql.cbo.enabled": "true"})
        assert ctx.error is None
        assert spark.conf.get("spark.sql.cbo.enabled") == "true"

    def test_invalid_value_fails_pipeline(self, spark):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        ctx = self._run_stage(spark, {"spark.sql.shuffle.partitions": "abc"})
        assert ctx.cancel.is_set()
        assert "INVALID_CONF_VALUE" in str(ctx.error)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before


class TestPartitionListing:
    def test_metadata_only_listing(self, spark, tmp_path):
        target = str(tmp_path / "part")
        df = spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02")],
            "id INT, date STRING")
        df.write.partitionBy("date").parquet(target)

        files = list_partition_files(spark, target)
        rows = files.collect()
        assert len(rows) >= 2
        assert all(r["partitions"]["date"].startswith("2024-01") for r in rows)

        n, max_date = partition_summary(spark, target, "date")
        assert n == len(rows)
        assert max_date == "2024-01-02"

    def test_missing_path_is_empty(self, spark, tmp_path):
        n, max_date = partition_summary(spark, str(tmp_path / "nope"), "date")
        assert n == 0 and max_date is None

    def test_ancestor_key_value_dirs_do_not_leak(self, spark, tmp_path):
        """Review finding: Hadoop echoes fully-qualified paths
        (file:/...), so the bare-path prefix strip never matched and
        key=value segments from ANCESTOR directories (env=prod) leaked
        into every row's partitions map."""
        base = tmp_path / "env=prod" / "events"
        spark.createDataFrame([(1, "2024-01-01")], "id INT, date STRING") \
            .write.partitionBy("date").parquet(str(base))
        rows = list_partition_files(spark, str(base)).collect()
        assert rows, "listing must see the files"
        for r in rows:
            assert "env" not in r["partitions"], r["partitions"]
            assert r["partitions"]["date"] == "2024-01-01"
