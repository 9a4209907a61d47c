"""Unit tests for sources: refreshable dictionary, Replacing reads,
daily-partitioned writes."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.sources.dictionary import (
    RefreshableDictionary)
from agnostic_blockchain_etl_spark.sources.replacing import (
    read_replacing, write_daily_partitioned)


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    s = get_session(master="local[8]",
                    conf={"spark.sql.shuffle.partitions": "8"})
    yield s


class TestRefreshableDictionary:
    def test_lookup_and_ttl_refresh(self, spark):
        loads = {"n": 0}

        def loader(s):
            loads["n"] += 1
            return s.createDataFrame(
                [("a", loads["n"] * 10), ("b", loads["n"] * 20)],
                "k STRING, v INT")

        d = RefreshableDictionary(spark, loader, key_col="k",
                                  lifetime_min_s=1000, lifetime_max_s=1000)
        base = spark.createDataFrame([("a",), ("b",), ("c",)], "k STRING")
        out = d.dict_get(base, "v", F.col("k")).orderBy("k").collect()
        assert [(r["k"], r["v"]) for r in out] == [("a", 10), ("b", 20), ("c", None)]
        d.dict_get(base, "v", F.col("k")).collect()
        assert loads["n"] == 1  # cached within TTL

        d._expires_at = 0  # force expiry
        out2 = d.dict_get(base, "v", F.col("k")).orderBy("k").collect()
        assert loads["n"] == 2
        assert out2[0]["v"] == 20  # refreshed values

    def test_broadcast_plan(self, spark):
        d = RefreshableDictionary(
            spark, lambda s: s.createDataFrame([("x", 1)], "k STRING, v INT"),
            key_col="k")
        base = spark.createDataFrame([("x",)], "k STRING")
        plan = d.dict_get(base, "v", F.col("k"))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestReplacing:
    def test_distinct_replay(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (1, "a")], "k INT, payload STRING")
        out = read_replacing(df, keys=["k"])
        assert out.count() == 2

    def test_one_row_per_key_when_rows_differ(self, spark):
        """Without a version column two different rows of one key (a
        block ingested again after a reorg) still give one row: the
        greatest of the non-key columns."""
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "k INT, payload STRING")
        out = read_replacing(df, keys=["k"])
        assert out.schema == df.schema
        assert sorted(out.collect()) == [(1, "b"), (2, "c")]

    def test_versioned_latest(self, spark):
        df = spark.createDataFrame(
            [(1, 1, "old"), (1, 2, "new"), (2, 1, "only")],
            "k INT, version INT, payload STRING")
        out = {r["k"]: r["payload"]
               for r in read_replacing(df, ["k"], "version").collect()}
        assert out == {1: "new", 2: "only"}


class TestDailyPartitionedWrite:
    def test_layout_and_dynamic_overwrite(self, spark, tmp_path):
        target = str(tmp_path / "daily")
        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 11:00:00")],
            "id INT, ts STRING").withColumn("ts", F.col("ts").cast("timestamp"))
        write_daily_partitioned(df, target, "ts")
        dirs = sorted(d for d in os.listdir(target) if d.startswith("date="))
        assert dirs == ["date=2024-01-01", "date=2024-01-02"]

        # replay one day: only that partition is replaced (dynamic mode)
        df2 = spark.createDataFrame(
            [(99, "2024-01-02 12:00:00")], "id INT, ts STRING") \
            .withColumn("ts", F.col("ts").cast("timestamp"))
        write_daily_partitioned(df2, target, "ts")
        back = spark.read.parquet(target)
        assert {r["id"] for r in back.collect()} == {1, 99}


class TestJdbcRemote:
    """Live JDBC round-trip against the Derby engine embedded in the Spark
    distribution — the remote() proxy-table path (reference
    examples/ethereum_blocks/create_remote_table.sql:1-7) exercised
    against a real database, not just by construction."""

    DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

    def test_write_read_roundtrip_and_partitioned_scan(self, spark, tmp_path):
        from agnostic_blockchain_etl_spark.sources.jdbc import (
            register_remote_table, remote_table, write_remote_table)

        url = f"jdbc:derby:{tmp_path}/remotedb;create=true"
        src = spark.range(0, 100).selectExpr(
            "id AS n", "CAST(id * 7 AS DOUBLE) AS val")
        write_remote_table(src, url, "metrics", mode="overwrite",
                           driver=self.DRIVER)

        back = remote_table(spark, url, "metrics", driver=self.DRIVER)
        assert back.count() == 100
        assert {f.name for f in back.schema.fields} == {"n", "val"}

        # partitioned read: 4 parallel range-predicated cursors, same rows
        part = remote_table(spark, url, "metrics", partition_column="n",
                            lower_bound=0, upper_bound=100, num_partitions=4,
                            driver=self.DRIVER)
        assert part.rdd.getNumPartitions() == 4
        assert part.count() == 100
        assert part.agg(F.sum("val")).collect()[0][0] == sum(i * 7 for i in range(100))

        # view registration: templated SQL addresses the proxy like a table
        register_remote_table(spark, "remote_metrics", url, "metrics",
                              driver=self.DRIVER)
        assert spark.sql(
            "SELECT count(*) c FROM remote_metrics WHERE n >= 50"
        ).collect()[0]["c"] == 50


class TestCompactReplacing:
    def test_compaction_materializes_dedup(self, spark, tmp_path):
        """OPTIMIZE FINAL analog: after replayed appends create physical
        duplicates, compaction rewrites the table so plain reads see the
        deduped state — identical to what read_replacing showed before."""
        from agnostic_blockchain_etl_spark.sources.replacing import (
            compact_replacing, read_replacing)
        path = str(tmp_path / "sink")
        rows = [(1, "a", 1), (2, "b", 1)]
        replay = [(1, "a2", 2), (2, "b", 1)]      # key 1 re-ingested, v2
        schema = "k long, payload string, v long"
        spark.createDataFrame(rows, schema).write.parquet(path)
        spark.createDataFrame(replay, schema).write.mode("append") \
            .parquet(path)

        before = read_replacing(spark.read.parquet(path), ["k"], "v") \
            .collect()
        n = compact_replacing(spark, path, ["k"], "v")
        assert n == 2
        after = spark.read.parquet(path).collect()   # PLAIN read, no dedup
        assert sorted((r["k"], r["payload"], r["v"]) for r in after) == \
            sorted((r["k"], r["payload"], r["v"]) for r in before)
        assert {r["payload"] for r in after} == {"a2", "b"}  # v2 won

    def test_crash_between_renames_heals_on_next_call(self, spark,
                                                      tmp_path):
        """Review finding: a crash between the two swap renames left no
        table at `path` (it sat at .compact_old) and nothing ever
        recovered it. The next compact_replacing call must heal first:
        old present + main missing → rename back, then compact."""
        import os
        import shutil
        from agnostic_blockchain_etl_spark.sources.replacing import (
            compact_replacing)
        path = str(tmp_path / "csink")
        schema = "k long, payload string, v long"
        spark.createDataFrame([(1, "a", 1), (1, "a2", 2)], schema) \
            .write.parquet(path)
        # simulate the crash window: table moved aside, main missing
        os.rename(path, path + ".compact_old")
        assert not os.path.exists(path)
        n = compact_replacing(spark, path, ["k"], "v")
        assert n == 1
        got = spark.read.parquet(path).collect()
        assert [(r["k"], r["payload"]) for r in got] == [(1, "a2")]
        assert not os.path.exists(path + ".compact_old")
        # stale old NEXT TO a live main is dropped, main untouched
        shutil.copytree(path, path + ".compact_old")
        n = compact_replacing(spark, path, ["k"], "v")
        assert n == 1 and not os.path.exists(path + ".compact_old")

    def test_partitioned_compaction_keeps_layout(self, spark, tmp_path):
        from agnostic_blockchain_etl_spark.sources.replacing import (
            compact_replacing)
        import os
        path = str(tmp_path / "psink")
        schema = "k long, day string, v long"
        spark.createDataFrame(
            [(1, "2024-01-01", 1), (1, "2024-01-01", 2),
             (2, "2024-01-02", 1)], schema) \
            .write.partitionBy("day").parquet(path)
        n = compact_replacing(spark, path, ["k", "day"], "v",
                              partition_cols=["day"])
        assert n == 2
        assert sorted(d for d in os.listdir(path) if d.startswith("day=")) \
            == ["day=2024-01-01", "day=2024-01-02"]
        # partition type inference reads day= values back as DATE
        got = {(r["k"], str(r["day"])): r["v"]
               for r in spark.read.parquet(path).collect()}
        assert got[(1, "2024-01-01")] == 2
