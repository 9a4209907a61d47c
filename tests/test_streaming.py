"""Structured Streaming tests: file-source micro-batches through a
watermarked windowed aggregation, checked against the identical batch
plan (the unified batch/stream model), and exactly-once restarts."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.streaming.windows import windowed_counts


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    s = get_session(master="local[8]",
                    conf={"spark.sql.shuffle.partitions": "8"})
    yield s


class TestWindowedStream:
    def test_stream_matches_batch(self, spark, tmp_path):
        src = str(tmp_path / "stream_src")
        os.makedirs(src)
        # events with event-time timestamps, written as two file batches
        batch1 = spark.range(0, 500).select(
            (F.col("id") % 7).alias("user_id"),
            F.timestamp_seconds(1_700_000_000 + F.col("id") * 37).alias("ts"),
            (F.col("id") % 100).cast("double").alias("value"))
        batch2 = spark.range(500, 1000).select(
            (F.col("id") % 7).alias("user_id"),
            F.timestamp_seconds(1_700_000_000 + F.col("id") * 37).alias("ts"),
            (F.col("id") % 100).cast("double").alias("value"))
        batch1.write.parquet(src + "/b1")
        batch2.write.parquet(src + "/b2")

        stream = (spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src + "/*"))
        agg = windowed_counts(stream, "ts", "user_id",
                              window="15 minutes", watermark="30 minutes")
        q = (agg.writeStream.outputMode("complete")
             .format("memory").queryName("win_counts").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table("win_counts")

        batch_df = batch1.unionByName(batch2)
        expected = windowed_counts(batch_df, "ts", "user_id",
                                   window="15 minutes")
        assert got.count() == expected.count() > 0
        assert (got.exceptAll(expected).count() == 0
                and expected.exceptAll(got).count() == 0)


class TestCheckpointRestart:
    """Exactly-once across restarts: the file-source WAL + checkpoint must
    make (stop → new files → new query, same checkpoint) produce each
    input row exactly once in the sink, and an idle restart must add
    nothing (the replay-idempotence the batch layer gets from Replacing
    sinks, delivered here by Structured Streaming's commit log)."""

    def _run_once(self, spark, src, sink, ckpt):
        stream = (spark.readStream
                  .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.outputMode("append").format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_restart_is_exactly_once(self, spark, tmp_path):
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        def batch(lo, hi):
            return spark.range(lo, hi).select(
                (F.col("id") % 5).alias("user_id"),
                F.timestamp_seconds(1_700_000_000 + F.col("id")).alias("ts"),
                F.col("id").cast("double").alias("value"))

        batch(0, 300).write.mode("append").parquet(src)
        self._run_once(spark, src, sink, ckpt)
        assert spark.read.parquet(sink).count() == 300

        batch(300, 500).write.mode("append").parquet(src)   # arrives while down
        self._run_once(spark, src, sink, ckpt)              # restart, same ckpt

        got = spark.read.parquet(sink)
        expected = batch(0, 500)
        assert got.count() == 500                            # no dups, no gaps
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

        self._run_once(spark, src, sink, ckpt)               # idle restart
        assert spark.read.parquet(sink).count() == 500


class TestSessionWindowStream:
    def test_stream_matches_batch(self, spark, tmp_path):
        from agnostic_blockchain_etl_spark.streaming.windows import (
            session_windows)
        src = str(tmp_path / "sess_src")

        def mk(rows):
            return spark.createDataFrame(
                rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
            ).select("user_id", "ts", "value")

        import datetime as dt
        base = dt.datetime(2024, 1, 1, 12, 0, 0)

        def t(minutes):
            return base + dt.timedelta(minutes=minutes)

        b1 = mk([(1, t(0), 1.0), (1, t(10), 2.0),      # one session (gap 30)
                 (2, t(0), 5.0)])
        b2 = mk([(1, t(120), 3.0),                     # new session for key 1
                 (2, t(20), 7.0),                      # extends key 2's session
                 (9, t(2000), 0.0)])                   # sentinel: pushes watermark
        # Each batch must be ONE file processed in order: with
        # maxFilesPerTrigger=1, any file containing a late-timestamp row
        # (b2's sentinel, or even b1's own t(10) row if b1 splits into
        # per-row part-files) that processes first advances the watermark
        # and drops its siblings as late data. So coalesce each batch to a
        # single part-file and only write b2 after b1 is fully consumed.
        b1.coalesce(1).write.parquet(src + "/b1")

        stream = (spark.readStream
                  .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
                  .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
        agg = session_windows(stream, "ts", "user_id", gap="30 minutes",
                              watermark="1 minute")
        q = (agg.writeStream.outputMode("append")
             .format("memory").queryName("sess").start())
        try:
            q.processAllAvailable()
            b2.coalesce(1).write.parquet(src + "/b2")
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.table("sess").where(F.col("user_id") != 9)

        batch = session_windows(b1.unionByName(b2), "ts", "user_id",
                                gap="30 minutes").where(F.col("user_id") != 9)
        assert got.count() == batch.count() == 3
        assert (got.exceptAll(batch).count() == 0
                and batch.exceptAll(got).count() == 0)
        # merged session for key 2 spans both micro-batches
        k2 = got.where(F.col("user_id") == 2).first()
        assert k2["n_events"] == 2 and k2["total"] == 12.0
