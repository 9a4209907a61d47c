"""Streaming layer: the reference's 'streaming' is cursor-driven
micro-batching over an unbounded integer domain (SURVEY.md §2.8) — no
event-time windows, watermarks, or late data anywhere in its workload.

The pipeline runner in ``plans/pipeline.py`` IS that streaming model
(tip-poll → bounded ranges → ordered commit), and the only one: block
ranges come from its batcher and rows from the ``ethereum_rpc`` SQL
UDF. This package holds the Structured Streaming operators that run
beside it:

- ``windows.py`` — watermarked event-time windows + native
  ``session_window`` sessionization (stream-equals-batch verified).
- ``stateful.py`` — custom stateful operators via
  ``applyInPandasWithState``.
- ``dedup.py`` — first-seen streaming exact dedup (checkpointed state,
  watermark-bounded variant), plus foreachBatch incremental NEAR-dup
  against the signature store (per-batch-directory writes with a
  batch_id snapshot rule → exactly-once under replay).
"""

from .dedup import (bloom_dedup_stream, bm25_stats_stream, dedup_stream,
                    dedup_stream_bounded,
                    incremental_neardup_stream, last_committed_batch,
                    paragraph_dedup_stream, prune_store_deltas,
                    semantic_dedup_stream, source_cap_stream)

__all__ = ["bloom_dedup_stream", "bm25_stats_stream", "dedup_stream",
           "dedup_stream_bounded", "incremental_neardup_stream",
           "last_committed_batch", "paragraph_dedup_stream",
           "prune_store_deltas", "semantic_dedup_stream",
           "source_cap_stream"]
