"""Bloom-filter dedup family (`operators/bloom.py`): the probabilistic
contract (no false negatives EVER; false positives bounded and
deterministic), the two probe shapes' value equality, filter
mergeability, and the day-N incremental store lifecycle.

The cross-engine bit algebra itself is pinned by the registered
`bloom_dedup_probe` oracle pair; these tests pin the properties the
oracle can't express (quantified "never", shape equalities, store
round-trips)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.operators.bloom import (  # noqa: E402
    BITS_PER_WORD, bloom_build, bloom_content_key, bloom_filter_array,
    bloom_probe, bloom_probe_join, bloom_stats, bloom_union,
    incremental_bloom_dedup)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
_M, _K = 64, 4          # small filter so saturation/FPs are exercised


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    yield get_session(master="local[8]",
                      conf={"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(scope="module")
def docs(spark):
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    return load_tables(spark, SF_DIR, ("documents",))["documents"] \
        .select("doc_id", "text")


class TestBloomContract:
    def test_no_false_negatives_ever(self, spark, docs):
        """Every key that went into the build probes 1 — even on a
        deliberately saturated (tiny) filter where FPs abound."""
        filt = bloom_build(docs, m_words=_M, k=_K)
        arr = bloom_filter_array(filt, _M)
        probed = bloom_probe(docs, arr, m_words=_M, k=_K)
        assert probed.where(F.col("bloom_hit") == 0).count() == 0

    def test_false_positive_rate_tracks_estimate(self, spark, docs):
        """Probing DISJOINT keys (different salt prefix on the text)
        yields an observed FP rate within a loose band of the
        fill^k estimate (deterministic, but the bound is the spec)."""
        filt = bloom_build(docs, m_words=_M, k=_K)
        arr = bloom_filter_array(filt, _M)
        est = bloom_stats(filt, m_words=_M, k=_K)["fpr_estimate"]
        other = docs.select(
            "doc_id",
            F.concat(F.lit("~other~"), F.col("text")).alias("text"))
        n = other.count()
        fps = (bloom_probe(other, arr, m_words=_M, k=_K)
               .where(F.col("bloom_hit") == 1).count())
        assert fps / n <= max(5 * est, 0.02), (fps, n, est)

    def test_probe_shapes_agree(self, spark, docs):
        """Literal (zero-shuffle) probe == join-form probe, row for
        row — the big-filter escape hatch computes the same set."""
        ref = docs.where(F.col("doc_id") % 2 == 0)
        filt = bloom_build(ref, m_words=_M, k=_K)
        arr = bloom_filter_array(filt, _M)
        a = (bloom_probe(docs, arr, m_words=_M, k=_K)
             .select("doc_id", "bloom_hit"))
        b = bloom_probe_join(docs, filt, m_words=_M, k=_K)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_union_equals_joint_build(self, spark, docs):
        """bit_or merge of two day-filters == one build over both
        days' keys (mergeability is what makes the store incremental)."""
        d1 = docs.where(F.col("doc_id") % 2 == 0)
        d2 = docs.where(F.col("doc_id") % 2 == 1)
        merged = bloom_union(bloom_build(d1, m_words=_M, k=_K),
                             bloom_build(d2, m_words=_M, k=_K))
        joint = bloom_build(docs, m_words=_M, k=_K)
        assert merged.exceptAll(joint).count() == 0
        assert joint.exceptAll(merged).count() == 0

    def test_filter_array_or_merges_duplicate_words(self, spark, docs):
        """Review regression: an UN-merged filter frame (raw delta
        store read / unionByName without bloom_union) must densify to
        the same array as the merged form — plain assignment kept only
        the last row per word, producing false negatives."""
        d1 = docs.where(F.col("doc_id") % 2 == 0)
        d2 = docs.where(F.col("doc_id") % 2 == 1)
        f1, f2 = (bloom_build(x, m_words=_M, k=_K) for x in (d1, d2))
        unmerged = f1.unionByName(f2)            # words repeat
        a = bloom_filter_array(unmerged, _M)
        b = bloom_filter_array(bloom_union(f1, f2), _M)
        assert a == b
        probed = bloom_probe(docs, a, m_words=_M, k=_K)
        assert probed.where(F.col("bloom_hit") == 0).count() == 0

    def test_null_text_keys_per_doc(self, spark):
        """digest_store's null rule: two metadata-only docs never
        alias each other; the same doc re-probed hits."""
        a = spark.createDataFrame([(1, None), (2, None)],
                                  "doc_id long, text string")
        filt = bloom_build(a.where("doc_id = 1"), m_words=_M, k=_K)
        arr = bloom_filter_array(filt, _M)
        out = {r["doc_id"]: r["bloom_hit"]
               for r in bloom_probe(a, arr, m_words=_M, k=_K).collect()}
        assert out[1] == 1          # same doc, same null:<id> key
        assert out[2] == 0          # different metadata-only doc


class TestIncrementalBloom:
    def test_day2_lifecycle(self, spark, docs):
        """Day-1 builds the store; day-2's exact dups of day-1 are
        flagged, novel docs keep, within-batch dups keep one (lowest
        doc_id), and replaying day-2 against the updated store admits
        nothing."""
        day1 = docs.where(F.col("doc_id") % 3 == 0)
        empty = bloom_build(day1.limit(0), m_words=256, k=5)
        ann1, store = incremental_bloom_dedup(day1, empty,
                                              m_words=256, k=5)
        assert ann1.where("keep = 0").count() == 0  # distinct texts
        # day-2: one exact dup of a day-1 doc, one novel doc, and an
        # in-batch duplicate pair
        src = day1.limit(1).collect()[0]
        day2 = spark.createDataFrame(
            [(10**9 + 1, src["text"]),          # dup of history
             (10**9 + 2, "a genuinely novel document"),
             (10**9 + 3, "twin text"), (10**9 + 4, "twin text")],
            "doc_id long, text string")
        ann2, store2 = incremental_bloom_dedup(day2, store,
                                               m_words=256, k=5)
        got = {r["doc_id"]: (r["bloom_hit"], r["keep"])
               for r in ann2.collect()}
        assert got[10**9 + 1] == (1, 0)          # history dup flagged
        assert got[10**9 + 2][1] == 1            # novel kept
        assert got[10**9 + 3][1] == 1            # batch canonical
        assert got[10**9 + 4] == (0, 0)          # in-batch dup dropped
        # replay: everything day-2 kept is now in the store
        ann3, _ = incremental_bloom_dedup(day2, store2, m_words=256, k=5)
        assert ann3.where("keep = 1").count() == 0

    def test_store_stays_bounded(self, spark, docs):
        """The store never exceeds m_words rows no matter how many
        batches fold in — the whole point vs. a digest store."""
        empty = bloom_build(docs.limit(0), m_words=_M, k=_K)
        store = empty
        for third in range(3):
            batch = docs.where(F.col("doc_id") % 3 == third)
            _, store = incremental_bloom_dedup(batch, store,
                                               m_words=_M, k=_K)
        assert store.count() <= _M

    def test_stats_report(self, spark, docs):
        filt = bloom_build(docs, m_words=_M, k=_K)
        s = bloom_stats(filt, m_words=_M, k=_K)
        assert 0 < s["set_bits"] <= _M * BITS_PER_WORD
        assert 0 < s["fill"] <= 1 and 0 < s["fpr_estimate"] <= 1

    def test_param_validation(self, spark, docs):
        with pytest.raises(ValueError):
            bloom_build(docs, m_words=0, k=3)
        filt = bloom_build(docs, m_words=_M, k=_K)
        with pytest.raises(ValueError):
            bloom_probe(docs, bloom_filter_array(filt, _M),
                        m_words=_M * 2, k=_K)


class TestBloomDecontaminate:
    """`bloom_decontaminate` vs the exact `decontaminate`: agreement
    at large m, one-sided error at small m (never under-counts, never
    illegally keeps), shingle-less and empty-eval boundaries."""

    @pytest.fixture(scope="class")
    def split(self, docs):
        is_eval = F.col("doc_id") % 7 == 0
        return docs.where(~is_eval), docs.where(is_eval)

    @pytest.mark.heavy
    def test_large_m_matches_exact(self, spark, split):
        from agnostic_blockchain_etl_spark.operators.bloom import \
            bloom_decontaminate
        from agnostic_blockchain_etl_spark.operators.dedup import \
            decontaminate
        train, ev = split
        a = bloom_decontaminate(train, ev, m_words=1 << 15, k=7)
        b = decontaminate(train, ev)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_small_m_errs_one_sided(self, spark, split):
        """Saturated filter: overlap counts only ever INFLATE, and the
        keep flag only ever flips keep→drop — leaked eval content can
        never slip through on account of the approximation."""
        from agnostic_blockchain_etl_spark.operators.bloom import \
            bloom_decontaminate
        from agnostic_blockchain_etl_spark.operators.dedup import \
            decontaminate
        train, ev = split
        a = bloom_decontaminate(train, ev, m_words=32, k=3) \
            .select("doc_id", F.col("n_overlap").alias("ob"),
                    F.col("decontam_keep").alias("kb"))
        b = decontaminate(train, ev) \
            .select("doc_id", F.col("n_overlap").alias("oe"),
                    F.col("decontam_keep").alias("ke"))
        j = a.join(b, "doc_id")
        assert j.where(F.col("ob") < F.col("oe")).count() == 0
        assert j.where((F.col("kb") == 1) & (F.col("ke") == 0)) \
                .count() == 0
        # the tiny filter really is saturated (the test bites)
        assert j.where(F.col("ob") > F.col("oe")).count() > 0

    def test_empty_eval_keeps_everything(self, spark, split):
        from agnostic_blockchain_etl_spark.operators.bloom import \
            bloom_decontaminate
        train, ev = split
        out = bloom_decontaminate(train, ev.limit(0), m_words=_M, k=_K)
        assert out.where("n_overlap != 0").count() == 0
        assert out.where("decontam_keep = 0").count() == 0


class TestBloomStream:
    """`streaming.dedup.bloom_dedup_stream`: the bounded-state member
    of the foreachBatch store family (store ≤ m_words rows forever)."""

    @staticmethod
    def _drain(spark, src, store, out, ckpt, **kw):
        from agnostic_blockchain_etl_spark.streaming.dedup import (
            bloom_dedup_stream)
        stream = (spark.readStream.schema("doc_id LONG, text STRING")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = bloom_dedup_stream(stream, store, out, ckpt,
                               m_words=256, k=5, **kw)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    @pytest.mark.heavy
    def test_first_seen_across_batches_and_restart(self, spark,
                                                   tmp_path):
        src, out, store, ckpt = (str(tmp_path / d)
                                 for d in ("src", "out", "store",
                                           "ckpt"))

        def write(rows):
            spark.createDataFrame(rows, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(src)

        write([(1, "aa"), (2, "bb"), (3, "aa")])   # in-batch dup
        write([(4, "aa"), (5, "cc")])              # history dup + novel
        self._drain(spark, src, store, out, ckpt)
        got = {r.doc_id: (r.bloom_hit, r.keep)
               for r in spark.read.parquet(out).collect()}
        assert got[1] == (0, 1) and got[2] == (0, 1)
        assert got[3][1] == 0                      # in-batch dup loses
        assert got[4] == (1, 0) and got[5] == (0, 1)
        # restart on the same checkpoint+store: history persists
        write([(6, "bb"), (7, "dd")])
        self._drain(spark, src, store, out, ckpt)
        got = {r.doc_id: (r.bloom_hit, r.keep)
               for r in spark.read.parquet(out).collect()}
        assert got[6] == (1, 0) and got[7] == (0, 1)
        # the store is filter words, never documents
        store_rows = spark.read.parquet(store).count()
        assert store_rows <= 3 * 256               # ≤ m_words per delta

    @pytest.mark.heavy
    def test_compacts_and_prunes_mid_stream(self, spark, tmp_path):
        import os
        src, out, store, ckpt = (str(tmp_path / d)
                                 for d in ("psrc", "pout", "pstore",
                                           "pckpt"))

        def write(rows):
            spark.createDataFrame(rows, "doc_id long, text string") \
                .coalesce(1).write.mode("append").parquet(src)

        for b in range(4):                         # 4 batches, unique
            write([(10 * b + i, f"t{b}-{i}") for i in range(3)])
        write([(100, "t0-0")])                     # dup of batch 0
        self._drain(spark, src, store, out, ckpt,
                    compact_every=2, prune_after_compact=True)
        got = {r.doc_id: r.keep
               for r in spark.read.parquet(out).collect()}
        assert got[100] == 0                       # seen through snapshot
        assert sum(got.values()) == 12             # all uniques kept
        # snapshots exist and pruning bounded the raw delta dirs
        snaps = os.listdir(f"{store}_compact")
        assert any(s.startswith("upto=") for s in snaps)
        deltas = [d for d in os.listdir(store)
                  if d.startswith("batch_id=")]
        assert len(deltas) <= 4                    # ~2×compact_every


class TestBloomPlanShape:
    def test_literal_probe_is_scan_local(self, spark, docs):
        """The zero-shuffle claim, pinned: the literal probe's plan
        has no Exchange and no Join below the scan projection."""
        filt = bloom_build(docs, m_words=_M, k=_K)
        arr = bloom_filter_array(filt, _M)
        plan = (bloom_probe(docs, arr, m_words=_M, k=_K)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan


class TestKirschMitzenmacher:
    """scheme='km' (r12, v2 pair): two salted md5 hashes drive all k
    probe positions. Same filter CONTRACT as v1 (no false negatives,
    one-sided decontamination error); different filter CONTENTS, so v1
    and v2 stay separate oracle pairs and must never mix per filter."""

    def test_no_false_negatives(self, spark, docs):
        filt = bloom_build(docs, m_words=_M, k=_K, scheme="km")
        arr = bloom_filter_array(filt, _M)
        out = bloom_probe(docs, arr, m_words=_M, k=_K, scheme="km")
        assert out.where("bloom_hit = 0").count() == 0

    def test_decontaminate_errs_one_sided(self, spark, docs):
        """Saturated km filter: overlap only inflates, keep only flips
        keep->drop — the safety direction is scheme-independent."""
        from agnostic_blockchain_etl_spark.operators.bloom import \
            bloom_decontaminate
        from agnostic_blockchain_etl_spark.operators.dedup import \
            decontaminate
        is_eval = F.col("doc_id") % 7 == 0
        train, ev = docs.where(~is_eval), docs.where(is_eval)
        a = bloom_decontaminate(train, ev, m_words=32, k=3, scheme="km") \
            .select("doc_id", F.col("n_overlap").alias("ob"),
                    F.col("decontam_keep").alias("kb"))
        b = decontaminate(train, ev) \
            .select("doc_id", F.col("n_overlap").alias("oe"),
                    F.col("decontam_keep").alias("ke"))
        j = a.join(b, "doc_id")
        assert j.where(F.col("ob") < F.col("oe")).count() == 0
        assert j.where((F.col("kb") == 1) & (F.col("ke") == 0)) \
                .count() == 0

    def test_km_probe_pays_two_hashes(self, spark, docs):
        """The optimization itself, pinned mechanically: the km probe
        plan carries exactly 2 DISTINCT salted md5 expressions (h1, h2)
        where the salted probe carries k. (Plan text inlines a shared
        subexpression once per use site, so occurrence counts are
        meaningless — codegen subexpression elimination evaluates each
        DISTINCT expression once; distinct salt literals are the
        evaluation count.)"""
        import re
        filt = bloom_build(docs, m_words=_M, k=_K, scheme="km")
        arr = bloom_filter_array(filt, _M)

        def salts(scheme):
            plan = (bloom_probe(docs, arr, m_words=_M, k=_K,
                                scheme=scheme, key_col="text")
                    ._jdf.queryExecution().executedPlan().toString())
            assert "Exchange" not in plan, plan
            return set(re.findall(r"bloom:[0-9ab]+:", plan))

        assert salts("km") == {"bloom:a:", "bloom:b:"}
        assert salts("salted") == {f"bloom:{i}:" for i in range(_K)}

    def test_unknown_scheme_rejected(self, spark, docs):
        with pytest.raises(ValueError, match="scheme"):
            bloom_build(docs, m_words=_M, k=_K, scheme="fnv")

    def test_k_above_overflow_bound_rejected(self, spark, docs):
        """h1 + (k-1)*h2 stays below 2^63 only for k <= 7; a larger k
        would wrap to negative positions (probe misses, false
        negatives), so both build and probe refuse it."""
        bloom_build(docs, m_words=_M, k=7, scheme="km")
        with pytest.raises(ValueError, match="k <= 7"):
            bloom_build(docs, m_words=_M, k=8, scheme="km")
        with pytest.raises(ValueError, match="k <= 7"):
            bloom_probe(docs, [0] * _M, m_words=_M, k=9, scheme="km")
        bloom_build(docs, m_words=_M, k=9)      # salted has no such bound
