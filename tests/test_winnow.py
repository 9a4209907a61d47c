"""Winnowing fingerprints (`operators/winnow.py`): the paper's match
guarantee (shared passage ≥ w+k−1 tokens ⇒ shared fingerprint), the
coverage bound (selected positions are never more than w apart), the
rightmost-tie rule, edit robustness, the flood guard, and NULL/short
text. Cross-engine values are pinned by the registered
`winnow_dup_pairs` oracle pair."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.operators.winnow import (  # noqa: E402
    winnow_fingerprints, winnow_pairs, winnow_passages)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
K, W = 4, 5


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    yield get_session(master="local[8]",
                      conf={"spark.sql.shuffle.partitions": "8"})


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _passage(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


class TestGuarantee:
    def test_shared_passage_of_guarantee_length_always_pairs(self, spark):
        # any shared run of w+k-1 tokens must share >= 1 fingerprint
        shared = _passage(W + K - 1, "s")
        d = _docs(spark, [
            (1, _passage(30, "a") + " " + shared + " " + _passage(30, "b")),
            (2, _passage(25, "c") + " " + shared + " " + _passage(35, "d")),
        ])
        got = winnow_pairs(d, min_shared=1).collect()
        assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]

    def test_disjoint_docs_never_pair(self, spark):
        d = _docs(spark, [(1, _passage(60, "a")), (2, _passage(60, "b"))])
        assert winnow_pairs(d, min_shared=1).count() == 0

    def test_edit_robustness(self, spark):
        # a single substituted token in a long doc: the two versions
        # still share almost everything
        base = _passage(80, "t").split()
        edited = list(base)
        edited[40] = "CHANGED"
        d = _docs(spark, [(1, " ".join(base)), (2, " ".join(edited))])
        got = winnow_pairs(d, min_shared=2).collect()
        assert len(got) == 1 and got[0].n_shared >= 5


class TestSelection:
    def test_coverage_gap_never_exceeds_w(self, spark):
        d = _docs(spark, [(1, _passage(100, "x"))])
        pos = sorted(r.fp_pos
                     for r in winnow_fingerprints(d).collect())
        assert pos[0] <= W - 1                       # a window 0 pick
        gaps = [b - a for a, b in zip(pos, pos[1:])]
        assert gaps and max(gaps) <= W

    def test_rightmost_tie_rule(self, spark):
        # all-identical tokens -> every k-gram hash equal -> each
        # window must pick its RIGHTMOST position: w-1 .. m-1
        n_tokens, m = 20, 20 - K + 1
        d = _docs(spark, [(1, " ".join(["same"] * n_tokens))])
        pos = sorted(r.fp_pos
                     for r in winnow_fingerprints(d).collect())
        assert pos == list(range(W - 1, m))

    def test_short_and_null_texts_no_rows_no_error(self, spark):
        d = _docs(spark, [(1, "a b c"), (2, None), (3, "")])
        assert winnow_fingerprints(d).count() == 0
        assert winnow_pairs(d, min_shared=1).count() == 0

    def test_fingerprints_are_a_subset_of_kgram_count(self, spark):
        d = _docs(spark, [(1, _passage(50, "q"))])
        n = winnow_fingerprints(d).count()
        assert 0 < n <= 50 - K + 1


class TestGuardsAndGate:
    def test_max_df_flood_guard(self, spark):
        # the same boilerplate passage in every doc; unique remainder.
        # with max_df below the doc count the boilerplate fingerprints
        # are dropped and nothing pairs at min_shared=1
        boiler = _passage(W + K - 1, "lic")
        rows = [(i, boiler + " " + _passage(40, f"u{i}_"))
                for i in range(6)]
        d = _docs(spark, rows)
        assert winnow_pairs(d, min_shared=1, max_df=3).count() == 0
        assert winnow_pairs(d, min_shared=1, max_df=10).count() == 15

    def test_validation(self, spark):
        d = _docs(spark, [(1, "a b c d e f")])
        with pytest.raises(ValueError):
            winnow_fingerprints(d, k=0)
        with pytest.raises(ValueError):
            winnow_pairs(d, w=0)
        with pytest.raises(ValueError):
            winnow_pairs(d, min_shared=0)
        with pytest.raises(ValueError):
            winnow_pairs(d, max_df=0)

    def test_gate_query_runs(self, spark):
        from agnostic_blockchain_etl_spark.operators.winnow import \
            winnow_dup_pairs
        rows = winnow_dup_pairs(spark, SF_DIR).collect()
        assert rows, "the corpus has near-dups; winnowing must find some"
        assert all(r.doc_a < r.doc_b and r.n_shared >= 2 for r in rows)

    def test_planted_passage_aligns(self, spark):
        # a 30-token passage planted at offset 30 in doc 1 and offset
        # 25 in doc 2: one span row on the diag 5 diagonal whose
        # endpoints bracket the passage in BOTH docs (slack ≤ w + k:
        # winnowing selects at least every w positions inside it but
        # the first/last selections may sit up to w-1 in)
        shared = _passage(30, "s")
        d = _docs(spark, [
            (1, _passage(30, "a") + " " + shared + " " + _passage(30, "b")),
            (2, _passage(25, "c") + " " + shared + " " + _passage(35, "d")),
        ])
        got = winnow_passages(d, min_fps=2).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert r.a_start - r.b_start == 5          # the planted offset
        assert 30 <= r.a_start <= 30 + W + K       # starts inside it
        assert 60 - 1 - (W + K) <= r.a_end <= 60 + K - 1
        assert r.n_fps >= 2
        # span-vs-pairs consistency: the pair exists with >= n_fps
        pair = winnow_pairs(d, min_shared=2).collect()[0]
        assert pair.n_shared >= r.n_fps

    def test_two_separate_passages_two_spans(self, spark):
        # two shared passages far apart on DIFFERENT diagonals must
        # not merge into one span
        p1, p2 = _passage(20, "x"), _passage(20, "y")
        d = _docs(spark, [
            (1, p1 + " " + _passage(40, "a") + " " + p2),
            (2, p2 + " " + _passage(50, "c") + " " + p1),
        ])
        got = winnow_passages(d, min_fps=2).collect()
        assert len(got) == 2
        diags = sorted(r.a_start - r.b_start for r in got)
        assert diags[0] != diags[1]

    def test_disjoint_docs_no_spans(self, spark):
        d = _docs(spark, [(1, _passage(60, "a")), (2, _passage(60, "b"))])
        assert winnow_passages(d, min_fps=1).count() == 0

    def test_passage_guard_counts_documents_not_positions(self, spark):
        # r11 self-review finding #1: a fingerprint selected at many
        # positions of the SAME document must not burn the df budget —
        # the guard counts documents, like winnow_pairs. Two docs
        # sharing a long passage full of internal repetition: df = 2.
        rep = " ".join((_passage(K, "r") + " ") * 12)   # repeated grams
        d = _docs(spark, [(1, rep + " " + _passage(20, "a")),
                          (2, rep + " " + _passage(20, "b"))])
        got = winnow_passages(d, min_fps=1, max_df=2).collect()
        assert got, "df=2 fingerprints survive a max_df=2 guard"
        # and the spans agree with the pair op's own guard decision
        assert winnow_pairs(d, min_shared=1, max_df=2).count() == 1

    def test_passages_validation(self, spark):
        d = _docs(spark, [(1, "a b c d e f")])
        for bad in (dict(min_fps=0), dict(max_df=0), dict(max_gap=0),
                    dict(k=0)):
            with pytest.raises(ValueError):
                winnow_passages(d, **bad)

    def test_passage_gate_runs(self, spark):
        from agnostic_blockchain_etl_spark.operators.winnow import \
            winnow_passage_spans
        rows = winnow_passage_spans(spark, SF_DIR).collect()
        assert rows, "the corpus has near-dups; spans must exist"
        for r in rows:
            assert r.doc_a < r.doc_b and r.n_fps >= 2
            assert r.a_end - r.a_start == r.b_end - r.b_start  # same diag
            assert r.a_end >= r.a_start + K - 1

    def test_plan_is_equi_join_not_cartesian(self, spark):
        import contextlib
        import io
        from agnostic_blockchain_etl_spark.operators.tables import \
            load_tables
        docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            winnow_pairs(docs).explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDecontaminate:
    def _flags(self, spark, train_rows, eval_rows, **kw):
        from agnostic_blockchain_etl_spark.operators.winnow import \
            winnow_decontaminate
        return {r["doc_id"]: r for r in winnow_decontaminate(
            _docs(spark, train_rows), _docs(spark, eval_rows),
            **kw).collect()}

    def test_copied_passage_flags_despite_edit(self, spark):
        """A train doc that lifted an eval passage and edited ONE token
        in the middle still flags: winnowing guarantees fingerprints on
        the untouched stretches either side of the edit."""
        passage = _passage(40, "leak")
        edited = passage.split()
        edited[20] = "EDITED"
        train = [(1, _passage(30, "pre") + " " + " ".join(edited)),
                 (2, _passage(60, "clean"))]
        ev = [(900, passage)]
        got = self._flags(spark, train, ev)
        assert got[1]["contaminated"] is True
        assert got[1]["n_eval_docs"] == 1
        assert got[1]["n_shared_fps"] >= 2
        assert got[2]["contaminated"] is False
        assert got[2]["n_shared_fps"] == 0

    def test_every_train_doc_returned_flag_dont_drop(self, spark):
        train = [(1, _passage(50, "a")), (2, None), (3, "too short")]
        ev = [(900, _passage(50, "z"))]
        got = self._flags(spark, train, ev)
        assert set(got) == {1, 2, 3}
        assert all(not r["contaminated"] for r in got.values())

    def test_min_fps_threshold(self, spark):
        """A single shared fingerprint (one common phrase) stays below
        the default min_fps=2 bar; raising recall with min_fps=1
        flags it."""
        phrase = _passage(K, "common")       # exactly one k-gram
        train = [(1, _passage(30, "x") + " " + phrase)]
        ev = [(900, _passage(30, "y") + " " + phrase)]
        strict = self._flags(spark, train, ev)
        loose = self._flags(spark, train, ev, min_fps=1)
        assert strict[1]["contaminated"] is False
        assert loose[1]["contaminated"] is True

    def test_train_side_boilerplate_guard(self, spark):
        """A passage that is boilerplate across the TRAIN corpus (df >
        max_df) is dropped before the join — even if the eval set also
        contains it."""
        boiler = _passage(40, "boiler")
        train = [(i, boiler) for i in range(1, 8)]
        ev = [(900, boiler)]
        got = self._flags(spark, train, ev, max_df=3)
        assert all(not r["contaminated"] for r in got.values())
        got_loose = self._flags(spark, train, ev, max_df=50)
        assert all(r["contaminated"] for r in got_loose.values())

    def test_counts_multiple_eval_matches(self, spark):
        p1, p2 = _passage(40, "e1"), _passage(40, "e2")
        train = [(1, p1 + " " + p2)]
        ev = [(900, p1), (901, p2)]
        got = self._flags(spark, train, ev)
        assert got[1]["n_eval_docs"] == 2

    def test_validation(self, spark):
        from agnostic_blockchain_etl_spark.operators.winnow import \
            winnow_decontaminate
        t = _docs(spark, [(1, "a b c d e")])
        with pytest.raises(ValueError, match="min_fps/max_df"):
            winnow_decontaminate(t, t, min_fps=0)

    def test_gate_runs_and_is_consistent(self, spark):
        from agnostic_blockchain_etl_spark.operators.winnow import \
            QUERIES
        rows = QUERIES["winnow_decontam_flags"](spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r["doc_id"] % 17 != 3          # eval side excluded
            assert (r["n_eval_docs"] > 0) == r["contaminated"]
            assert r["n_shared_fps"] >= 2 * r["n_eval_docs"] or \
                r["n_eval_docs"] == 0


class TestPolyScheme:
    """scheme='poly' (r12, v2 pair): per-WORD h60 + integer Horner
    folding instead of md5-per-k-gram. Same winnowing guarantees
    (scheme only changes the hash family, never the selection rule);
    different fingerprint VALUES, so v1/v2 are separate oracle pairs."""

    def test_guarantee_holds_under_poly(self, spark):
        shared = _passage(W + K - 1, "s")
        d = _docs(spark, [
            (1, _passage(30, "a") + " " + shared + " " + _passage(30, "b")),
            (2, _passage(25, "c") + " " + shared + " " + _passage(35, "d")),
        ])
        got = winnow_pairs(d, min_shared=1, scheme="poly").collect()
        assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
        d2 = _docs(spark, [(1, _passage(60, "a")), (2, _passage(60, "b"))])
        assert winnow_pairs(d2, min_shared=1, scheme="poly").count() == 0

    def test_poly_matches_reference_arithmetic(self, spark):
        """The fingerprint VALUES, pinned against an independent pure-
        Python evaluation of the same construction (md5 via hashlib,
        Horner over 30-bit halves) — the cross-engine contract in
        miniature, without DuckDB."""
        import hashlib
        from agnostic_blockchain_etl_spark.operators.winnow import (
            _M30, _PA, _PB, _PP, _SALT, winnow_fingerprints)

        def h60(s):
            return int(hashlib.md5(
                (_SALT + s).encode()).hexdigest()[:15], 16)

        words = ["w0", "w1", "w2", "w3", "w4", "w5"]
        hs = [h60(t) for t in words]
        expected_fps = []
        for i in range(len(words) - K + 1):
            lo, hi = hs[i] % _M30, hs[i] >> 30
            for j in range(1, K):
                lo = (lo * _PA + hs[i + j] % _M30) % _PP
                hi = (hi * _PB + (hs[i + j] >> 30)) % _PP
            expected_fps.append(lo * _M30 + hi)
        # w=1 window selects EVERY k-gram position's own hash
        got = winnow_fingerprints(_docs(spark, [(1, " ".join(words))]),
                                  w=1, scheme="poly").collect()
        assert sorted(r.fp for r in got) == sorted(set(expected_fps))

    def test_poly_plan_builds_no_gram_strings(self, spark):
        """Pinned mechanically: the poly selection never materializes
        a k-gram string (no concat_ws) and hashes at WORD grain (the
        winnow salt feeds md5 inside an array transform, once per
        token, not once per gram)."""
        from agnostic_blockchain_etl_spark.operators.tables import \
            load_tables
        docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
        plan_v2 = winnow_fingerprints(docs, scheme="poly") \
            ._jdf.queryExecution().executedPlan().toString()
        plan_v1 = winnow_fingerprints(docs) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "concat_ws" not in plan_v2, plan_v2
        assert "concat_ws" in plan_v1, plan_v1

    def test_unknown_scheme_rejected(self, spark):
        d = _docs(spark, [(1, "a b c d e")])
        with pytest.raises(ValueError, match="scheme"):
            winnow_pairs(d, scheme="xx")
