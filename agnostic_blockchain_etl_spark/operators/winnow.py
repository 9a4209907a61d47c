"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
the MOSS algorithm) — position-aware near-dup detection that is ROBUST
TO EDITS in a way set-based shingling is not: hash every k-gram, slide
a w-hash window, keep each window's minimum (rightmost on ties), and
any shared passage of length ≥ w + k − 1 tokens is GUARANTEED to share
a selected fingerprint. Density is ~2/(w+1) of the k-grams, so the
fingerprint table is a tunable fraction of the token count — the knob
LLM-data pipelines use to trade recall against index size when hunting
copied passages (licensing scans, boilerplate provenance, cross-source
plagiarism) rather than whole-document duplicates.

One deliberate deviation from the paper, identical in both engines:
trailing truncated windows are included (standard SQL ROWS framing),
so a document with at least one k-gram always fingerprints — the
selected set is a superset of canonical winnowing's and the match
guarantee is unchanged (flag-don't-drop).

Scale: fingerprint selection is a per-document window (partitioned by
doc_id — no cross-document shuffle until the final distinct); the pair
join is a fingerprint equi-join with a document-frequency guard
(`max_df`) dropping boilerplate fingerprints before they can flood it
— the `max_shingle_df` / LSH-band shape, never all-pairs. Hashes are
`hashing.keyed_h60` — the engine's one cross-engine hash primitive.

Reference: no counterpart; LLM-data-pipeline mandate, sibling of
`dedup.ngram_jaccard_pairs` (set overlap) and `spans.duplicate_spans`
(exact spans) — winnowing sits between them: approximate like the
first, position-bearing like the second.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .hashing import keyed_h60, sql_keyed_h60
from .registry import make_registry
from .tables import load_tables, spread

QUERIES, ORACLES, query = make_registry()

_K = 4          # tokens per k-gram
_W = 5          # hashes per winnowing window
_MAX_DF = 50    # fingerprint document-frequency flood guard
_MIN_SHARED = 2
_SALT = "winnow:"


# v2 ("poly") fingerprint constants — 30-bit halves combined with
# Horner polynomials mod a sub-2^30 prime; every intermediate stays
# under 2^63 on both engines (x < 2^30, A < 2^21 → x·A < 2^51;
# y < 2^30, B < 2^30 → y·B < 2^60).
_M30 = 1 << 30                  # half-width split of the 60-bit word hash
_PP = 1073741789                # largest prime below 2^30
_PA = 1000003                   # lo-half Horner multiplier
_PB = 998244353                 # hi-half Horner multiplier (≠ _PA family)
_SALT2 = "winnow2:"


def _check(k: int, w: int) -> None:
    if k <= 0 or w <= 0:
        raise ValueError(f"k/w must be positive, got {k}/{w}")


def _check_scheme(scheme: str) -> None:
    if scheme not in ("md5", "poly"):
        raise ValueError(f"unknown winnow hash scheme {scheme!r} "
                         "(expected 'md5' or 'poly')")


def _selected(docs: DataFrame, k: int, w: int, text_col: str,
              id_col: str, salt: str, scheme: str = "md5") -> DataFrame:
    """Pre-distinct window-min selections ``(doc_id, fp, fp_pos)`` —
    one row per k-gram position (each carrying its window's winner);
    both public forms distinct this ONCE on the columns they need.

    ``scheme`` picks the k-gram hash family (r12 optimization round):

    ``md5`` (v1, default): materialize each k-gram string
    (concat_ws over a slice) and take `hashing.keyed_h60` of it — one
    md5+conv PER K-GRAM POSITION (≈ one per token). Values
    oracle-pinned since r10; never change.

    ``poly`` (v2): hash each WORD once with `keyed_h60` and combine
    the k word-hashes into a 60-bit fingerprint with pure integer
    arithmetic both engines evaluate bit-identically: split each
    60-bit word hash into 30-bit halves, Horner-fold each half across
    the gram (multipliers `_PA`/`_PB` mod prime `_PP`), and pack
    ``lo·2^30 + hi`` (the low-half fold lands in the high bits). No
    k-gram string is ever built (v1 concats and
    md5s a ~k-word string PER POSITION); each word's md5 runs exactly
    once per its row (shorter input, no concat churn). Pair collision
    odds stay ~2^-60-ish for distinct grams. DIFFERENT fingerprint
    values than v1, so the two schemes are separate oracle pairs.
    Construction note (r12, measured): the natural array form —
    transform(words, md5…) consumed by k shifted slices + zip_with
    Horner — ran 1.4× SLOWER than v1: higher-order functions are
    CodegenFallback (interpreted) and the md5-bearing subtree was
    inlined into every slice (16 copies in the plan), so the per-word
    hash ran k× after all, plus per-element array allocation. This
    form instead posexplodes the words and takes the k−1 gram
    neighbors with `lead()` over the (doc_id, pos) window the
    selection needs anyway: zero higher-order functions, the Window
    boundary pins the md5 to once per word row, the Horner fold is
    whole-stage-codegen row arithmetic, and both windows share one
    exchange+sort."""
    _check_scheme(scheme)
    # tokenize+k-gram+hash must not run one-core; keyed by the doc id
    # so the healing shuffle doubles as the selection window's exchange
    # (the window is partitioned by doc_id — the per-GRAM exchange that
    # ENSURE_REQUIREMENTS would otherwise add below it disappears, and
    # grams are co-partitioned with their document either way)
    docs = spread(docs, id_col)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if scheme == "poly":
        flat_h = (docs.select(F.col(id_col).alias("doc_id"),
                              F.posexplode(words).alias("pos", "w"))
                  .select("doc_id", "pos",
                          keyed_h60(salt, F.col("w")).alias("h0")))
        ws = Window.partitionBy("doc_id").orderBy("pos")
        hs = [F.col("h0")] + [F.lead("h0", j).over(ws)
                              for j in range(1, k)]
        gram = flat_h.select("doc_id", "pos", *[
            h.alias(f"_h{j}") for j, h in enumerate(hs)])
        lo = F.col("_h0") % _M30
        hi = F.shiftright(F.col("_h0"), 30)
        for j in range(1, k):
            lo = (lo * _PA + F.col(f"_h{j}") % _M30) % _PP
            hi = (hi * _PB + F.shiftright(F.col(f"_h{j}"), 30)) % _PP
        flat = (gram.where(F.col(f"_h{k - 1}").isNotNull())
                .select("doc_id", "pos",
                        (lo * _M30 + hi).alias("h")))
    else:
        kgs = F.when(
            F.size(words) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ",
                                F.slice(words, i + 1, k)).alias("gram"))))
        flat = (docs.select(F.col(id_col).alias("doc_id"),
                            F.explode(kgs).alias("s"))
                .select("doc_id", F.col("s.pos").alias("pos"),
                        keyed_h60(salt, F.col("s.gram")).alias("h")))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(Window.currentRow, w - 1))
    sel = flat.select(
        "doc_id",
        F.min(F.struct(F.col("h"),
                       (-F.col("pos")).alias("np"))).over(win).alias("m"))
    return sel.select("doc_id", F.col("m.h").alias("fp"),
                      (-F.col("m.np")).cast("int").alias("fp_pos"))


def winnow_fingerprints(docs: DataFrame, *, k: int = _K, w: int = _W,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        salt: str = _SALT,
                        scheme: str = "md5") -> DataFrame:
    """``(doc_id, fp, fp_pos)`` — the distinct winnowed fingerprints of
    each document: 60-bit salted k-gram hashes, one minimum per w-hash
    window (rightmost minimum on ties, the paper's rule, expressed as
    a lexicographic struct MIN over (hash, −pos)). ``fp_pos`` is the
    0-based k-gram position the fingerprint was taken from — the
    position-bearing half of the scheme (span reconstruction, passage
    alignment). NULL/short texts (< k tokens) produce no rows."""
    _check(k, w)
    return _selected(docs, k, w, text_col, id_col, salt,
                     scheme).distinct()


def winnow_pairs(docs: DataFrame, *, k: int = _K, w: int = _W,
                 min_shared: int = _MIN_SHARED, max_df: int = _MAX_DF,
                 text_col: str = "text", id_col: str = "doc_id",
                 salt: str = _SALT, scheme: str = "md5") -> DataFrame:
    """``(doc_a, doc_b, n_shared)`` — document pairs sharing at least
    ``min_shared`` winnowed fingerprints (doc_a < doc_b): the copied-
    passage candidate pairs. Fingerprints present in more than
    ``max_df`` documents are boilerplate (licence headers, templates)
    and are dropped BEFORE the join — the flood guard that keeps the
    equi-join linear in real matches instead of quadratic in the
    hottest fingerprint."""
    _check(k, w)
    if min_shared <= 0 or max_df <= 0:
        raise ValueError(f"min_shared/max_df must be positive, "
                         f"got {min_shared}/{max_df}")
    from .dedup import _scoped_cache

    # distinct straight on (doc_id, fp) — going through the public
    # 3-column form would shuffle the selection frame twice. Scoped-
    # cached: the guard and BOTH self-join sides consume this frame,
    # and the three subtrees are NOT exchange-reusable (the join sides
    # carry a pushed IsNotNull(doc_id) the guard branch lacks), so the
    # uncached plan ran the md5-per-k-gram selection FOUR times
    # (measured: 4 full Scan→Generate→Window subtrees in the r11
    # before-plan). The cache is 2 longs/row but CORPUS-PROPORTIONAL
    # in row count (~2/(w+1) of all k-gram positions survive
    # winnowing), unlike the bounded scoped caches elsewhere — at
    # production scale it leans on MEMORY_AND_DISK spill, which is
    # still strictly cheaper than recomputing the selection 4×.
    fps = _scoped_cache(_selected(docs, k, w, text_col, id_col, salt,
                                  scheme)
                        .select("doc_id", "fp").distinct())
    guard = (fps.groupBy("fp").agg(F.count("*").alias("_df"))
             .where(F.col("_df") <= max_df).select("fp"))
    g = fps.join(guard, "fp")
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("fp"))
    return (g.select(F.col("doc_id").alias("doc_a"), "fp")
            .join(b, "fp")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def _sql_winnow_pairs() -> str:
    h = sql_keyed_h60(f"'{_SALT}'", "s.gram")
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents),
    kg AS (SELECT doc_id,
                  CASE WHEN len(words) >= {_K} THEN
                    list_transform(generate_series(0, len(words) - {_K}),
                      i -> {{'pos': i,
                             'gram': array_to_string(
                                 words[i+1:i+{_K}], ' ')}})
                  ELSE [] END AS kgs
           FROM toks),
    flat AS (SELECT doc_id, unnest(kgs) AS s FROM kg),
    hashed AS (SELECT doc_id, s.pos AS pos, {h} AS h FROM flat),
    sel AS (SELECT doc_id,
                   min(struct_pack(h := h, np := -pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {_W - 1} FOLLOWING) AS m
            FROM hashed),
    fps AS (SELECT DISTINCT doc_id, (m).h AS fp FROM sel),
    guard AS (SELECT fp FROM fps
              GROUP BY fp HAVING count(*) <= {_MAX_DF}),
    g AS (SELECT f.doc_id, f.fp FROM fps f JOIN guard USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_MIN_SHARED}
    """


@query("winnow_dup_pairs", oracle=_sql_winnow_pairs())
def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate form of `winnow_pairs` at the module defaults (k=4 w=5,
    min_shared=2, max_df=50) — the window-min selection, the tie rule,
    the flood guard, and the pair counts all value-pinned."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return winnow_pairs(docs)


def _sql_winnow_pairs_v2() -> str:
    """DuckDB twin of the poly fingerprint: per-WORD h60, 30-bit
    halves Horner-folded with the same constants and the same
    left-to-right reduction order as the Spark zip_with chain."""
    h = sql_keyed_h60(f"'{_SALT2}'", "t")
    lo = f"(hs[i+1] % {_M30})"
    hi = f"(hs[i+1] >> 30)"
    for j in range(1, _K):
        lo = f"(({lo} * {_PA} + (hs[i+{j + 1}] % {_M30})) % {_PP})"
        hi = f"(({hi} * {_PB} + (hs[i+{j + 1}] >> 30)) % {_PP})"
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents),
    wh AS (SELECT doc_id, len(words) AS n,
                  list_transform(words, t -> {h}) AS hs
           FROM toks),
    kg AS (SELECT doc_id,
                  CASE WHEN n >= {_K} THEN
                    list_transform(generate_series(0, n - {_K}),
                      i -> {{'pos': i,
                             'h': {lo} * CAST({_M30} AS BIGINT)
                                  + {hi}}})
                  ELSE [] END AS kgs
           FROM wh),
    flat AS (SELECT doc_id, unnest(kgs) AS s FROM kg),
    hashed AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM flat),
    sel AS (SELECT doc_id,
                   min(struct_pack(h := h, np := -pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {_W - 1} FOLLOWING) AS m
            FROM hashed),
    fps AS (SELECT DISTINCT doc_id, (m).h AS fp FROM sel),
    guard AS (SELECT fp FROM fps
              GROUP BY fp HAVING count(*) <= {_MAX_DF}),
    g AS (SELECT f.doc_id, f.fp FROM fps f JOIN guard USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_MIN_SHARED}
    """


@query("winnow_dup_pairs_v2", oracle=_sql_winnow_pairs_v2())
def winnow_dup_pairs_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`winnow_dup_pairs` with the poly fingerprint scheme (r11
    verdict ask #8; r12 optimization round): one md5+conv per WORD
    instead of one per K-GRAM (k=4 → 4× fewer md5s, and no per-gram
    concat_ws string build), combined by integer Horner folding both
    engines evaluate identically. Different fingerprint family ⇒
    different (collision-induced) pair sets are possible, so this is
    its own oracle pair; v1 stays untouched and oracle-pinned.
    Registered PAST the driver's 50-slot window
    (``__spark_entry__._PAST_WINDOW``)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # _SALT2 keys the v2 family on BOTH sides (the oracle twin hashes
    # with it too); the default _SALT stays v1's
    return winnow_pairs(docs, scheme="poly", salt=_SALT2)


def winnow_passages(docs: DataFrame, *, k: int = _K, w: int = _W,
                    max_gap: int | None = None,
                    min_fps: int = _MIN_SHARED, max_df: int = _MAX_DF,
                    text_col: str = "text", id_col: str = "doc_id",
                    salt: str = _SALT) -> DataFrame:
    """Aligned copied-passage spans — the reason ``fp_pos`` exists (r10
    verdict ask #7): merge the fingerprints two documents share into
    ``(doc_a, doc_b, a_start, a_end, b_start, b_end, n_fps)`` rows,
    token-position spans of the copied region in EACH document
    (`spans.duplicate_spans`' output shape over winnowing candidates,
    which `winnow_pairs` only counts).

    A verbatim copied passage occupies one DIAGONAL: every matched
    fingerprint of the passage has the same ``pos_a − pos_b`` offset,
    and winnowing guarantees a selection at least every ``w`` k-gram
    positions inside it — so matches on a diagonal are merged into one
    span wherever consecutive ``pos_a`` are within ``max_gap``
    (default ``w``, the guarantee's own bound), and an island with
    fewer than ``min_fps`` matches is discarded as a chance hash
    collision. Spans are inclusive k-gram token ranges: ``a_end`` is
    the last matched k-gram's start + k − 1.

    Scale: the match frame is the SAME df-guarded fingerprint
    equi-join as `winnow_pairs` (never all-pairs; ``max_df`` bounds
    the hottest fingerprint), and the island merge is a window
    partitioned by (doc_a, doc_b, diagonal) — per-candidate-pair
    state, never a corpus-wide window. ``pos_a`` is unique within a
    partition (one selected winner per position after the distinct),
    so the lag/cumsum island walk is deterministic without an extra
    tie-break."""
    _check(k, w)
    if min_fps <= 0 or max_df <= 0:
        raise ValueError(f"min_fps/max_df must be positive, "
                         f"got {min_fps}/{max_df}")
    gap = w if max_gap is None else max_gap
    if gap <= 0:
        raise ValueError(f"max_gap must be positive, got {gap}")
    from .dedup import _scoped_cache

    # scoped-cached for the same reason as winnow_pairs: guard + both
    # join sides would otherwise each recompute the whole selection
    fps = _scoped_cache(_selected(docs, k, w, text_col, id_col, salt)
                        .select("doc_id", "fp", "fp_pos").distinct())
    # the guard counts DOCUMENT frequency — distinct (doc_id, fp) —
    # exactly like winnow_pairs, not position occurrences: a
    # fingerprint selected at several positions of the same document
    # must not burn the df budget (r11 self-review finding #1)
    guard = (fps.select("doc_id", "fp").distinct()
             .groupBy("fp").agg(F.count("*").alias("_df"))
             .where(F.col("_df") <= max_df).select("fp"))
    g = fps.join(guard, "fp")
    b = g.select(F.col("doc_id").alias("doc_b"), "fp",
                 F.col("fp_pos").alias("pos_b"))
    mt = (g.select(F.col("doc_id").alias("doc_a"), "fp",
                   F.col("fp_pos").alias("pos_a"))
          .join(b, "fp")
          .where(F.col("doc_a") < F.col("doc_b"))
          .select("doc_a", "doc_b", "pos_a", "pos_b",
                  (F.col("pos_a") - F.col("pos_b")).alias("diag")))
    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    # two projections: a window expression (lag) can't nest inside
    # another window's aggregate in one select
    brk = mt.select(
        "*", F.when(F.col("pos_a") - F.lag("pos_a").over(wd) > gap,
                    1).otherwise(0).alias("brk"))
    isl = brk.select(
        "*", F.sum("brk").over(
            wd.rowsBetween(Window.unboundedPreceding,
                           Window.currentRow)).alias("grp"))
    return (isl.groupBy("doc_a", "doc_b", "diag", "grp")
            .agg(F.min("pos_a").cast("int").alias("a_start"),
                 (F.max("pos_a") + F.lit(k - 1)).cast("int")
                 .alias("a_end"),
                 F.min("pos_b").cast("int").alias("b_start"),
                 (F.max("pos_b") + F.lit(k - 1)).cast("int")
                 .alias("b_end"),
                 F.count("*").alias("n_fps"))
            .where(F.col("n_fps") >= min_fps)
            .select("doc_a", "doc_b", "a_start", "a_end",
                    "b_start", "b_end", "n_fps"))


def winnow_decontaminate(train_docs: DataFrame, eval_docs: DataFrame,
                         *, k: int = _K, w: int = _W,
                         min_fps: int = _MIN_SHARED,
                         max_df: int = _MAX_DF,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         eval_id_col: str = "eval_id",
                         salt: str = _SALT) -> DataFrame:
    """Fuzzy benchmark decontamination — the winnowed completion of the
    decontamination matrix (`dedup.decontaminate` exact n-grams,
    `bloom.bloom_decontaminate` bounded-memory exact,
    `similarity.semantic_decontamination` embedding-space): flag train
    documents sharing COPIED PASSAGES with an eval set, robust to the
    token edits that break exact n-gram overlap (winnowing guarantees
    any shared passage of ≥ w + k − 1 tokens shares a selected
    fingerprint, so lightly-reworded leakage still matches on the
    untouched stretches).

    Returns EVERY train document (flag-don't-drop): ``(doc_id,
    n_eval_docs, n_shared_fps, contaminated)`` — eval documents
    sharing ≥ ``min_fps`` fingerprints with this doc, total shared
    fingerprints over those eval docs, and the flag. NULL/short train
    texts (< k tokens) fingerprint empty and flag clean.

    Scale: the eval side is the small broadcast side (fingerprints of
    a benchmark suite — thousands of docs, the
    `decontamination_overlap` contract); the train corpus fingerprints
    once (per-document windows) and the join is fp-equi with the SAME
    train-side document-frequency guard as `winnow_pairs` — a
    fingerprint that is boilerplate across the train corpus
    (``max_df``) is dropped before it can fan the join out."""
    _check(k, w)
    if min_fps <= 0 or max_df <= 0:
        raise ValueError(f"min_fps/max_df must be positive, "
                         f"got {min_fps}/{max_df}")
    from .dedup import _scoped_cache

    # train-side selection scoped-cached: the df guard and the probe
    # join would otherwise run the train-corpus k-gram hashing twice.
    # The eval side has a single consumer — no cache.
    tfps = _scoped_cache(_selected(train_docs, k, w, text_col, id_col,
                                   salt)
                         .select("doc_id", "fp").distinct())
    efps = (_selected(eval_docs, k, w, text_col, id_col, salt)
            .select(F.col("doc_id").alias(eval_id_col), "fp")
            .distinct())
    guard = (tfps.groupBy("fp").agg(F.count("*").alias("_df"))
             .where(F.col("_df") <= max_df).select("fp"))
    pairs = (tfps.join(guard, "fp")
             .join(F.broadcast(efps), "fp")
             .groupBy("doc_id", eval_id_col)
             .agg(F.count("*").alias("n_shared"))
             .where(F.col("n_shared") >= min_fps))
    flags = (pairs.groupBy("doc_id")
             .agg(F.count("*").alias("n_eval_docs"),
                  F.sum("n_shared").alias("n_shared_fps")))
    base = train_docs.select(F.col(id_col).alias("doc_id")).distinct()
    return (base.join(flags, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_eval_docs", F.lit(0))
                    .cast("long").alias("n_eval_docs"),
                    F.coalesce("n_shared_fps", F.lit(0))
                    .cast("long").alias("n_shared_fps"),
                    (F.coalesce("n_eval_docs", F.lit(0)) > 0)
                    .alias("contaminated")))


_EVAL_MOD = 17   # gate eval set: doc_id % 17 == 3 (~6% of the corpus)


def _sql_winnow_decontaminate() -> str:
    """DuckDB twin of `winnow_decontam_flags`: the pairs oracle's
    selection CTEs computed once over the full corpus, split into
    train/eval halves by the gate's id rule."""
    h = sql_keyed_h60(f"'{_SALT}'", "s.gram")
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents),
    kg AS (SELECT doc_id,
                  CASE WHEN len(words) >= {_K} THEN
                    list_transform(generate_series(0, len(words) - {_K}),
                      i -> {{'pos': i,
                             'gram': array_to_string(
                                 words[i+1:i+{_K}], ' ')}})
                  ELSE [] END AS kgs
           FROM toks),
    flat AS (SELECT doc_id, unnest(kgs) AS s FROM kg),
    hashed AS (SELECT doc_id, s.pos AS pos, {h} AS h FROM flat),
    sel AS (SELECT doc_id,
                   min(struct_pack(h := h, np := -pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {_W - 1} FOLLOWING) AS m
            FROM hashed),
    fps AS (SELECT DISTINCT doc_id, (m).h AS fp FROM sel),
    train AS (SELECT doc_id, fp FROM fps
              WHERE doc_id % {_EVAL_MOD} <> 3),
    ev AS (SELECT doc_id AS eval_id, fp FROM fps
           WHERE doc_id % {_EVAL_MOD} = 3),
    guard AS (SELECT fp FROM train
              GROUP BY fp HAVING count(*) <= {_MAX_DF}),
    pairs AS (SELECT t.doc_id, e.eval_id, count(*) AS n_shared
              FROM train t
              JOIN guard USING (fp)
              JOIN ev e ON e.fp = t.fp
              GROUP BY 1, 2
              HAVING count(*) >= {_MIN_SHARED}),
    flags AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_eval_docs,
                     CAST(SUM(n_shared) AS BIGINT) AS n_shared_fps
              FROM pairs GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(f.n_eval_docs, 0) AS n_eval_docs,
           coalesce(f.n_shared_fps, 0) AS n_shared_fps,
           coalesce(f.n_eval_docs, 0) > 0 AS contaminated
    FROM (SELECT DISTINCT doc_id FROM documents
          WHERE doc_id % {_EVAL_MOD} <> 3) d
    LEFT JOIN flags f USING (doc_id)
    """


@query("winnow_decontam_flags", oracle=_sql_winnow_decontaminate())
def winnow_decontam_flags(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Gate form of `winnow_decontaminate` at the module defaults:
    documents with ``doc_id % 17 == 3`` play the eval benchmark, the
    rest the train corpus — every train doc's flag, matched-eval
    count, and shared-fingerprint total value-pinned. Registered past
    the 50-slot gate window (``__spark_entry__._PAST_WINDOW``)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    train = docs.where(F.col("doc_id") % _EVAL_MOD != 3)
    ev = docs.where(F.col("doc_id") % _EVAL_MOD == 3)
    return winnow_decontaminate(train, ev)


def _sql_winnow_passages() -> str:
    """DuckDB twin of `winnow_passage_spans`: the same selection /
    guard CTEs as the pairs oracle, then the diagonal island walk
    (lag → break flag → running-sum group → span aggregate)."""
    h = sql_keyed_h60(f"'{_SALT}'", "s.gram")
    return f"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+')
                             AS words
                  FROM documents),
    kg AS (SELECT doc_id,
                  CASE WHEN len(words) >= {_K} THEN
                    list_transform(generate_series(0, len(words) - {_K}),
                      i -> {{'pos': i,
                             'gram': array_to_string(
                                 words[i+1:i+{_K}], ' ')}})
                  ELSE [] END AS kgs
           FROM toks),
    flat AS (SELECT doc_id, unnest(kgs) AS s FROM kg),
    hashed AS (SELECT doc_id, s.pos AS pos, {h} AS h FROM flat),
    sel AS (SELECT doc_id,
                   min(struct_pack(h := h, np := -pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW
                           AND {_W - 1} FOLLOWING) AS m
            FROM hashed),
    fps AS (SELECT DISTINCT doc_id, (m).h AS fp,
                   CAST(-(m).np AS INT) AS fp_pos FROM sel),
    guard AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM fps)
              GROUP BY fp HAVING count(*) <= {_MAX_DF}),
    g AS (SELECT f.doc_id, f.fp, f.fp_pos
          FROM fps f JOIN guard USING (fp)),
    mt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.fp_pos AS pos_a, b.fp_pos AS pos_b,
                  a.fp_pos - b.fp_pos AS diag
           FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id),
    brk AS (SELECT *,
                   CASE WHEN pos_a - lag(pos_a) OVER
                          (PARTITION BY doc_a, doc_b, diag
                           ORDER BY pos_a) > {_W}
                        THEN 1 ELSE 0 END AS brk
            FROM mt),
    isl AS (SELECT *,
                   SUM(brk)
                     OVER (PARTITION BY doc_a, doc_b, diag
                           ORDER BY pos_a
                           ROWS UNBOUNDED PRECEDING) AS grp
            FROM brk)
    SELECT doc_a, doc_b,
           CAST(min(pos_a) AS INT)            AS a_start,
           CAST(max(pos_a) + {_K - 1} AS INT) AS a_end,
           CAST(min(pos_b) AS INT)            AS b_start,
           CAST(max(pos_b) + {_K - 1} AS INT) AS b_end,
           CAST(count(*) AS BIGINT)           AS n_fps
    FROM isl
    GROUP BY doc_a, doc_b, diag, grp
    HAVING count(*) >= {_MIN_SHARED}
    """


@query("winnow_passage_spans", oracle=_sql_winnow_passages())
def winnow_passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate form of `winnow_passages` at the module defaults (k=4 w=5,
    max_gap=w, min_fps=2, max_df=50): every aligned copied-passage
    span in the documents corpus, endpoints and match counts
    value-pinned. Registered past the 50-slot gate window
    (``__spark_entry__._PAST_WINDOW``)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return winnow_passages(docs)
