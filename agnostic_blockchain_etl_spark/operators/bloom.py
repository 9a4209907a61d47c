"""Bloom-filter exact dedup — the memory-bounded membership path for
corpus-scale "have I seen this content before?" (the CCNet/Dolma-style
production shape: at 100 TB a digest store is itself corpus-sized and
every probe is a shuffle join; a Bloom filter compresses membership to
a FIXED m-bit array so the probe becomes a scan-local bit test with
zero shuffle and zero join — at the documented price of a bounded
false-positive rate, i.e. a novel document is occasionally mistaken
for a duplicate, while a true duplicate is NEVER missed).

Layout: the filter is ``m_words`` 60-bit words. 60 bits — not 64 —
so bit 63 is never set and every mask/`bit_or`/`&` stays in positive
signed-long territory on BOTH engines (Spark longs and DuckDB BIGINTs
are signed; parking the algebra below the sign bit is what makes the
DuckDB oracle twin exact, same dodge as `corpus._salted_h60`'s 60-bit
hashes). The k bit positions of a key are independent salted md5
nibble hashes mod ``60 * m_words`` — pure functions of the content
key, so filters built on different engines, partitionings, or days
are bit-identical and mergeable with a word-wise OR.

Content keys follow `incremental.digest_store`'s rule exactly
(md5(text); null text keys per-doc as ``null:<doc_id>`` so
metadata-only rows are nobody's duplicate — the `_null_safe_key`
contract of streaming/dedup.py).

Scale shapes:
- **build** — per-row hashing, explode k positions, one map-side
  combined shuffle onto ≤ ``m_words`` keys (the aggregate rows are the
  FILTER WORDS, not documents — partial `bit_or` makes the shuffle a
  few KB per task regardless of corpus size);
- **probe** — the filter collects to ``m_words`` longs (bounded by the
  knob, NEVER by data) and is inlined as an array literal: each row
  does k array lookups + bit tests inside whole-stage codegen. Zero
  shuffle, zero join — the Dolma daily-dedup shape. For filters too
  big to inline (beyond ~10^8 bits) `bloom_probe_join` keeps the
  filter distributed and probes via a broadcast join instead;
- **day-N** — `incremental_bloom_dedup` mirrors
  `incremental.incremental_exact_dedup`'s ``(annotated, updated
  store)`` contract with the filter frame as the store: the store is
  ≤ m_words rows FOREVER (vs. one digest per retained doc), which is
  the whole point at 100 TB.

Reference: the reference system has no Bloom operator (its Replacing
dedup is key-exact); this module is part of the LLM-data-pipeline
mandate (SURVEY.md "beyond the reference" §2-LLM).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import make_registry
from .tables import load_tables

QUERIES, ORACLES, query = make_registry()

BITS_PER_WORD = 60          # sign-safe word width (see module docstring)
_DEFAULT_M_WORDS = 256      # 15_360 bits — gate-sized; knob up at scale
_DEFAULT_K = 5
_KM_MAX_K = 7               # km overflow bound (see _positions)


def bloom_content_key(text_col: str = "text",
                      id_col: str = "doc_id") -> Column:
    """`incremental.digest_store`'s key rule as a Column expression:
    md5 of the text bytes, with null text keyed per-doc
    (``null:<doc_id>``) so metadata-only rows never alias each other
    (and a NULL key can never poison the position hashes)."""
    return F.coalesce(
        F.md5(F.col(text_col).cast("binary")),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")))


# the 60-bit salted hash algebra is single-sourced in hashing.py
# (review finding: this module re-inlined it; see keyed_h60's notes)
from .hashing import keyed_h60 as _keyed_h60  # noqa: E402
from .hashing import sql_keyed_h60 as _sql_keyed_h60  # noqa: E402


def _mask(bit: Column) -> Column:
    """``shiftleft(1L, bit)`` with a COLUMN shift count (the Python
    wrapper `F.shiftleft` only takes an int literal; the SQL function
    takes any int expression and stays in codegen)."""
    return F.call_function("shiftleft",
                           F.lit(1).cast("long"), bit.cast("int"))


def _positions(key: Column, m_words: int, k: int, salt: str,
               scheme: str = "salted") -> list[Column]:
    """The k bit-position columns of a key.

    ``salted`` (v1, default): k independent salted md5 hashes — one md5
    per probe position. Values oracle-pinned since r10; never change.

    ``km`` (v2, r12 optimization round): Kirsch–Mitzenmacher double
    hashing ("Less Hashing, Same Performance", 2006) — position_i =
    (h1 + i·h2) mod m_bits from TWO salted md5 hashes, cutting the md5
    count per key from k to 2 with asymptotically the same
    false-positive rate. Overflow-safe on both engines: h1, h2 < 2^60,
    so h1 + (k−1)·h2 < k·2^60 stays in positive signed-long territory
    for any k ≤ 7 (same sign-dodge as the 60-bit words). The classical
    degeneracy — h2 ≡ 0 mod m_bits collapses the k probes to one for
    that key — is accepted at its ~1/m_bits rate, as in the paper.
    DIFFERENT filter contents than v1 for the same keys, so the two
    schemes are separate oracle pairs; never mix build and probe
    schemes (``_check_params`` can't see that — the word-range check in
    `bloom_filter_array` only catches geometry, not scheme, drift)."""
    m_bits = m_words * BITS_PER_WORD
    if scheme == "km":
        if k > _KM_MAX_K:
            raise ValueError(f"scheme 'km' needs k <= {_KM_MAX_K} to keep "
                             f"h1 + (k-1)*h2 below 2^63, got k={k}")
        h1 = _keyed_h60(f"{salt}a:", key)
        h2 = _keyed_h60(f"{salt}b:", key)
        return [(h1 + F.lit(i).cast("long") * h2) % m_bits
                for i in range(k)]
    if scheme != "salted":
        raise ValueError(f"unknown bloom hash scheme {scheme!r} "
                         "(expected 'salted' or 'km')")
    return [_keyed_h60(f"{salt}{i}:", key) % m_bits for i in range(k)]


def _position_structs(key: Column, m_words: int, k: int,
                      salt: str, scheme: str = "salted") -> Column:
    """Array of k ``(word, bit)`` structs for a key — shared by the
    build and the join probe (the literal probe inlines the same
    algebra column-wise instead of exploding)."""
    structs = []
    for h in _positions(key, m_words, k, salt, scheme):
        structs.append(F.struct(
            (h / BITS_PER_WORD).cast("int").alias("word"),
            (h % BITS_PER_WORD).cast("int").alias("bit")))
    return F.array(*structs)


def _check_params(m_words: int, k: int) -> None:
    if m_words <= 0 or k <= 0:
        raise ValueError(f"m_words/k must be positive, got {m_words}/{k}")


def bloom_build(docs: DataFrame, *, m_words: int = _DEFAULT_M_WORDS,
                k: int = _DEFAULT_K, key_col: str | None = None,
                text_col: str = "text", id_col: str = "doc_id",
                salt: str = "bloom:",
                scheme: str = "salted") -> DataFrame:
    """Distributed filter build: ``(word int, bits long)``, one row per
    word that has at least one bit set (missing word ≡ 0). The shuffle
    is keyed on ≤ ``m_words`` word indices with map-side partial
    `bit_or`, so its size is bounded by the knob, not the corpus."""
    _check_params(m_words, k)
    key = F.col(key_col) if key_col else bloom_content_key(text_col, id_col)
    pairs = (docs
             .select(F.explode(
                 _position_structs(key, m_words, k, salt, scheme))
                     .alias("p"))
             .select("p.word", _mask(F.col("p.bit")).alias("mask")))
    return pairs.groupBy("word").agg(F.bit_or("mask").alias("bits"))


def bloom_filter_array(filt: DataFrame, m_words: int) -> list[int]:
    """Densify a filter frame to ``m_words`` Python ints (index =
    word, unset words 0). The collect is bounded by the m_words knob —
    never by data — same contract as the IVF codebook collects.

    Repeated word rows OR-merge (review finding: plain assignment
    dropped all but the LAST row's bits — a frame that legitimately
    repeats words, e.g. ``spark.read.parquet(store)`` over a
    per-batch delta store or a unionByName of day filters, would
    silently produce FALSE NEGATIVES, the one failure mode the module
    forbids). OR is the filter's own merge semantics, so un-merged
    input is simply merged here."""
    arr = [0] * m_words
    for row in filt.collect():       # ≤ m_words DISTINCT words; dup
        if not 0 <= row["word"] < m_words:   # rows OR in place
            raise ValueError(
                f"filter word {row['word']} out of range for "
                f"m_words={m_words} — the filter was built with a "
                f"different geometry (m_words/k/salt must match "
                f"between build and probe)")
        arr[row["word"]] |= row["bits"]
    return arr


def bloom_probe(docs: DataFrame, filter_array: list[int], *,
                m_words: int = _DEFAULT_M_WORDS, k: int = _DEFAULT_K,
                key_col: str | None = None, text_col: str = "text",
                id_col: str = "doc_id", salt: str = "bloom:",
                out_col: str = "bloom_hit",
                scheme: str = "salted") -> DataFrame:
    """Scan-local probe: k array lookups + bit tests per row against
    the inlined filter literal — zero shuffle, zero join, whole-stage
    codegen; all input columns ride through. ``out_col`` is 1 iff
    every one of the k bits is set ("maybe seen"); a key that went
    into the build ALWAYS probes 1 (no false negatives — pinned by
    test_bloom.py)."""
    _check_params(m_words, k)
    if len(filter_array) != m_words:
        raise ValueError(f"filter_array has {len(filter_array)} words, "
                         f"expected m_words={m_words}")
    key = F.col(key_col) if key_col else bloom_content_key(text_col, id_col)
    lit_arr = F.lit(filter_array).cast("array<long>")
    hit = F.lit(True)
    for h in _positions(key, m_words, k, salt, scheme):
        word = (h / BITS_PER_WORD).cast("int")
        mask = _mask(h % BITS_PER_WORD)
        # F.get is 0-based; dense array -> never null, unset word = 0
        hit = hit & (F.get(lit_arr, word).bitwiseAND(mask) == mask)
    return docs.withColumn(out_col, hit.cast("int"))


def bloom_probe_join(docs: DataFrame, filt: DataFrame, *,
                     m_words: int = _DEFAULT_M_WORDS,
                     k: int = _DEFAULT_K, key_col: str | None = None,
                     text_col: str = "text", id_col: str = "doc_id",
                     salt: str = "bloom:",
                     out_col: str = "bloom_hit",
                     scheme: str = "salted") -> DataFrame:
    """Probe form for filters too large to inline as a literal (the
    filter frame stays distributed; broadcast-joined on the word
    index): returns ``(id_col, out_col)`` — value-identical to
    `bloom_probe` (pinned by test_bloom.py's equality test), at the
    cost of one explode + broadcast join + per-doc min."""
    _check_params(m_words, k)
    key = F.col(key_col) if key_col else bloom_content_key(text_col, id_col)
    pairs = (docs
             .select(F.col(id_col),
                     F.explode(
                         _position_structs(key, m_words, k, salt, scheme))
                     .alias("p"))
             .select(id_col, "p.word", _mask(F.col("p.bit")).alias("mask")))
    probed = (pairs.join(F.broadcast(filt), "word", "left")
              .withColumn("__hit",
                          (F.coalesce(F.col("bits"), F.lit(0))
                           .bitwiseAND(F.col("mask")) == F.col("mask"))
                          .cast("int")))
    return (probed.groupBy(id_col)
            .agg(F.min("__hit").cast("int").alias(out_col)))


def bloom_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two filters built with the same (m_words, k, salt):
    word-wise OR. Filters are mergeable because positions are pure
    hashes — day-1 ∪ day-2 equals one build over the union of the
    keys (pinned by test_bloom.py)."""
    return (a.unionByName(b).groupBy("word")
            .agg(F.bit_or("bits").alias("bits")))


def bloom_stats(filt: DataFrame, *, m_words: int = _DEFAULT_M_WORDS,
                k: int = _DEFAULT_K) -> dict:
    """Saturation report (driver-side, one tiny agg over ≤ m_words
    rows): bits set, fill ratio, and the implied false-positive rate
    ``fill^k`` — the number to watch before a day-N filter needs a
    rebuild at larger m (the Dolma resize rule)."""
    row = filt.select(
        F.sum(F.bit_count("bits")).alias("set_bits")).collect()[0]
    set_bits = int(row["set_bits"] or 0)
    m_bits = m_words * BITS_PER_WORD
    fill = set_bits / m_bits
    return {"m_bits": m_bits, "k": k, "set_bits": set_bits,
            "fill": fill, "fpr_estimate": fill ** k}


def incremental_bloom_dedup(new_docs: DataFrame, filt: DataFrame, *,
                            m_words: int = _DEFAULT_M_WORDS,
                            k: int = _DEFAULT_K,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            salt: str = "bloom:"
                            ) -> tuple[DataFrame, DataFrame]:
    """Day-N exact first-seen dedup against a Bloom store — the
    bounded-memory twin of `incremental.incremental_exact_dedup`
    (same ``(annotated, updated_store)`` contract; the store here is
    the FILTER frame, ≤ m_words rows forever). A doc keeps iff its key
    misses history's filter AND it is the batch's canonical (lowest
    ``id_col``) for that key; the returned filter ORs in the kept
    docs' bits, so replaying the batch is idempotent at the store
    level. Documented tradeoff vs. the digest store: a false positive
    (rate ≈ `bloom_stats`'s ``fill^k``) drops a genuinely novel doc;
    duplicates are never admitted (no false negatives)."""
    key = bloom_content_key(text_col, id_col)
    keyed = new_docs.select(F.col(id_col), key.alias("__ck"))
    arr = bloom_filter_array(filt, m_words)
    probed = bloom_probe(keyed, arr, m_words=m_words, k=k,
                         key_col="__ck", salt=salt, out_col="bloom_hit")
    canon = keyed.groupBy("__ck").agg(F.min(id_col).alias("__canon"))
    annotated = (probed.join(canon, "__ck")
                 .withColumn("keep",
                             ((F.col("bloom_hit") == 0)
                              & (F.col(id_col) == F.col("__canon")))
                             .cast("int"))
                 .select(id_col, F.col("__ck").alias("content_key"),
                         "bloom_hit", "keep"))
    kept_bits = bloom_build(
        annotated.where(F.col("keep") == 1)
        .select(F.col("content_key").alias("__ck")),
        m_words=m_words, k=k, key_col="__ck", salt=salt)
    return annotated, bloom_union(filt, kept_bits)


def bloom_decontaminate(train_docs: DataFrame, eval_docs: DataFrame, *,
                        m_words: int = 2048, k: int = _DEFAULT_K,
                        max_contamination: float | None = None,
                        salt: str = "bloomdecon:",
                        scheme: str = "salted") -> DataFrame:
    """Benchmark decontamination with the eval n-gram set compressed
    into a Bloom filter — `dedup.decontaminate`'s contract at a FIXED
    memory bound. At production scale the eval suite's distinct
    shingle set is hundreds of millions of 8-byte hashes (a
    multi-gigabyte broadcast); the filter caps it at m bits
    regardless. The approximation direction is the SAFE one for this
    task: a false positive can only INFLATE a document's contamination
    (an innocent n-gram counted as eval overlap), so a clean document
    is occasionally over-flagged — while leaked eval content is NEVER
    missed (no false negatives, the filter's hard guarantee). Same
    output schema and keep rule as `decontaminate`
    (`dedup._contamination_flags` is shared, so the two forms can
    never disagree about the rule; at large m they agree value-for-
    value — pinned by test_bloom.py).

    Scale: eval shingles build the filter (one bounded-key shuffle);
    the train corpus is scanned ONCE with the zero-shuffle literal
    probe per shingle row, then one groupBy(doc_id) — the broadcast
    hash-set probe of `decontaminate` replaced by k in-codegen bit
    tests."""
    from .dedup import _CONTAM_MAX, _contamination_flags, doc_shingles
    if max_contamination is None:
        max_contamination = _CONTAM_MAX
    # keys are the 60-bit shingle hashes rendered as decimal strings
    # (identical text on both engines; doc_shingles is distinct-per-doc)
    eval_keys = (doc_shingles(eval_docs)
                 .select(F.col("h").cast("string").alias("__ck"))
                 .distinct())
    filt = bloom_build(eval_keys, m_words=m_words, k=k,
                       key_col="__ck", salt=salt, scheme=scheme)
    arr = bloom_filter_array(filt, m_words)
    train_sh = doc_shingles(train_docs).select(
        "doc_id", F.col("h").cast("string").alias("__ck"))
    probed = bloom_probe(train_sh, arr, m_words=m_words, k=k,
                         key_col="__ck", salt=salt, out_col="__hit",
                         scheme=scheme)
    agg = (probed.groupBy("doc_id")
           .agg(F.count("*").alias("n_shingles"),
                F.sum("__hit").cast("long").alias("n_overlap")))
    return _contamination_flags(train_docs, agg, max_contamination)


# ---------------------------------------------------------------------------
# Gate query + DuckDB oracle
# ---------------------------------------------------------------------------

_GM = _DEFAULT_M_WORDS          # gate filter geometry
_GK = _DEFAULT_K
_GM_BITS = _GM * BITS_PER_WORD

_SQL_CK = ("CASE WHEN text IS NULL THEN 'null:' || CAST(doc_id AS VARCHAR) "
           "ELSE md5(text) END")
_SQL_H = _sql_keyed_h60("'bloom:' || CAST(i.i AS VARCHAR) || ':'", "k.ck")


@query("bloom_dedup_probe", oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 29 = 0 THEN NULL ELSE text END AS text
        FROM documents),
    keys AS (
        SELECT doc_id, {_SQL_CK} AS ck,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS in_ref
        FROM d),
    pos AS (
        SELECT k.doc_id, k.in_ref,
               (({_SQL_H}) % {_GM_BITS}) // {BITS_PER_WORD}      AS w,
               CAST(1 AS BIGINT)
                   << CAST(({_SQL_H}) % {BITS_PER_WORD} AS INT)  AS mask
        FROM keys k, (SELECT unnest(generate_series(0, {_GK - 1})) AS i) i),
    filt AS (
        SELECT w, bit_or(mask) AS bits FROM pos
        WHERE in_ref = 1 GROUP BY w),
    probe AS (
        SELECT p.doc_id,
               CASE WHEN f.bits IS NOT NULL
                         AND (f.bits & p.mask) = p.mask
                    THEN 1 ELSE 0 END AS hit
        FROM pos p LEFT JOIN filt f USING (w)),
    agg AS (SELECT doc_id, CAST(MIN(hit) AS INT) AS bloom_hit
            FROM probe GROUP BY doc_id)
    SELECT k.doc_id, k.in_ref, a.bloom_hit,
           CASE WHEN k.ck IN (SELECT ck FROM keys WHERE in_ref = 1)
                THEN 1 ELSE 0 END AS exact_hit
    FROM keys k JOIN agg a USING (doc_id)
""")
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for the Bloom family: build the filter over a
    reference slice (every 3rd doc), probe the WHOLE corpus through
    the zero-shuffle literal probe, and emit per-doc ``bloom_hit``
    next to ground-truth ``exact_hit`` (digest membership) — so the
    value oracle pins the entire bit algebra (keyed hashing, 60-bit
    word layout, bit_or build, literal probe) against DuckDB's
    independent formulation, INCLUDING the filter's false positives,
    bit for bit. Every 29th doc's text is nulled so the
    ``null:<doc_id>`` key rule runs under the oracle (a null-text doc
    in the reference hits — same doc, same key — but never aliases
    another null-text doc). The DuckDB twin probes via the JOIN form;
    value equality across the two probe shapes is exactly what makes
    the pair meaningful. Registered PAST the driver's 50-slot window
    (``__spark_entry__._PAST_WINDOW``)."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") % 29 == 0, F.lit(None).cast("string"))
         .otherwise(F.col("text")).alias("text"))
    keyed = d.select(
        "doc_id", bloom_content_key().alias("ck"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("in_ref"))
    ref = keyed.where(F.col("in_ref") == 1)
    filt = bloom_build(ref, m_words=_GM, k=_GK, key_col="ck")
    arr = bloom_filter_array(filt, _GM)
    probed = bloom_probe(keyed, arr, m_words=_GM, k=_GK, key_col="ck")
    # ground-truth column: digest-store membership (the thing the
    # filter approximates) — a data-sized join kept OUT of the scale
    # path on purpose; it exists so the oracle can certify both the
    # no-false-negative side and the exact FP set
    exact = ref.select(F.col("ck").alias("__rk")).distinct()
    return (probed.join(exact, probed["ck"] == F.col("__rk"), "left")
            .select("doc_id", "in_ref", "bloom_hit",
                    F.when(F.col("__rk").isNotNull(), 1).otherwise(0)
                     .alias("exact_hit")))


_DM, _DK = 2048, 5            # decontamination gate geometry: ~34% fill
_DM_BITS = _DM * BITS_PER_WORD  # at sf0.1 (real FPs under the oracle)
_H_EV = _sql_keyed_h60("'bloomdecon:' || CAST(i.i AS VARCHAR) || ':'",
                       "e.ck")
_H_TR = _sql_keyed_h60("'bloomdecon:' || CAST(i.i AS VARCHAR) || ':'",
                       "t.ck")


def _decon_oracle() -> str:
    from .dedup import (_CONTAM_MAX, _EVAL_MOD, _SQL_HASH60,
                        _SQL_SHINGLES, _SQL_WORDS)
    return f"""
    WITH words_t AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
    shingles_t AS (
        SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM words_t),
    hashed AS (
        SELECT doc_id, shingle, {_SQL_HASH60} AS h FROM shingles_t),
    eval_k AS (
        SELECT DISTINCT CAST(h AS VARCHAR) AS ck FROM hashed
        WHERE doc_id % {_EVAL_MOD} = 0),
    epos AS (
        SELECT (({_H_EV}) % {_DM_BITS}) // {BITS_PER_WORD}      AS w,
               CAST(1 AS BIGINT)
                   << CAST(({_H_EV}) % {BITS_PER_WORD} AS INT)  AS mask
        FROM eval_k e,
             (SELECT unnest(generate_series(0, {_DK - 1})) AS i) i),
    filt AS (SELECT w, bit_or(mask) AS bits FROM epos GROUP BY w),
    train AS (
        SELECT doc_id, shingle, CAST(h AS VARCHAR) AS ck FROM hashed
        WHERE doc_id % {_EVAL_MOD} <> 0),
    tpos AS (
        SELECT t.doc_id, t.shingle,
               (({_H_TR}) % {_DM_BITS}) // {BITS_PER_WORD}      AS w,
               CAST(1 AS BIGINT)
                   << CAST(({_H_TR}) % {BITS_PER_WORD} AS INT)  AS mask
        FROM train t,
             (SELECT unnest(generate_series(0, {_DK - 1})) AS i) i),
    tprobe AS (
        SELECT p.doc_id, p.shingle,
               MIN(CASE WHEN f.bits IS NOT NULL
                             AND (f.bits & p.mask) = p.mask
                        THEN 1 ELSE 0 END) AS hit
        FROM tpos p LEFT JOIN filt f USING (w)
        GROUP BY p.doc_id, p.shingle),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(hit) AS BIGINT)         AS n_overlap
        FROM tprobe GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_shingles, 0) AS n_shingles,
           coalesce(a.n_overlap, 0)  AS n_overlap,
           round(CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
                 ELSE CAST(a.n_overlap AS DOUBLE) / a.n_shingles END, 4)
               AS contamination,
           CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 1
                WHEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles
                     < {_CONTAM_MAX} THEN 1 ELSE 0 END AS decontam_keep
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    """


def _decon_oracle_v2() -> str:
    """DuckDB twin of the Kirsch–Mitzenmacher probe: TWO hashes per
    key, position_i = (h1 + i·h2) mod m_bits — the same signed-safe
    algebra as the Spark side (h1 + 4·h2 < 5·2^60 < 2^63)."""
    from .dedup import (_CONTAM_MAX, _EVAL_MOD, _SQL_HASH60,
                        _SQL_SHINGLES, _SQL_WORDS)
    h1_ev = _sql_keyed_h60("'bloomdecon:a:'", "e.ck")
    h2_ev = _sql_keyed_h60("'bloomdecon:b:'", "e.ck")
    h1_tr = _sql_keyed_h60("'bloomdecon:a:'", "t.ck")
    h2_tr = _sql_keyed_h60("'bloomdecon:b:'", "t.ck")
    return f"""
    WITH words_t AS (
        SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
    shingles_t AS (
        SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM words_t),
    hashed AS (
        SELECT doc_id, shingle, {_SQL_HASH60} AS h FROM shingles_t),
    eval_k AS (
        SELECT DISTINCT CAST(h AS VARCHAR) AS ck FROM hashed
        WHERE doc_id % {_EVAL_MOD} = 0),
    eh AS (SELECT ck, {h1_ev} AS h1, {h2_ev} AS h2 FROM eval_k e),
    epos AS (
        SELECT ((e.h1 + i.i * e.h2) % {_DM_BITS}) // {BITS_PER_WORD}
                   AS w,
               CAST(1 AS BIGINT)
                   << CAST((e.h1 + i.i * e.h2) % {_DM_BITS}
                           % {BITS_PER_WORD} AS INT)            AS mask
        FROM eh e,
             (SELECT unnest(generate_series(0, {_DK - 1})) AS i) i),
    filt AS (SELECT w, bit_or(mask) AS bits FROM epos GROUP BY w),
    train AS (
        SELECT doc_id, shingle, CAST(h AS VARCHAR) AS ck FROM hashed
        WHERE doc_id % {_EVAL_MOD} <> 0),
    th AS (SELECT doc_id, shingle, {h1_tr} AS h1, {h2_tr} AS h2
           FROM train t),
    tpos AS (
        SELECT t.doc_id, t.shingle,
               ((t.h1 + i.i * t.h2) % {_DM_BITS}) // {BITS_PER_WORD}
                   AS w,
               CAST(1 AS BIGINT)
                   << CAST((t.h1 + i.i * t.h2) % {_DM_BITS}
                           % {BITS_PER_WORD} AS INT)            AS mask
        FROM th t,
             (SELECT unnest(generate_series(0, {_DK - 1})) AS i) i),
    tprobe AS (
        SELECT p.doc_id, p.shingle,
               MIN(CASE WHEN f.bits IS NOT NULL
                             AND (f.bits & p.mask) = p.mask
                        THEN 1 ELSE 0 END) AS hit
        FROM tpos p LEFT JOIN filt f USING (w)
        GROUP BY p.doc_id, p.shingle),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(hit) AS BIGINT)         AS n_overlap
        FROM tprobe GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.n_shingles, 0) AS n_shingles,
           coalesce(a.n_overlap, 0)  AS n_overlap,
           round(CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
                 ELSE CAST(a.n_overlap AS DOUBLE) / a.n_shingles END, 4)
               AS contamination,
           CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 1
                WHEN CAST(a.n_overlap AS DOUBLE) / a.n_shingles
                     < {_CONTAM_MAX} THEN 1 ELSE 0 END AS decontam_keep
    FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    WHERE d.doc_id % {_EVAL_MOD} <> 0
    """


@query("bloom_decontamination_v2", oracle=_decon_oracle_v2())
def bloom_decontamination_v2(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """`bloom_decontamination` with the Kirsch–Mitzenmacher position
    scheme (r11 verdict ask #6; r12 optimization round): the per-
    shingle probe cost drops from FIVE salted md5 hashes to TWO, with
    asymptotically the same false-positive rate and the same geometry,
    keep rule, and output schema. The FP *rows* differ from v1 (a
    different hash family sets different bits), so this is its own
    oracle pair — v1 stays untouched and oracle-pinned. Measured r12:
    wall-NEUTRAL at bench scale (v2/v1 = 1.01 at sf0.1/32c, 0.96 at
    the 10× corpus/8c) because the dominant cost is the value-pinned
    shingle tokenization (~4.1 s of 6.3 s at 10×/8c), not the probe
    md5s — the win is the strict 3-fewer-md5+conv per probe key, which
    matters at 100 TB probe volumes, not at sf0.1. Registered PAST the
    driver's 50-slot window (``__spark_entry__._PAST_WINDOW``)."""
    from .dedup import _EVAL_MOD
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    return bloom_decontaminate(docs.where(~is_eval), docs.where(is_eval),
                               m_words=_DM, k=_DK, scheme="km")


@query("bloom_decontamination", oracle=_decon_oracle())
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for `bloom_decontaminate` — the exact companion of
    `decontamination_overlap` (same held-out split, same shingle
    definition, same keep rule) with the eval shingle set pushed
    through the Bloom filter instead of the broadcast hash set, so the
    value oracle pins shingle-hash keying, the filter build over eval
    n-grams, the per-shingle literal probe, the per-doc overlap
    aggregation, AND the filter's false-positive inflations (real at
    sf0.1's ~34% fill; the conservative direction — contamination only
    ever overestimated vs. the exact pair's numbers). Registered PAST
    the driver's 50-slot window (``__spark_entry__._PAST_WINDOW``)."""
    from .dedup import _EVAL_MOD
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    return bloom_decontaminate(docs.where(~is_eval), docs.where(is_eval),
                               m_words=_DM, k=_DK)
