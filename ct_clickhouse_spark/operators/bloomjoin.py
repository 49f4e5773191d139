"""Bloom-filter pre-join pruning: drop fact rows that cannot match a
selective dimension BEFORE the join shuffle.

At 100 TB the dominant cost of a shuffle fact-dim join with a filtered
dim is moving fact rows that will not survive the join. Catalyst already
handles two special cases — literal predicates are inferred across the
join (InferFiltersFromConstraints), and a broadcastable dim avoids the
fact shuffle entirely — but a dim that is selective yet too large to
broadcast raw, filtered by a non-inferable predicate, leaves the fact
side shuffling everything. A Bloom filter over the dim keys is the
standard fix (the same structure Spark's runtime row-level filtering
injects when its thresholds align; here it is an explicit, composable
operator that does not depend on optimizer heuristics).

Spark-first construction, no driver-side key materialization:
- k bit positions per key from ``xxhash64(key, seed_i) % m`` — JVM
  expressions, identical on build and probe sides by construction.
- Build: explode positions -> one hash aggregate ``bit_or`` per 64-bit
  word. The aggregate output is AT MOST m/64 rows (the sketch size,
  independent of dim cardinality) — only the sketch reaches the driver,
  like the k centroids in operators/similarity.py.
- Probe: the word array rides as a column tested with element_at/
  shiftright/& — whole-stage-codegen JVM expressions, so the filter sits
  directly on the fact scan, before any Exchange. SMALL sketches embed
  as a literal array; large ones ship as DATA (a broadcast 1-row frame
  cross-joined in): a literal array is an expression tree with one node
  per word, and at ~77k words (a 500k-key corpus) just BUILDING it costs
  tens of seconds of driver time per query while analysis/codegen walk
  every node — the round-11 sf10 shakeout measured 36 s of pure
  plan-side cost on the incremental-dedup slot before this split.

False positives only (a set bit can collide, a clear bit cannot), so the
downstream equality join returns IDENTICAL rows to the unpruned join;
~0.8% false positives at 10 bits/key with k=7.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS_PER_ITEM = 10
N_HASHES = 7  # ~= (bits/item) * ln 2, the optimal hash count
MAX_LITERAL_WORDS = 2_000_000  # 16 MB sketch ceiling; beyond this, use a
# broadcast semi-join on the key set instead — at that sketch size the
# key set itself is usually broadcastable.
# Above this word count the sketch ships as broadcast DATA (1-row frame)
# instead of a literal expression tree — the expression path costs
# O(words) driver time PER QUERY in construction + analysis + codegen.
# 1024 words (~65k keys, 8 KB) keeps every fixture-scale plan (and the
# plan-shape tests) on the literal path, bit-identical to pre-r11.
LITERAL_WORDS_MAX = 1024


def _tag_words(fact: DataFrame, bitmap: list[int]) -> DataFrame:
    """``fact`` plus a ``_bf_words`` array<long> column holding the
    sketch, via whichever carrier is sane for the sketch size (literal
    expression below LITERAL_WORDS_MAX, broadcast 1-row frame above)."""
    if "_bf_words" in fact.columns:
        # the literal path's withColumn would silently REPLACE a
        # pre-existing column while the crossJoin path would duplicate it
        # (ambiguous-reference failure only for large sketches) — drop it
        # up front so both carriers behave identically
        fact = fact.drop("_bf_words")
    if len(bitmap) <= LITERAL_WORDS_MAX:
        return fact.withColumn("_bf_words", F.array(*[F.lit(w) for w in bitmap]))
    arr_df = fact.sparkSession.createDataFrame(
        [(bitmap,)], "_bf_words: array<bigint>"
    )
    # crossJoin against a broadcast 1-row bound frame: the sketch is
    # shipped once per executor as data, not re-walked per plan pass
    return fact.crossJoin(F.broadcast(arr_df))


def _positions(key: str, m_bits: int) -> list[Column]:
    # xxhash64 is TYPE-sensitive (xxhash64(7 as int) != xxhash64(7 as
    # bigint)), so build and probe must hash one canonical representation
    # or a fact/dim key-type mismatch silently drops true matches. String
    # is the universal canonical form.
    return [
        F.pmod(F.xxhash64(F.col(key).cast("string"), F.lit(seed)), F.lit(m_bits))
        for seed in range(N_HASHES)
    ]


# PySpark's shiftleft/shiftright only take Python-int shift amounts, so
# single-bit masks come from a 64-entry literal lookup instead (bit 63 is
# the sign bit: the only 64-bit value with it set alone is -2^63).
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _mask_at(bit_idx: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(m) for m in _BIT_MASKS]), bit_idx.cast("int") + 1
    )


def build_bloom(dim: DataFrame, key: str, expected_items: int) -> list[int]:
    """The dim keys' Bloom bitmap as 64-bit words (python ints). Collect
    is bounded by the sketch size m/64, never by dim cardinality."""
    if expected_items < 1:
        # m_bits=0 would make pmod(hash, 0) NULL, the membership predicate
        # NULL, and bloom_prune would silently drop EVERY fact row.
        raise ValueError(f"expected_items must be >= 1, got {expected_items}")
    m_bits = ((expected_items * BITS_PER_ITEM + 63) // 64) * 64
    n_words = m_bits // 64
    if n_words > MAX_LITERAL_WORDS:
        raise ValueError(
            f"sketch of {n_words} words exceeds the literal ceiling; "
            "use a broadcast semi-join for dims this large"
        )
    pos = F.explode(F.array(*_positions(key, m_bits))).alias("pos")
    words = (
        dim.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            _mask_at(F.pmod(F.col("pos"), F.lit(64))).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in words:
        bitmap[int(r.w)] = int(r.bits)
    return bitmap


def _membership(arr: Column, key: str, m_bits: int) -> Column:
    """Membership predicate against a word-array column/expression: true
    iff every one of the k positions has its bit set."""
    checks = []
    for p in _positions(key, m_bits):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        mask = _mask_at(F.pmod(p, F.lit(64)))
        checks.append(word.bitwiseAND(mask) != 0)
    return reduce(lambda a, b: a & b, checks)


def might_contain(bitmap: list[int], key: str) -> Column:
    """JVM membership predicate against the literal word array. For
    non-trivial bitmaps prefer ``bloom_prune``, which materializes the
    array once as a column — inlining it here repeats the literal array
    per hash check (k copies of the expression tree)."""
    return _membership(F.array(*[F.lit(w) for w in bitmap]), key, len(bitmap) * 64)


def bloom_prune(
    fact: DataFrame, dim: DataFrame, key: str, expected_items: int
) -> DataFrame:
    """Filter ``fact`` to rows whose ``key`` might be in ``dim``'s key
    set. Sound (keeps every true match); complete up to the Bloom
    false-positive rate, which the join's own equality removes.

    The word array is MATERIALIZED as a column before the k bit checks:
    an inline literal array would be copied into the expression tree once
    per hash (7 x up-to-2M-element CreateArray nodes near the ceiling —
    enough to stall planning); as an attribute it exists once (and above
    LITERAL_WORDS_MAX it ships as broadcast data, not an expression)."""
    return bloom_prune_prebuilt(fact, key, build_bloom(dim, key, expected_items))


def bloom_prune_prebuilt(fact: DataFrame, key: str, bitmap: list[int]) -> DataFrame:
    """``bloom_prune`` against an already-built word array — the probe
    half on its own, for callers that cache the sketch (build once, probe
    per query: the same artifact lifecycle as the SQ8 index)."""
    if not bitmap:
        # m_bits=0 makes pmod(hash, 0) NULL and the membership predicate
        # NULL — every fact row silently dropped (the same hazard
        # build_bloom's expected_items guard exists for)
        raise ValueError("bitmap must be non-empty")
    tagged = _tag_words(fact, bitmap)
    return tagged.filter(
        _membership(F.col("_bf_words"), key, len(bitmap) * 64)
    ).drop("_bf_words")


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    expected_items: int,
    how: str = "inner",
) -> DataFrame:
    """``fact JOIN dim ON key`` with the fact side Bloom-pruned first.
    Row-identical to the plain join; the plan shuffles only the surviving
    sliver of the fact side.

    Only inner/left_semi are row-identical under fact-side pre-filtering:
    an outer or anti join keeps (or keys on) fact rows WITHOUT a dim
    match, exactly the rows the Bloom filter removes."""
    # normalize Spark's join-type aliases (leftsemi == left_semi == semi)
    if how.replace("_", "").lower() not in ("inner", "leftsemi", "semi"):
        raise ValueError(
            "bloom_pruned_join pre-filters the fact side, which is only "
            f"row-identical for inner/left_semi joins; got {how!r}"
        )
    return bloom_prune(fact, dim, key, expected_items).join(dim, key, how)
