"""Pairwise similarity scoring (vectorized, JVM-first).

Weighted null-aware combination over the tagged fields (north star:
"vectorized Jaro-Winkler/Levenshtein similarity over tagged fields
(house_no, street, locality, city, state, pincode)").

Design:
- Levenshtein similarity (``F.levenshtein`` — JVM built-in, codegen) for
  locality/city/state; Jaro-Winkler (Arrow pandas UDF, DuckDB-parity) for
  house/street where prefix weighting helps.
- Digit-bearing fields (house_no, street, sector, block, khasra) carry the
  address identity in their digits: if the digit signatures differ the
  field's similarity is 0 regardless of string closeness ("HOUSE NO 45" vs
  "HOUSE NO 46" must NOT score 0.95).
- Null-aware: a field contributes only when both sides are non-null; the
  score renormalizes over the present weights. All of this is plain column
  arithmetic — one narrow stage after the pair join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.functions.udfs import jaro_winkler_udf

# (field, weight, digit_guarded, use_jw)
# Jaro-Winkler (prefix-weighted, the north star's named similarity) runs on
# house_no/street — but only AFTER the JVM digit-signature prune below has
# dropped the overwhelmingly-cross-household bulk of each block: the Arrow
# JW kernel (numpy position-loop, fuzzy.jaro_winkler_batch) then sees a tiny
# survivor set. Running a Python UDF on the UNPRUNED pair stream measurably
# anti-scaled (32 Python workers contending with the join's JVM threads ran
# 3-10× slower than 8 — see BENCH/BASELINE.md); post-prune it is noise.
# Levenshtein (F.levenshtein, whole-stage codegen) covers the wide fields.
FIELD_WEIGHTS = (
    ("house_no", 0.30, True, True),
    ("street", 0.15, True, True),
    ("locality", 0.25, False, False),
    ("city", 0.10, False, False),
    ("state", 0.03, False, False),
    ("pincode", 0.12, False, False),
    ("block", 0.05, True, False),
    ("sector", 0.05, True, False),
    ("khasra", 0.05, True, False),
)

DEFAULT_THRESHOLD = 0.80


def _lev_sim(a: Column, b: Column) -> Column:
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / ml.cast("double")
    )


def field_similarity(field: str, digit_guarded: bool, use_jw: bool) -> Column:
    a, b = F.col(f"{field}_a"), F.col(f"{field}_b")
    base = jaro_winkler_udf(a, b) if use_jw else _lev_sim(a, b)
    if digit_guarded:
        # digit signatures were precomputed per mention in blocking
        base = F.when(
            F.col(f"{field}_digits_a") == F.col(f"{field}_digits_b"), base
        ).otherwise(F.lit(0.0))
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(base)


_W_TOTAL = sum(w for _, w, _, _ in FIELD_WEIGHTS)
_W_HOUSE = dict((f, w) for f, w, _, _ in FIELD_WEIGHTS)["house_no"]
# Max achievable score when both house digit-signatures are present but
# differ: the house term is 0 and the bound is maximized with every other
# field present and perfect.
_HOUSE_MISMATCH_CEILING = (_W_TOTAL - _W_HOUSE) / _W_TOTAL


def _weight_col(field: str, weight: float) -> Column:
    return F.when(
        F.col(f"{field}_a").isNotNull() & F.col(f"{field}_b").isNotNull(),
        F.lit(weight),
    ).otherwise(F.lit(0.0))


def score_pairs(pairs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """→ edges(src, dst, score[, join_key]) for pairs scoring ≥ threshold.

    ``join_key`` is passed through when the pair frame carries it (as
    ``candidate_pairs`` output does): it is what makes the edges key-local
    for ``cc.block_local_components``.

    Two-stage plan when Jaro-Winkler fields are enabled:
      1. JVM stage (whole-stage codegen, inside the pair-join stage): the
         digit-signature prune, every Levenshtein field term, and the weight
         normalizer — projected down to (ids, JW inputs, partial sums).
      2. A round-robin exchange of that NARROW projection (~6 short strings
         per row instead of the full 24-column pair payload), then the Arrow
         JW kernel + threshold filter. The exchange exists because the UDF
         would otherwise run inside the join's output stage at whatever
         partition count AQE coalesced to — measured serial (flat 12s at 8
         and 32 cores); fanned out it is sub-second per core.
    """
    jw_fields = [(f, w, g) for f, w, g, jw in FIELD_WEIGHTS if jw]
    jvm_fields = [(f, w, g) for f, w, g, jw in FIELD_WEIGHTS if not jw]

    if threshold > _HOUSE_MISMATCH_CEILING:
        # Exact JVM-side prune: a pair whose house digit-signatures are both
        # present and unequal can never reach the threshold, so drop it
        # before the (Python) Jaro-Winkler UDF ever runs. This is the main
        # cost lever — within a block most pairs are cross-household and die
        # here inside whole-stage codegen.
        pairs = pairs.where(
            F.col("house_no_a").isNull()
            | F.col("house_no_b").isNull()
            | (F.col("house_no_digits_a") == F.col("house_no_digits_b"))
        )

    jvm_terms = [
        F.coalesce(field_similarity(f, g, False) * F.lit(w), F.lit(0.0))
        for f, w, g in jvm_fields
    ]
    partial_sim = sum(jvm_terms[1:], jvm_terms[0]) if jvm_terms else F.lit(0.0)
    weight_cols = [_weight_col(f, w) for f, w, _, _ in FIELD_WEIGHTS]
    total_weight = sum(weight_cols[1:], weight_cols[0])

    key = [F.col("join_key")] if "join_key" in pairs.columns else []
    if not jw_fields:
        scored = pairs.withColumn(
            "score",
            F.when(total_weight > 0, partial_sim / total_weight).otherwise(F.lit(0.0)),
        )
        return scored.where(F.col("score") >= F.lit(threshold)).select(
            F.col("mention_id_a").alias("src"),
            F.col("mention_id_b").alias("dst"),
            F.round("score", 6).alias("score"),
            *key,
        )

    # guard booleans resolved JVM-side so only the raw strings cross the wire
    narrow_cols = [
        F.col("mention_id_a"),
        F.col("mention_id_b"),
        partial_sim.alias("partial_sim"),
        total_weight.alias("total_weight"),
        *key,
    ]
    for f, _, guarded in jw_fields:
        narrow_cols += [F.col(f"{f}_a"), F.col(f"{f}_b")]
        ok = F.col(f"{f}_a").isNotNull() & F.col(f"{f}_b").isNotNull()
        if guarded:
            ok = ok & (F.col(f"{f}_digits_a") == F.col(f"{f}_digits_b"))
        narrow_cols.append(ok.alias(f"{f}_jw_ok"))

    narrow = pairs.select(narrow_cols).repartition(
        pairs.sparkSession.sparkContext.defaultParallelism
    )

    jw_terms = [
        F.when(
            F.col(f"{f}_jw_ok"),
            jaro_winkler_udf(F.col(f"{f}_a"), F.col(f"{f}_b")) * F.lit(w),
        ).otherwise(F.lit(0.0))
        for f, w, _ in jw_fields
    ]
    total_sim = sum(jw_terms, F.col("partial_sim"))
    scored = narrow.withColumn(
        "score",
        F.when(F.col("total_weight") > 0, total_sim / F.col("total_weight")).otherwise(
            F.lit(0.0)
        ),
    )
    return scored.where(F.col("score") >= F.lit(threshold)).select(
        F.col("mention_id_a").alias("src"),
        F.col("mention_id_b").alias("dst"),
        F.round("score", 6).alias("score"),
        *key,
    )
