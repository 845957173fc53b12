"""Pairwise similarity scoring (vectorized, JVM-first).

Weighted null-aware combination over the tagged fields (north star:
"vectorized Jaro-Winkler/Levenshtein similarity over tagged fields
(house_no, street, locality, city, state, pincode)").

Design:
- Levenshtein similarity (``levenshtein`` — JVM built-in, codegen) for
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

from pyspark.sql import DataFrame
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
# Levenshtein (JVM built-in, whole-stage codegen) covers the wide fields.
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


# The JVM-side terms are SQL text: the JVM parses one expression string in
# a single call, where each Column-API operator is a py4j round trip (~175
# for one digit-guarded Levenshtein term). Literals carry a ``D`` suffix —
# a bare ``1.0`` in Spark SQL is DECIMAL(2,1), not a double.
def _lev_term(field: str, weight: float, digit_guarded: bool) -> str:
    """SQL: the weighted Levenshtein similarity of one field, 0 when
    either side is null."""
    a, b = f"{field}_a", f"{field}_b"
    ml = f"greatest(length({a}), length({b}))"
    sim = (
        f"CASE WHEN {ml} = 0 THEN 1.0D"
        f" ELSE 1.0D - levenshtein({a}, {b}) / CAST({ml} AS DOUBLE) END"
    )
    if digit_guarded:
        # digit signatures were precomputed per mention in blocking
        sim = f"CASE WHEN {field}_digits_a = {field}_digits_b THEN {sim} ELSE 0.0D END"
    sim = f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN CAST(NULL AS DOUBLE) ELSE {sim} END"
    return f"coalesce({sim} * {weight!r}D, 0.0D)"


_W_TOTAL = sum(w for _, w, _, _ in FIELD_WEIGHTS)
_W_HOUSE = dict((f, w) for f, w, _, _ in FIELD_WEIGHTS)["house_no"]
# Max achievable score when both house digit-signatures are present but
# differ: the house term is 0 and the bound is maximized with every other
# field present and perfect.
_HOUSE_MISMATCH_CEILING = (_W_TOTAL - _W_HOUSE) / _W_TOTAL


def _weight(field: str, weight: float) -> str:
    """SQL: the field's weight when both sides are present, else 0."""
    return (
        f"CASE WHEN {field}_a IS NOT NULL AND {field}_b IS NOT NULL"
        f" THEN {weight!r}D ELSE 0.0D END"
    )


def _edges(scored: DataFrame, threshold: float) -> DataFrame:
    """→ edges(src, dst, score, block_key) of the pairs scoring ≥ threshold."""
    return scored.where(f"score >= {float(threshold)!r}D").selectExpr(
        "mention_id_a AS src", "mention_id_b AS dst", "round(score, 6) AS score", "block_key"
    )


def score_pairs(pairs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """→ edges(src, dst, score, block_key) for pairs scoring ≥ threshold.

    ``pairs`` carries the pair's primary ``block_key`` (``candidate_pairs``
    emits it; the incremental attach joins on it), which is passed through:
    both endpoints of every edge share it, so ``cc.block_local_components``
    partitions the edges by it.

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
            "house_no_a IS NULL OR house_no_b IS NULL OR house_no_digits_a = house_no_digits_b"
        )

    partial_sim = " + ".join(_lev_term(f, w, g) for f, w, g in jvm_fields) or "0.0D"
    total_weight = " + ".join(_weight(f, w) for f, w, _, _ in FIELD_WEIGHTS)

    if not jw_fields:
        scored = pairs.withColumn(
            "score",
            F.expr(
                f"CASE WHEN ({total_weight}) > 0"
                f" THEN ({partial_sim}) / ({total_weight}) ELSE 0.0D END"
            ),
        )
        return _edges(scored, threshold)

    # guard booleans resolved JVM-side so only the raw strings cross the wire
    narrow_cols = [
        "mention_id_a",
        "mention_id_b",
        f"{partial_sim} AS partial_sim",
        f"{total_weight} AS total_weight",
        "block_key",
    ]
    for f, _, guarded in jw_fields:
        ok = f"{f}_a IS NOT NULL AND {f}_b IS NOT NULL"
        if guarded:
            ok += f" AND {f}_digits_a = {f}_digits_b"
        narrow_cols += [f"{f}_a", f"{f}_b", f"{ok} AS {f}_jw_ok"]

    narrow = pairs.selectExpr(*narrow_cols).repartition(
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
    return _edges(scored, threshold)
