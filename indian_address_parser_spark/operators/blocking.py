"""Blocking-key derivation + skew handling (north rule).

Primary key: ``pincode | city | soundex(locality)`` — all JVM-side built-ins
(``F.soundex``), whole-stage-codegen friendly, no Python.

Skew strategy (SURVEY.md §4.2): a single mega-block (dominant metro pincode)
creates O(n²) candidate pairs *within* the block no matter how the shuffle is
partitioned — AQE's skew-join splitting fixes partition skew but not the
quadratic blow-up. So blocks larger than ``max_block_size`` get a secondary
key component (soundex of the street + the house-number digit signature),
which is the ER-correct form of "salting": it splits the block along a
feature that true matches share, so recall is preserved while pair counts
drop quadratically. Block-size accounting is computed first (cheap hash agg)
and both the histogram and the estimated pair count are observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# fields whose digit runs carry the address identity (scoring hard features)
DIGIT_FIELDS = ("house_no", "street", "block", "sector", "khasra")


def _soundex_or_empty(col: str) -> str:
    """SQL: soundex of the column's letters, '' when it has none."""
    letters = f"regexp_replace(coalesce({col}, ''), '[^A-Za-z]', '')"
    return f"CASE WHEN length({letters}) > 0 THEN soundex({letters}) ELSE '' END"


def with_block_key(mentions: DataFrame, max_block_size: int = 200) -> DataFrame:
    """Attach ``block_key`` (+ secondary split for oversized blocks).

    Returns the input with columns:
      block_key      primary blocking key
      block_size     size of the primary block (for observability)
      join_key       the key candidate generation actually joins on
                     (= block_key, or block_key + secondary for mega-blocks)
    """
    # Blocking favours recall: when refinement swallowed the CITY span
    # (e.g. a locality+city merge in comma-free text), fall back to the
    # city evidence in the normalized text itself. Pure JVM regex. The
    # expressions are SQL text, parsed by the JVM in one call each (see
    # scoring.py); backslashes in the regex literals are doubled for the
    # SQL string literal.
    block_city = (
        r"coalesce(city, CASE WHEN normalized RLIKE '\\bNEW DELHI\\b' THEN 'NEW DELHI' END,"
        r" CASE WHEN normalized RLIKE '\\bDELHI\\b' THEN 'DELHI' END)"
    )
    keyed = mentions.withColumn(
        "block_key",
        F.expr(
            f"concat_ws('|', coalesce(pincode, ''), coalesce({block_city}, ''),"
            f" {_soundex_or_empty('locality')})"
        ),
    )
    # Block sizes via a partial-aggregated count joined back HINT-FREE: AQE
    # broadcasts the size table while it fits (it is |distinct block keys|)
    # and degrades to a skew-split shuffle join when it does not — no
    # driver-OOM cliff like a forced F.broadcast, and no single-task sort
    # like a window count (window partitions are NOT skew-splittable: the
    # dominant-metro mega-block serialized the whole stage when this was a
    # Window.partitionBy count — measured 8× stage regression at 32 cores).
    sizes = keyed.groupBy("block_key").agg(F.count("*").alias("block_size"))
    keyed = keyed.join(sizes, "block_key")

    # digit signatures computed ONCE per mention (used as the secondary
    # blocking component and as scoring hard features — hoisting them out
    # of the pair join halves the per-pair expression work)
    keyed = keyed.withColumns({
        f"{f}_digits": F.expr(
            f"CASE WHEN {f} IS NOT NULL THEN regexp_replace({f}, '[^0-9/]', '') END"
        )
        for f in DIGIT_FIELDS
    })

    secondary = f"concat_ws('|', {_soundex_or_empty('street')}, coalesce(house_no_digits, ''))"
    return keyed.withColumn(
        "join_key",
        F.expr(
            f"CASE WHEN block_size > {int(max_block_size)}"
            f" THEN concat_ws('||', block_key, {secondary}) ELSE block_key END"
        ),
    )


def block_stats(blocked: DataFrame) -> DataFrame:
    """Histogram + pair-count estimate per primary block (observability)."""
    return (
        blocked.groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .withColumn("est_pairs", F.col("n") * (F.col("n") - 1) / 2)
        .orderBy(F.desc("n"))
    )
