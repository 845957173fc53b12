"""Candidate pair generation: self-join within blocks.

``blocked ⋈ blocked ON join_key AND id_a < id_b`` — a shuffled self-join on
the blocking key; each pair carries its primary ``block_key``. AQE +
skew-join handle residual partition skew; the quadratic-block problem is
already handled upstream (secondary keys in ``blocking.with_block_key``).
Mentions whose key carries no information (empty pincode AND city AND
locality) are excluded — they would form one giant junk block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Raw address fields scoring consumes (digit signatures are derived from
# the first five in blocking.with_block_key) — single source for both
# projections below so adding a field cannot silently drop it from one.
RAW_FIELDS = (
    "house_no", "street", "locality", "city", "state", "pincode",
    "block", "sector", "khasra",
)

# Fields each side carries into scoring (incl. precomputed digit signatures).
# Keep this minimal — every column here is shuffled twice in the self-join.
PAIR_FIELDS = RAW_FIELDS + (
    "house_no_digits", "street_digits", "block_digits", "sector_digits",
    "khasra_digits",
)

# Everything candidate_pairs consumes from the blocked frame. Checkpoint /
# persist THIS projection, not the full mention payload: the wide columns
# (url, normalized text, raw entity struct) are never read by the pair
# join, and at crawl scale they dominate the bytes written — measured 15×
# block-stage blow-up (8.8s → 132s for 4× pages) when the full frame was
# persisted, driven by materializing ~500B/row instead of ~120B/row.
PAIR_INPUT_COLS = ("mention_id", "block_key", "block_size", "join_key", *PAIR_FIELDS)

# Everything the extract→blocking hand-off needs (with_block_key's inputs:
# the raw fields behind PAIR_FIELDS, the normalized text for the city
# fallback regex, plus the id the final cluster attach joins on). Persist
# THIS projection of mentions, not the full payload: raw text and the
# entities span array dominate the serialized bytes (~4× the pruned row)
# and are read by nothing downstream of extraction — at 4.8M pages the
# wide cache pushed both the blocking pass and the extraction stage's
# cache write into disk-bandwidth-bound territory (constant ~110 s at any
# core count).
BLOCK_INPUT_COLS = ("mention_id", "normalized") + RAW_FIELDS


def candidate_pairs(blocked: DataFrame) -> DataFrame:
    """→ one row per unordered candidate pair with both sides' fields and
    the pair's primary ``block_key``.

    The pair joins on ``join_key``, which refines ``block_key``, so both
    sides share the ``block_key`` one side carries."""
    usable = blocked.where("block_key != '||'")

    cols = ["mention_id", "join_key", *PAIR_FIELDS]
    left = usable.selectExpr("block_key", *[f"{c} AS {c}_a" for c in cols])
    right = usable.selectExpr(*[f"{c} AS {c}_b" for c in cols])

    return left.join(
        right, F.expr("join_key_a = join_key_b AND mention_id_a < mention_id_b")
    ).drop("join_key_a", "join_key_b")
