"""Structured Streaming surface: incremental mention extraction + dedup.

The batch pipeline's extraction operator is reused verbatim on a stream —
``mapInPandas`` works identically under ``readStream`` because it is
stateless per row. Two streaming operators are provided:

- ``stream_extract_mentions``: pages stream → mentions stream (append mode,
  narrow, no state).
- ``stream_dedup_mentions``: exact-dedup on ``mention_id`` with a watermark
  on ``warc_ts`` — ``dropDuplicatesWithinWatermark`` keeps state bounded,
  which is what makes this viable on an unbounded crawl: state is purged
  once the watermark passes, so re-crawled pages inside the late window
  dedup correctly and old state never accumulates.

Incremental clustering (streaming CC) is intentionally NOT implemented as a
stream: connected components is a global fixpoint. Micro-batch
incremental ER runs through ``foreachBatch`` instead, in
``streaming/incremental_er.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from indian_address_parser_spark.functions.udfs import make_mention_extractor, mention_schema


def stream_extract_mentions(pages_stream: DataFrame, candidate_fn=None) -> DataFrame:
    """Streaming pages(url, warc_ts, text, ...) → mentions (+ warc_ts carried).

    ``warc_ts`` rides THROUGH the mapInPandas UDF as a passthrough column —
    a re-join on url here would be a stream-stream join (watermark state +
    an extra shuffle) between two branches of the same source; the
    passthrough costs zero shuffles and keeps the operator narrow.
    """
    passthrough = (("warc_ts", T.TimestampType()),)
    src = pages_stream.select("url", "warc_ts", "text").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    extracted = src.mapInPandas(
        make_mention_extractor(candidate_fn, passthrough=passthrough),
        mention_schema(passthrough),
    )
    return extracted.withColumn(
        "mention_id",
        F.concat_ws("#", F.col("url"), F.col("mention_seq").cast("string")),
    )


def stream_dedup_mentions(mentions_stream: DataFrame, late_window: str = "1 hour") -> DataFrame:
    """Exact dedup with bounded state (watermark on warc_ts)."""
    return mentions_stream.withWatermark("warc_ts", late_window).dropDuplicatesWithinWatermark(
        ["mention_id"]
    )
