"""Structured Streaming tests: extraction + watermarked dedup on a file stream.

The module keeps its historical name so that the test ids stay stable.
"""

import pytest

from indian_address_parser_spark.sources.pages import generate


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mmpages"))
    generate(spark, n_households=100)["pages"].write.mode("overwrite").parquet(root)
    return spark.read.parquet(root)


class TestStreaming:
    def test_stream_extract_and_dedup(self, spark, pages, tmp_path):
        from indian_address_parser_spark.streaming.stream import (
            stream_dedup_mentions,
            stream_extract_mentions,
        )

        src_dir = str(tmp_path / "stream_src")
        out_dir = str(tmp_path / "stream_out")
        ckpt = str(tmp_path / "ckpt")
        # write the same pages twice → duplicates the stream must drop
        pages.write.mode("overwrite").parquet(src_dir)
        pages.write.mode("append").parquet(src_dir)

        stream = spark.readStream.schema(pages.schema).parquet(src_dir)
        mentions = stream_extract_mentions(stream)
        deduped = stream_dedup_mentions(mentions, late_window="10 minutes")

        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = spark.read.parquet(out_dir)
        batch = pages.count()  # pages were duplicated; mentions must not be
        n_mentions = got.count()
        assert got.select("mention_id").distinct().count() == n_mentions
        from indian_address_parser_spark.operators.extract import extract_mentions

        assert n_mentions == extract_mentions(pages).count()
