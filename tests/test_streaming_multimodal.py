"""Structured Streaming + multimodal binary plumbing tests."""

import pytest
from pyspark.sql import functions as F

from indian_address_parser_spark.operators.multimodal import (
    binary_metadata,
    decode_features,
)
from indian_address_parser_spark.sources.pages import generate


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mmpages"))
    generate(spark, n_households=100)["pages"].write.mode("overwrite").parquet(root)
    return spark.read.parquet(root)


class TestMultimodal:
    def test_binary_metadata(self, spark, pages):
        meta = binary_metadata(pages, binary_col="html")
        rows = meta.collect()
        assert len(rows) == pages.count()
        for r in rows[:10]:
            assert r["modality"] == "text" and r["format"] == "html"
            assert r["n_bytes"] > 0 and len(r["sha1"]) == 40

    def test_metadata_deterministic(self, spark, pages):
        a = binary_metadata(pages).orderBy("url").collect()
        b = binary_metadata(pages).orderBy("url").collect()
        assert a == b

    def test_decode_features_unsupported_modality_kept_with_error(self, spark, pages):
        feats = decode_features(pages)
        rows = feats.collect()
        assert len(rows) == pages.count()
        # html has no decoder registered → decode_error set, row kept
        assert all(r["decode_error"] is not None for r in rows)

    def test_decode_features_jpeg_real_through_mapinpandas(self, spark):
        """Baseline JPEG decodes for REAL through the plan (no libjpeg):
        a genuine photograph from the public Spark distribution's mllib
        sample data yields its true dimensions; a corrupt JPEG payload is
        kept with decode_error."""
        import os

        real = _SPARK_KITTEN
        if not os.path.exists(real):
            pytest.skip("Spark sample images not present")
        payload = open(real, "rb").read()
        df = spark.createDataFrame(
            [
                ("kitten", bytearray(payload)),
                ("corrupt", bytearray(b"\xff\xd8\xff\xe0" + b"x" * 100)),
            ],
            ["url", "html"],
        )
        rows = {r["url"]: r for r in decode_features(df).collect()}
        k = rows["kitten"]
        assert k["modality"] == "image" and k["decode_error"] is None
        assert (k["width"], k["height"], k["channels"]) == (300, 296, 3)
        assert rows["corrupt"]["decode_error"] is not None


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _make_png(rows: list[bytes], channels: int, filters: list[int] | None = None) -> bytes:
    """Encode a REAL PNG (8-bit, non-interlaced) applying the given
    per-scanline filter types — the exact inverse of decode_png's unfilter,
    implemented independently here so the test is not self-confirming."""
    import struct
    import zlib

    h = len(rows)
    w = len(rows[0]) // channels
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    filters = filters or [0] * h
    bpp = channels
    prev = bytes(w * channels)
    raw = b""
    for y, row in enumerate(rows):
        f = filters[y]
        line = list(row)
        enc = list(line)
        for i in range(len(line)):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = bytes(row)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


class TestPngDecode:
    def test_decode_png_all_filters_roundtrip(self):
        """4×5 grayscale exercising every scanline filter (0..4): unfiltered
        pixels must equal the originals byte-for-byte."""
        from indian_address_parser_spark.operators.multimodal import decode_png

        rows = [bytes([(x * 37 + y * 91) & 0xFF for x in range(4)]) for y in range(5)]
        png = _make_png(rows, channels=1, filters=[0, 1, 2, 3, 4])
        d = decode_png(png)
        assert (d["width"], d["height"], d["channels"]) == (4, 5, 1)
        assert d["pixels"] == b"".join(rows)

    def test_decode_png_rgb_and_rgba(self):
        from indian_address_parser_spark.operators.multimodal import decode_png

        rgb = [bytes(range(y, y + 6)) for y in range(2)]  # 2×2 RGB
        d = decode_png(_make_png(rgb, channels=3, filters=[4, 4]))
        assert (d["width"], d["height"], d["channels"]) == (2, 2, 3)
        assert d["pixels"] == b"".join(rgb)
        rgba = [bytes(range(y, y + 8)) for y in range(3)]  # 2×3 RGBA
        d = decode_png(_make_png(rgba, channels=4, filters=[1, 2, 3]))
        assert (d["width"], d["height"], d["channels"]) == (2, 3, 4)
        assert d["pixels"] == b"".join(rgba)

    def test_real_png_through_mapinpandas(self, spark):
        """The r3 'done' gate: a real 2×2 PNG payload decodes through the
        decode_features mapInPandas path to true width/height/channels."""
        png = _make_png([bytes(range(6)), bytes(range(10, 16))], channels=3)
        df = spark.createDataFrame([("u1", bytearray(png))], ["url", "html"])
        row = decode_features(df).collect()[0]
        assert row["modality"] == "image"
        assert row["decode_error"] is None
        assert (row["width"], row["height"], row["channels"]) == (2, 2, 3)

    def test_corrupt_png_kept_with_error(self, spark):
        df = spark.createDataFrame(
            [("bad", bytearray(b"\x89PNG\r\n" + b"x" * 64))], ["url", "html"]
        )
        row = decode_features(df).collect()[0]
        assert row["modality"] == "image"
        assert row["decode_error"] and "ValueError" in row["decode_error"]
        assert row["width"] is None

    def test_wav_header_decode_roundtrip(self):
        """Stdlib wave-module-written PCM file decodes to exact params."""
        import io
        import wave

        from indian_address_parser_spark.operators.multimodal import decode_wav

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(44100)
            w.writeframes(b"\x00\x01" * 2 * 441)  # 441 stereo frames
        d = decode_wav(buf.getvalue())
        assert d == {
            "channels": 2,
            "sample_rate": 44100,
            "n_samples": 441,
            "duration_ms": 10.0,
        }

    def test_wav_through_mapinpandas_and_compressed_error(self, spark):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(b"\x00\x01" * 80)
        good = buf.getvalue()
        # ADPCM (format 2): header-valid but compressed → decode_error
        fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 8)
        bad = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 0)
        )
        df = spark.createDataFrame(
            [("good", bytearray(good)), ("bad", bytearray(bad))], ["url", "html"]
        )
        rows = {r["url"]: r for r in decode_features(df).collect()}
        g = rows["good"]
        assert g["modality"] == "audio" and g["decode_error"] is None
        assert (g["channels"], g["sample_rate"], g["n_samples"]) == (1, 8000, 80)
        assert g["duration_ms"] == 10.0
        assert rows["bad"]["decode_error"] and "format 2" in rows["bad"]["decode_error"]

    def test_png_property_roundtrip(self):
        """Property: encode(pixels, any filters) → decode == pixels, for
        arbitrary sizes, channel counts, and per-row filter choices."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from indian_address_parser_spark.operators.multimodal import decode_png

        @settings(max_examples=40, deadline=None)
        @given(data=st.data())
        def prop(data):
            w = data.draw(st.integers(1, 6))
            h = data.draw(st.integers(1, 5))
            ch = data.draw(st.sampled_from([1, 2, 3, 4]))
            rows = [
                bytes(data.draw(st.integers(0, 255)) for _ in range(w * ch))
                for _ in range(h)
            ]
            filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
            d = decode_png(_make_png(rows, channels=ch, filters=filters))
            assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
            assert d["pixels"] == b"".join(rows)

        prop()

    def test_unsupported_png_shapes_raise_not_implemented(self):
        import struct

        import pytest as _pytest

        from indian_address_parser_spark.operators.multimodal import decode_png

        def header(depth, color, interlace=0):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
            return b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)

        with _pytest.raises(NotImplementedError, match="bit depth"):
            decode_png(header(16, 0))
        with _pytest.raises(NotImplementedError, match="palette"):
            decode_png(header(8, 3))
        with _pytest.raises(NotImplementedError, match="Adam7"):
            decode_png(header(8, 0, interlace=1))


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

    def test_stream_windowed_counts(self, spark, pages, tmp_path):
        """Watermarked tumbling-window agg: totals match the batch groupBy."""
        from indian_address_parser_spark.streaming.stream import (
            stream_extract_mentions,
            stream_windowed_counts,
        )

        src_dir = str(tmp_path / "w_src")
        out_dir = str(tmp_path / "w_out")
        ckpt = str(tmp_path / "w_ckpt")
        pages.write.mode("overwrite").parquet(src_dir)

        stream = spark.readStream.schema(pages.schema).parquet(src_dir)
        counts = stream_windowed_counts(
            stream_extract_mentions(stream), window="1 hour", late_window="1 minute"
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        # append mode only FINALIZES windows the watermark has passed — and
        # the watermark only advances on NEW events. Feed one future-dated
        # sentinel page, then tick again: the sentinel pushes the watermark
        # past every real window and flushes them.
        sentinel = pages.limit(1).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")
        )
        sentinel.write.mode("append").parquet(src_dir)
        q2 = (
            counts.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(300)

        got = spark.read.parquet(out_dir)
        from indian_address_parser_spark.operators.extract import extract_mentions

        batch = (
            extract_mentions(pages)
            .groupBy("pincode")
            .count()
            .withColumnRenamed("count", "n")
        )
        # every finalized (window, pincode) row must agree with the batch
        # count for that pincode summed over windows
        streamed = got.groupBy("pincode").agg(F.sum("n_mentions").alias("n_s"))
        joined = streamed.join(batch, "pincode")
        bad = joined.where(F.col("n_s") > F.col("n")).count()
        assert bad == 0
        assert got.count() > 0

    def test_stream_url_sessions_timeout_evicts_state(self, spark, tmp_path):
        """EventTimeTimeout: once the watermark passes a url's last event by
        session_timeout, the session closes (closed=true emitted) and its
        state row is dropped — a later re-appearance starts a FRESH session
        instead of continuing the old count."""
        import os
        import time

        import pandas as pd

        from indian_address_parser_spark.streaming.stream import stream_url_sessions

        src_dir = str(tmp_path / "t_src")
        os.makedirs(src_dir)
        t0 = pd.Timestamp("2026-01-01 00:00:00")

        def write_batch(name, rows, mtime):
            pdf = pd.DataFrame(rows, columns=["url", "warc_ts"])
            pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).astype("datetime64[us]")
            path = os.path.join(src_dir, name)
            pdf.to_parquet(path, coerce_timestamps="us")
            os.utime(path, (mtime, mtime))

        base = time.time() - 100
        # batch 1: url A, 2 events. late_window=1h, timeout=30m.
        write_batch("f1.parquet", [("A", t0), ("A", t0 + pd.Timedelta("1 minute"))], base)
        # batch 2: url B at t0+3h → watermark after this batch = t0+2h,
        # which is past A's last event + 30m → A times out in batch 3
        # (timeouts only fire for groups with NO data in the batch, so
        # batch 3 must not contain A)
        write_batch("f2.parquet", [("B", t0 + pd.Timedelta("3 hours"))], base + 2)
        write_batch(
            "f3.parquet", [("C", t0 + pd.Timedelta("3 hours 1 minute"))], base + 4
        )
        # batch 4: A re-appears after eviction — must be a fresh session
        # (n=1, not 3)
        write_batch(
            "f4.parquet", [("A", t0 + pd.Timedelta("3 hours 2 minutes"))], base + 6
        )

        stream = (
            spark.readStream.schema("url string, warc_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        sessions = stream_url_sessions(
            stream, session_timeout="30 minutes", late_window="1 hour"
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("url_sessions_timeout")
            .option("checkpointLocation", str(tmp_path / "t_ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        rows = spark.table("url_sessions_timeout").collect()
        a_rows = sorted(
            (r for r in rows if r["url"] == "A"), key=lambda r: r["last_ts"]
        )
        closed = [r for r in a_rows if r["closed"]]
        assert len(closed) == 1, a_rows
        assert closed[0]["n_mentions"] == 2
        # the re-appearance after eviction is a fresh session
        fresh = [r for r in a_rows if r["last_ts"] > closed[0]["last_ts"]]
        assert fresh and all(r["n_mentions"] == 1 for r in fresh), a_rows
        b_rows = [r for r in rows if r["url"] == "B"]
        assert b_rows and all(not r["closed"] for r in b_rows)

    def test_stream_url_sessions_stateful(self, spark, pages, tmp_path):
        """applyInPandasWithState accumulator: per-url counts match batch."""
        from indian_address_parser_spark.streaming.stream import (
            stream_extract_mentions,
            stream_url_sessions,
        )

        src_dir = str(tmp_path / "s_src")
        ckpt = str(tmp_path / "s_ckpt")
        pages.write.mode("overwrite").parquet(src_dir)

        stream = spark.readStream.schema(pages.schema).parquet(src_dir)
        sessions = stream_url_sessions(stream_extract_mentions(stream))
        # update mode needs an update-capable sink — memory sink in tests
        q = (
            sessions.writeStream.format("memory")
            .queryName("url_sessions")
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = spark.table("url_sessions")
        # update mode may emit a url several times (one per batch); the LAST
        # row per url carries the running total — single batch here, so rows
        # are already final
        from indian_address_parser_spark.operators.extract import extract_mentions

        batch = extract_mentions(pages).groupBy("url").count()
        joined = got.join(batch, "url")
        mismatches = joined.where(F.col("n_mentions") != F.col("count")).count()
        assert mismatches == 0
        assert got.count() == batch.count()
        r = got.limit(1).collect()[0]
        assert r["first_ts"] <= r["last_ts"]


# --- MP3: synthetic CBR/VBR frame streams -----------------------------------


def _mp3_frame_bytes(br_idx: int = 9, sr_idx: int = 0, mono: bool = False,
                     padding: int = 0) -> bytes:
    """One MPEG1 Layer-III frame (header + zero payload of the exact
    header-arithmetic length)."""
    bitrates = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    rates = (44100, 48000, 32000)
    b1 = 0xFB  # MPEG1, Layer III, no CRC
    b2 = (br_idx << 4) | (sr_idx << 2) | (padding << 1)
    b3 = 0xC0 if mono else 0x00
    frame_len = 144 * bitrates[br_idx - 1] * 1000 // rates[sr_idx] + padding
    return bytes([0xFF, b1, b2, b3]) + b"\x00" * (frame_len - 4)


def _id3v2(size: int) -> bytes:
    body = b"\x00" * size
    ss = bytes(
        [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
    )
    return b"ID3\x04\x00\x00" + ss + body


class TestMp3Decode:
    def test_cbr_stream_with_id3_tag(self):
        from indian_address_parser_spark.operators.multimodal import decode_mp3

        payload = _id3v2(77) + _mp3_frame_bytes() * 5
        d = decode_mp3(payload)
        assert d["sample_rate"] == 44100 and d["channels"] == 2
        assert d["n_samples"] == 5 * 1152
        assert d["duration_ms"] == round(1000.0 * 5 * 1152 / 44100, 3)

    def test_vbr_counts_true_frame_durations(self):
        from indian_address_parser_spark.operators.multimodal import decode_mp3

        frames = [_mp3_frame_bytes(br_idx=i, mono=True) for i in (3, 9, 14, 5)]
        d = decode_mp3(b"".join(frames))
        assert d["channels"] == 1
        assert d["n_samples"] == 4 * 1152

    def test_false_sync_is_rejected(self):
        from indian_address_parser_spark.operators.multimodal import decode_mp3

        # 0xFF bytes that never parse as a confirmed header pair
        with pytest.raises(ValueError, match="no MPEG audio frame"):
            decode_mp3(b"\xff\x00\xff\x00" * 64)

    def test_garbage_after_last_frame_is_ignored(self):
        from indian_address_parser_spark.operators.multimodal import decode_mp3

        d = decode_mp3(_mp3_frame_bytes() * 3 + b"TAG" + b"\x00" * 125)
        assert d["n_samples"] == 3 * 1152

    def test_mp3_through_mapinpandas_bare_sync(self, spark):
        """A bare (ID3-less) MPEG1-LIII stream sniffs as audio/mp3 and
        decodes through the DECODERS registry."""
        payload = _mp3_frame_bytes() * 2
        df = spark.createDataFrame([("m1", bytearray(payload))], ["url", "html"])
        row = decode_features(df).collect()[0]
        assert row["modality"] == "audio" and row["decode_error"] is None
        assert row["sample_rate"] == 44100
        assert row["n_samples"] == 2 * 1152


        assert row["n_samples"] == 2 * 1152


# --- minimal baseline JPEG ENCODER (test-only): RGB→YCbCr → optional
# box-mean chroma downsample → 8×8 forward DCT → quantize → zigzag →
# Huffman RLE with byte stuffing, so the frame-header walk runs over a
# complete file (DQT/DHT segments around the SOF). ---

_SPARK_KITTEN = (
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens/DP153539.jpg"
)


def _jpeg_huffspec():
    dc = ([0, 0, 0, 12] + [0] * 12, bytes(range(12)))
    ac_syms = bytes([0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)])
    ac = ([0] * 7 + [162] + [0] * 8, ac_syms)
    return dc, ac


def _jpeg_huff_codes(counts, symbols):
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, v, k):
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.n:
            self.put(0xFF, 8 - self.n)  # pad with 1-bits (T.81 F.1.2.3)


def _jpeg_mag(v):
    s = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _make_jpeg(img, samp=None, restart=0, qval=1):
    """Encode a numpy uint8 image (HxW grayscale or HxWx3 RGB) as a
    baseline JPEG. qval fills the whole quantization table (qval>255
    exercises the 16-bit DQT path); samp is a per-component (h, v) list."""
    import struct

    import numpy as np

    gray = img.ndim == 2
    h_img, w_img = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
        samp = samp or [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    q = np.full(64, float(qval))
    comp_planes = []
    for (hs, vs), plane in zip(samp, planes):
        fh, fw = mcuy * vmax * 8, mcux * hmax * 8
        pl = np.pad(plane, ((0, fh - h_img), (0, fw - w_img)), mode="edge")
        ry, rx = vmax // vs, hmax // hs
        if ry > 1 or rx > 1:
            pl = pl.reshape(fh // ry, ry, fw // rx, rx).mean(axis=(1, 3))
        comp_planes.append(pl)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    C = np.cos((2 * x + 1) * u * np.pi / 16) * np.sqrt(2.0 / 8)
    C[0, :] = np.sqrt(1.0 / 8)
    # zigzag position k → row-major index: walk the anti-diagonals, up-right
    # on even ones (x ascending), down-left on odd ones (y ascending)
    zig = np.asarray(
        sorted(range(64), key=lambda i: (i // 8 + i % 8, (i % 8, i // 8)[(i // 8 + i % 8) % 2]))
    )
    dc_spec, ac_spec = _jpeg_huffspec()
    dc_codes = _jpeg_huff_codes(*dc_spec)
    ac_codes = _jpeg_huff_codes(*ac_spec)
    out = bytearray(b"\xff\xd8")
    wide = qval > 255
    body = bytes([(1 << 4) if wide else 0]) + (
        struct.pack(">64H", *(int(v) for v in q)) if wide else bytes(int(v) for v in q)
    )
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h_img, w_img, ncomp)
    for i, (hs, vs) in enumerate(samp):
        sof += bytes([i + 1, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (counts, syms) in ((0, dc_spec), (1, ac_spec)):
        body = bytes([tc << 4]) + bytes(counts) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    sos = bytes([ncomp]) + b"".join(bytes([i + 1, 0x00]) for i in range(ncomp))
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    mcu_count = rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                bw.flush()
                out += bw.out
                bw = _JpegBitWriter()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * ncomp
            for ci, (hs, vs) in enumerate(samp):
                pl = comp_planes[ci]
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blk = pl[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        zzc = np.rint((C @ blk @ C.T).reshape(64)[zig] / q).astype(int)
                        diff = int(zzc[0]) - preds[ci]
                        preds[ci] = int(zzc[0])
                        s, bits = _jpeg_mag(diff)
                        code, ln = dc_codes[s]
                        bw.put(code, ln)
                        if s:
                            bw.put(bits, s)
                        k = 1
                        while k < 64:
                            run = 0
                            while k < 64 and zzc[k] == 0:
                                run += 1
                                k += 1
                            if k == 64:
                                code, ln = ac_codes[0x00]  # EOB
                                bw.put(code, ln)
                                break
                            while run >= 16:
                                code, ln = ac_codes[0xF0]  # ZRL
                                bw.put(code, ln)
                                run -= 16
                            s, bits = _jpeg_mag(int(zzc[k]))
                            code, ln = ac_codes[(run << 4) | s]
                            bw.put(code, ln)
                            bw.put(bits, s)
                            k += 1
            mcu_count += 1
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out)



# --- in-test EBML writer (the independent encode half for decode_webm) ---


def _ebml_id(i: int) -> bytes:
    return i.to_bytes((i.bit_length() + 7) // 8, "big")


def _ebml_size(n: int) -> bytes:
    for ln in range(1, 9):
        if n < (1 << (7 * ln)) - 1:
            return ((1 << (7 * ln)) | n).to_bytes(ln, "big")
    raise ValueError("size too large")


def _ebml_el(i: int, body: bytes) -> bytes:
    return _ebml_id(i) + _ebml_size(len(body)) + body


def _ebml_uint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _make_webm(duration_ticks=12345.0, scale_ns=1_000_000, unknown_size=False):
    import struct

    hdr = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, b"webm"))
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, _ebml_uint(scale_ns))
        + _ebml_el(0x4489, struct.pack(">d", duration_ticks)),
    )
    vtrack = _ebml_el(
        0xAE,
        _ebml_el(0x83, _ebml_uint(1))
        + _ebml_el(0x86, b"V_VP9")
        + _ebml_el(0xE0, _ebml_el(0xB0, _ebml_uint(640)) + _ebml_el(0xBA, _ebml_uint(360))),
    )
    atrack = _ebml_el(
        0xAE,
        _ebml_el(0x83, _ebml_uint(2))
        + _ebml_el(0x86, b"A_OPUS")
        + _ebml_el(
            0xE1,
            _ebml_el(0xB5, struct.pack(">f", 48000.0)) + _ebml_el(0x9F, _ebml_uint(2)),
        ),
    )
    tracks = _ebml_el(0x1654AE6B, vtrack + atrack)
    if unknown_size:  # streamed Matroska: Segment size all-ones
        return hdr + _ebml_id(0x18538067) + b"\xff" + info + tracks
    return hdr + _ebml_el(0x18538067, info + tracks)


class TestWebmDecode:
    def test_webm_metadata_roundtrip(self):
        from indian_address_parser_spark.operators.multimodal import decode_webm

        d = decode_webm(_make_webm())
        assert (d["width"], d["height"]) == (640, 360)
        assert (d["sample_rate"], d["channels"]) == (48000, 2)
        assert d["duration_ms"] == 12345.0
        assert (d["codec_video"], d["codec_audio"]) == ("V_VP9", "A_OPUS")
        assert d["n_tracks"] == 2

    def test_unknown_size_segment_and_timestamp_scale(self):
        """Streamed WebM (unknown-size Segment) parses identically; a
        non-default TimestampScale rescales the duration."""
        from indian_address_parser_spark.operators.multimodal import decode_webm

        assert decode_webm(_make_webm(unknown_size=True)) == decode_webm(_make_webm())
        # 500 ticks at 2ms/tick = 1000 ms
        d = decode_webm(_make_webm(duration_ticks=500.0, scale_ns=2_000_000))
        assert d["duration_ms"] == 1000.0

    def test_webm_through_mapinpandas_and_errors(self, spark):
        from indian_address_parser_spark.operators.multimodal import _decode_video

        df = spark.createDataFrame(
            [
                ("vid", bytearray(_make_webm())),
                ("trunc", bytearray(_make_webm()[:20])),
            ],
            ["url", "html"],
        )
        rows = {r["url"]: r for r in decode_features(df).collect()}
        v = rows["vid"]
        assert v["modality"] == "video" and v["decode_error"] is None
        assert (v["width"], v["height"], v["sample_rate"]) == (640, 360, 48000)
        assert v["duration_ms"] == 12345.0
        assert rows["trunc"]["decode_error"] is not None
        with pytest.raises(NotImplementedError, match="mp4"):
            _decode_video(b"", "mp4")


class TestProgressiveJpegMetadata:
    def test_progressive_dims_through_decode_features(self, spark):
        """Progressive JPEG (SOF2): pixel decode needs libjpeg, but the
        metadata path reads the true dimensions from the frame header —
        verified against a real progressive file from this box's public
        nodejs docs."""
        import os

        prog = "/usr/share/doc/nodejs/full-white-stripe.jpg"
        if not os.path.exists(prog):
            pytest.skip("progressive JPEG fixture not present")
        df = spark.createDataFrame(
            [("p", bytearray(open(prog, "rb").read()))], ["url", "html"]
        )
        row = decode_features(df).collect()[0]
        assert row["decode_error"] is None
        assert (row["width"], row["height"], row["channels"]) == (493, 312, 3)

    def test_synthetic_sof2_dims(self):
        from indian_address_parser_spark.operators.multimodal import _decode_image

        good = _make_jpeg(
            __import__("numpy").random.default_rng(2).integers(
                0, 256, (10, 14), dtype="uint8"
            )
        )
        prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
        d = _decode_image(prog, "jpeg")
        assert (d["width"], d["height"], d["channels"]) == (14, 10, 1)

