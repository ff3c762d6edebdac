"""Streaming extraction smoke + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F
from streams import drain_to_memory

from calendar_event_entity_extraction_spark.operators.multimodal import (
    decode_media_features,
    extract_features,
    synth_media,
)
from calendar_event_entity_extraction_spark.streaming.extract_stream import (
    streaming_extract,
)
from calendar_event_entity_extraction_spark.synth import keys_df, transcripts_from_keys

N = 300


def test_streaming_extract_matches_batch(spark, tmp_path):
    tr = transcripts_from_keys(keys_df(spark, N))
    path = str(tmp_path / "transcripts")
    tr.write.parquet(path)

    out = drain_to_memory(streaming_extract(spark, path).drop("attendees"), "t_stream")
    # stateless extraction: streaming result == batch result row-for-row
    from calendar_event_entity_extraction_spark.operators import extract_events

    batch = extract_events(spark.read.parquet(path)).drop("attendees")
    assert out.count() == batch.count()
    assert out.select("event_id").exceptAll(batch.select("event_id")).count() == 0


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, 48)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 48
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["checksum"]) == 32
        assert len(r["feat"]) == 8
    # determinism: same payload → same checksum across runs
    again = {r["media_id"]: r["checksum"] for r in extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["checksum"] for r in rows)


def test_decoder_rejects_unknown_kind(spark):
    """A kind with no stdlib codec (synth_media's image/audio/video) raises
    instead of decoding to nulls."""
    media = synth_media(spark, 3).select("media_id", "kind", "payload")
    with pytest.raises(Exception, match="unknown media kind"):
        decode_media_features(media).collect()


def _py_wav(k: int) -> bytes:
    import struct

    sr = 8000 + (k % 3) * 4000
    ns = 4 + k % 8
    frames = b"".join(
        struct.pack("<H", (k * 31 + i * 17) % 65536) for i in range(ns)
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + 2 * ns) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", 2 * ns) + frames
    )


def _py_ppm(k: int) -> bytes:
    w = 2 + k % 3
    px = bytes((k + j * 7) % 256 for j in range(w * 2 * 3))
    return b"P6\n" + str(w).encode() + b" 2\n255\n" + px


def _py_bmp(k: int) -> bytes:
    import struct

    w, h = 2 + k % 3, 2
    stride = (w * 3 + 3) // 4 * 4
    raster = b""
    for r_file in range(h):  # file rows bottom-up
        lr = h - 1 - r_file
        row = bytes(
            (k + ((lr * w + c) * 3 + (2 - j)) * 7) % 256  # B,G,R per pixel
            for c in range(w)
            for j in range(3)
        )
        raster += row + b"\x00" * (stride - w * 3)
    return (
        b"BM" + struct.pack("<I", 54 + h * stride)
        + struct.pack("<HHI", 0, 0, 54) + struct.pack("<I", 40)
        + struct.pack("<ii", w, h) + struct.pack("<HH", 1, 24)
        + struct.pack("<I", 0) + struct.pack("<I", h * stride)
        + struct.pack("<iiII", 0, 0, 0, 0)
    ) + raster


def test_synth_payloads_match_struct_pack(spark):
    """The Column-expression payload builders must emit byte-identical
    WAV/PPM/BMP files to a pure-Python struct.pack reference."""
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.multimodal import (
        synth_bmp_hex_col,
        synth_ppm_hex_col,
        synth_wav_hex_col,
    )

    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.unhex(synth_wav_hex_col(F.col("id"))).alias("wav"),
        F.unhex(synth_ppm_hex_col(F.col("id"))).alias("ppm"),
        F.unhex(synth_bmp_hex_col(F.col("id"))).alias("bmp"),
    )
    for r in df.collect():
        assert bytes(r["wav"]) == _py_wav(r["k"]), r["k"]
        assert bytes(r["ppm"]) == _py_ppm(r["k"]), r["k"]
        assert bytes(r["bmp"]) == _py_bmp(r["k"]), r["k"]


def test_real_decoders_roundtrip(spark):
    """decode_media_features must PARSE the generated payloads back to the
    exact generating parameters (a real header/frame decode, not an echo)."""
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.multimodal import (
        decode_media_features,
        synth_ppm_hex_col,
        synth_wav_hex_col,
    )

    k = F.col("id")
    media = spark.range(30).select(
        k.alias("media_id"),
        F.when(k % 2 == 0, F.lit("wav")).otherwise(F.lit("ppm")).alias("kind"),
        F.unhex(
            F.when(k % 2 == 0, synth_wav_hex_col(k)).otherwise(synth_ppm_hex_col(k))
        ).alias("payload"),
    )
    got = {r["media_id"]: r.asDict() for r in decode_media_features(media).collect()}
    for i in range(30):
        r = got[i]
        if i % 2 == 0:
            assert r["sample_rate"] == 8000 + (i % 3) * 4000
            assert r["n_samples"] == 4 + i % 8
            expect_amp = sum(
                abs(
                    v - 65536 if (v := (i * 31 + j * 17) % 65536) >= 32768 else v
                )
                for j in range(4 + i % 8)
            )
            assert r["sum_abs_amplitude"] == expect_amp
            assert r["width"] is None
        else:
            w = 2 + i % 3
            assert (r["width"], r["height"]) == (w, 2)
            for ch, col in enumerate(["sum_r", "sum_g", "sum_b"]):
                assert r[col] == sum(
                    (i + (3 * p + ch) * 7) % 256 for p in range(w * 2)
                )
            assert r["sample_rate"] is None


def test_decoder_rejects_malformed(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.multimodal import (
        decode_media_features,
    )

    bad = spark.createDataFrame(
        [(1, "wav", bytearray(b"not a riff file at all, truly"))],
        "media_id long, kind string, payload binary",
    )
    with pytest.raises(Exception, match="RIFF|WAVE|Python worker"):
        decode_media_features(bad).collect()


def test_jfif_dimension_parse_roundtrip(spark):
    """The JFIF marker-scan must recover (width, height, channels) from the
    generated baseline-JPEG payloads — hopping the variable-length COM
    segment by its BE length field, not by fixed offsets — and must reject
    streams with no SOF marker."""
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.multimodal import (
        _parse_jfif,
        decode_media_features,
        synth_jfif_hex_col,
    )

    k = F.col("id")
    media = spark.range(40).select(
        k.alias("media_id"),
        F.lit("jpeg").alias("kind"),
        F.unhex(synth_jfif_hex_col(k)).alias("payload"),
    )
    got = {r["media_id"]: r.asDict() for r in decode_media_features(media).collect()}
    for i in range(40):
        r = got[i]
        assert r["width"] == 16 + (i % 7) * 8
        assert r["height"] == 12 + (i % 5) * 4
        assert r["channels"] == (1 if i % 3 == 0 else 3)
        assert r["sum_r"] is None and r["sample_rate"] is None

    # the parser itself on raw python bytes (not just via the kernel), and
    # structural sanity of the stream: SOI + APP0-JFIF magic
    payload = bytes(
        media.filter(F.col("media_id") == 5).select("payload").first()[0]
    )
    assert payload[:2] == b"\xff\xd8" and payload[6:10] == b"JFIF"
    assert _parse_jfif(payload) == (16 + (5 % 7) * 8, 12 + (5 % 5) * 4, 3)

    with pytest.raises(ValueError, match="no SOF"):
        _parse_jfif(b"\xff\xd8\xff\xe0\x00\x04ab\xff\xd9")
    with pytest.raises(ValueError, match="SOI"):
        _parse_jfif(b"PNG not jpeg")


def test_mp3_header_parse_roundtrip(spark):
    """The MP3 frame walk must recover (sample_rate, n_frames -> decoded
    samples, channels, bitrate) from the generated MPEG-1 Layer III
    streams — hopping frames by the computed 144*bitrate/rate + padding
    size (the padding bit varies per frame, so a constant stride would
    desync) — and must reject truncated / VBR / non-MPEG-1 streams."""
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.multimodal import (
        MP3_BITRATES,
        MP3_SAMPLE_RATES,
        _parse_mp3,
        decode_media_features,
        synth_mp3_hex_col,
    )

    k = F.col("id")
    media = spark.range(64).select(
        k.alias("media_id"),
        F.lit("mp3").alias("kind"),
        F.unhex(synth_mp3_hex_col(k)).alias("payload"),
    )
    got = {r["media_id"]: r.asDict() for r in decode_media_features(media).collect()}
    for i in range(64):
        r = got[i]
        assert r["sample_rate"] == MP3_SAMPLE_RATES[i % 3]
        assert r["n_samples"] == (2 + (i // 16) % 4) * 1152
        assert r["channels"] == 2 - (i // 16) % 2
        assert r["bitrate_kbps"] == MP3_BITRATES[i % 14]
        assert r["width"] is None and r["sum_abs_amplitude"] is None

    # the parser on raw bytes, plus byte-level structure: sync + MPEG-1
    # Layer III marker 0xFFFB, and total length = sum of per-frame sizes
    payload = bytes(
        media.filter(F.col("media_id") == 21).select("payload").first()[0]
    )
    assert payload[:2] == b"\xff\xfb"
    sr, nf, ch, br = _parse_mp3(payload)
    assert (sr, nf, ch, br) == (
        MP3_SAMPLE_RATES[21 % 3], 2 + (21 // 16) % 4,
        2 - (21 // 16) % 2, MP3_BITRATES[21 % 14],
    )
    assert len(payload) == sum(
        144_000 * br // sr + (21 + f) % 2 for f in range(nf)
    )

    with pytest.raises(ValueError, match="truncated"):
        _parse_mp3(payload[:-1])
    with pytest.raises(ValueError, match="sync"):
        _parse_mp3(b"ID3 tag junk")
    # MPEG-2 (version bits 10) must be rejected, not silently mis-sized
    v2 = bytearray(payload)
    v2[1] = 0xF3
    with pytest.raises(ValueError, match="MPEG-1"):
        _parse_mp3(bytes(v2))
    # a mid-stream bitrate change is VBR — CBR parser must refuse
    frame1_len = 144_000 * br // sr + (21 % 2)
    vbr = bytearray(payload)
    vbr[frame1_len + 2] = (vbr[frame1_len + 2] & 0x0F) | (
        ((21 % 14 + 2) % 14 + 1) << 4
    )
    with pytest.raises(ValueError, match="CBR|sync"):
        _parse_mp3(bytes(vbr))
