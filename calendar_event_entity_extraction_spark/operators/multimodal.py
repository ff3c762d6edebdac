"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.

Two decode layers:

* :func:`decode_media_features` — REAL pure-stdlib codecs, no media libs
  needed, five formats: RIFF/WAVE PCM (``struct`` header unpack + numpy
  int16 frame math), binary PPM (P6), 24-bpp BMP (bottom-up/BGR/stride
  un-swizzling), baseline JFIF/JPEG (SOF marker scan → dimensions and
  channels) and MPEG-1 Layer III MP3 (frame-header walk → rates, channel
  mode, frame count/duration). These actually parse the byte layouts; a
  malformed payload raises. The matching ``synth_*_hex_col`` builders
  construct valid payloads as pure Column expressions (hex → unhex), so
  both engines can derive the expected features from the generating key —
  the ``multimodal_decode`` oracle row pins decode correctness end to end.
  (JPEG's entropy raster and MP3's granules need DCT/Huffman/IMDCT libs
  that don't ship here; headers/dimensions/durations are the honest real
  parse, like PIL's lazy ``Image.open().size`` or a duration probe.)
* :func:`extract_features` — the generic featurize plumbing for formats
  whose codecs genuinely need external libs (video): a deterministic
  digest kernel that exercises schema/batching/binary round-trip (oracle
  row ``multimodal_features``). A library decoder plugs in as one more
  kind in :func:`decode_media_features`.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, checksum string, "
    "feat array<float>"
)


def extract_features(media: DataFrame) -> DataFrame:
    """Featurize media payloads via mapInPandas (Arrow batches): byte
    length, md5 checksum and an 8-float feature vector from the digest.

    Kernel contract is BATCH-LEVEL, never per-element pandas ``.map``: the
    kernel receives one Arrow batch as columnar arrays and must return
    columnar arrays, doing its numeric work in vectorized numpy/pandas ops
    (a real decoder does its unavoidable per-item C call — PIL decode,
    libav demux — then post-processes the whole batch as one ndarray).
    Here lengths come from the vectorized ``.str.len()``, and one digest
    pass per batch is featurized by a single numpy reshape/divide over the
    entire batch.
    """
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"].fillna(b"")
            # the only per-item step (analog of a decoder's C call); its
            # digest is computed once and reused for checksum AND features
            digests = [hashlib.md5(b).digest() for b in payload]
            if digests:
                raw = np.frombuffer(
                    b"".join(d[:8] for d in digests), dtype=np.uint8
                ).reshape(-1, 8)
                feats = list((raw / np.float32(255.0)).astype("float32"))
            else:
                feats = []
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payload.str.len().astype("int64"),
                    "checksum": [d.hex() for d in digests],
                    "feat": feats,
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


# ------------------------------------------------------------ real codecs

DECODE_SCHEMA = (
    "media_id long, kind string, sample_rate long, n_samples long, "
    "sum_abs_amplitude long, width long, height long, "
    "sum_r long, sum_g long, sum_b long, channels long, bitrate_kbps long"
)

# MPEG-1 Layer III header tables (ISO/IEC 11172-3): bitrate index 1..14 and
# sample-rate index 0..2 — shared by the synthesizer, the parser, and the
# DuckDB oracle (as SQL list literals)
MP3_BITRATES = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
MP3_SAMPLE_RATES = [44100, 48000, 32000]
MP3_SAMPLES_PER_FRAME = 1152


def _byte_hex(b: Column) -> Column:
    return F.format_string("%02x", b.cast("int"))


def _le_hex(v: Column, n_bytes: int) -> Column:
    """Little-endian hex of an unsigned integer column, ``n_bytes`` wide."""
    return F.concat(
        *[
            _byte_hex(F.shiftright(v.cast("long"), 8 * i).bitwiseAND(F.lit(255)))
            for i in range(n_bytes)
        ]
    )


def _be_hex(v: Column, n_bytes: int) -> Column:
    """Big-endian hex (JFIF segment lengths / SOF dimensions are BE)."""
    return F.concat(
        *[
            _byte_hex(F.shiftright(v.cast("long"), 8 * i).bitwiseAND(F.lit(255)))
            for i in range(n_bytes - 1, -1, -1)
        ]
    )


def synth_wav_hex_col(k: Column) -> Column:
    """A VALID 16-bit mono PCM RIFF/WAVE payload as a hex Column expression,
    fully determined by the key: sample_rate = 8000 + (k%3)*4000,
    n_samples = 4 + k%8, sample_i = signed16((k*31 + i*17) % 65536).
    Both engines can therefore derive the decoded features from k alone."""
    sr = (F.lit(8000) + F.pmod(k, 3) * 4000).cast("long")
    ns = (F.lit(4) + F.pmod(k, 8)).cast("long")
    data_bytes = ns * 2
    samples = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (ns - 1).cast("int")),
            lambda i: _le_hex(F.pmod(k * 31 + i.cast("long") * 17, 65536), 2),
        ),
        "",
    )
    return F.concat(
        F.lit(b"RIFF".hex()),
        _le_hex(F.lit(36).cast("long") + data_bytes, 4),
        F.lit(b"WAVEfmt ".hex()),
        F.lit(struct.pack("<IHH", 16, 1, 1).hex()),  # fmt size, PCM, mono
        _le_hex(sr, 4),
        _le_hex(sr * 2, 4),  # byte rate = sr * block_align(2)
        F.lit(struct.pack("<HH", 2, 16).hex()),  # block align, bits
        F.lit(b"data".hex()),
        _le_hex(data_bytes, 4),
        samples,
    )


def synth_ppm_hex_col(k: Column) -> Column:
    """A VALID binary PPM (P6) payload as a hex Column expression: width =
    2 + k%3, height = 2, maxval 255, pixel byte j = (k + j*7) % 256."""
    w = (F.lit(2) + F.pmod(k, 3)).cast("long")
    n_px_bytes = w * 2 * 3
    pixels = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n_px_bytes - 1).cast("int")),
            lambda j: _byte_hex(F.pmod(k + j.cast("long") * 7, 256)),
        ),
        "",
    )
    return F.concat(
        F.lit(b"P6\n".hex()),
        _byte_hex(F.lit(48) + w),  # single-digit width as ASCII
        F.lit(b" 2\n255\n".hex()),
        pixels,
    )


def synth_bmp_hex_col(k: Column) -> Column:
    """A VALID 24-bpp bottom-up Windows BMP (BITMAPINFOHEADER) payload as a
    hex Column expression: width = 2 + k%3, height = 2, logical top-down
    RGB pixel byte p = (k + p*7) % 256 — the SAME logical raster formula as
    :func:`synth_ppm_hex_col`, but the file stores it bottom-up, BGR, with
    rows zero-padded to 4-byte strides. Decoding back to the logical sums
    therefore proves the un-swizzling (row flip + channel swap + padding
    skip), not just header arithmetic."""
    w = (F.lit(2) + F.pmod(k, 3)).cast("long")
    h = F.lit(2).cast("long")
    row_bytes = w * 3
    pad = F.pmod(4 - F.pmod(row_bytes, 4), 4)
    stride = row_bytes + pad
    n_raster = h * stride

    def file_byte(jj: Column) -> Column:
        jj = jj.cast("long")
        r_file = F.floor(jj / stride).cast("long")  # 0 = bottom row
        j = F.pmod(jj, stride)
        c = F.floor(j / 3).cast("long")
        ch_logical = 2 - F.pmod(j, 3)  # file BGR -> logical RGB
        p_logical = ((h - 1 - r_file) * w + c) * 3 + ch_logical
        val = F.pmod(k + p_logical * 7, 256)
        return _byte_hex(F.when(j >= row_bytes, F.lit(0)).otherwise(val))

    raster = F.array_join(
        F.transform(F.sequence(F.lit(0), (n_raster - 1).cast("int")), file_byte), ""
    )
    return F.concat(
        F.lit(b"BM".hex()),
        _le_hex(F.lit(54).cast("long") + n_raster, 4),  # file size
        F.lit(struct.pack("<HHI", 0, 0, 54).hex()),  # reserved, data offset
        F.lit(struct.pack("<I", 40).hex()),  # BITMAPINFOHEADER size
        _le_hex(w, 4),
        _le_hex(h, 4),  # positive height = bottom-up
        F.lit(struct.pack("<HH", 1, 24).hex()),  # planes, bpp
        F.lit(struct.pack("<I", 0).hex()),  # BI_RGB (uncompressed)
        _le_hex(n_raster, 4),  # image size
        F.lit(struct.pack("<iiII", 0, 0, 0, 0).hex()),  # ppm, palette counts
        raster,
    )


def synth_jfif_hex_col(k: Column) -> Column:
    """Valid baseline-JFIF byte stream as a hex Column, parametrized by the
    key: SOI, the standard APP0/JFIF segment, a VARIABLE-LENGTH COM segment
    (3 + k%4 content bytes — forces the parser to hop segments by their BE
    length fields, not by fixed offsets), then an SOF0 frame header carrying
    (height, width, channels) — grayscale 1-component when k%3==0, else
    3-component YCbCr — and a stub SOS + entropy bytes + EOI. The entropy
    data is not decodable without a DCT/Huffman library (none ships here);
    the DIMENSION parse is the real, fully-specified part and is what
    ``_parse_jfif`` extracts, like PIL's lazy ``Image.open().size``."""
    w = (F.lit(16) + F.pmod(k, 7) * 8).cast("long")
    h = (F.lit(12) + F.pmod(k, 5) * 4).cast("long")
    n_com = (F.lit(3) + F.pmod(k, 4)).cast("long")
    com_payload = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n_com - 1).cast("int")),
            lambda i: _byte_hex(F.pmod(k + i.cast("long") * 11, 256)),
        ),
        "",
    )
    com = F.concat(F.lit("fffe"), _be_hex(n_com + 2, 2), com_payload)
    sof_gray = F.concat(
        F.lit("ffc0000b08"), _be_hex(h, 2), _be_hex(w, 2), F.lit("01011100")
    )
    sof_rgb = F.concat(
        F.lit("ffc0001108"),
        _be_hex(h, 2),
        _be_hex(w, 2),
        F.lit("03012200021101031101"),
    )
    app0 = "ffe000104a46494600010100004800480000"
    sos_entropy_eoi = "ffda000c03010002110311003f00" + "00" * 4 + "ffd9"
    return F.concat(
        F.lit("ffd8"),
        F.lit(app0),
        com,
        F.when(F.pmod(k, 3) == 0, sof_gray).otherwise(sof_rgb),
        F.lit(sos_entropy_eoi),
    )


def synth_mp3_hex_col(k: Column) -> Column:
    """A VALID MPEG-1 Layer III (MP3) CBR frame stream as a hex Column,
    fully determined by the key: bitrate = MP3_BITRATES[k%14],
    sample_rate = MP3_SAMPLE_RATES[k%3], channel mode mono/stereo and
    frame count from k//16, and a PER-FRAME padding bit ((k+f)%2) — so the
    parser must hop frames by the computed ``144·bitrate/sample_rate +
    padding`` size, not a constant stride. Frame payload bytes are filler
    (one repeated key-derived byte per frame): decoding Layer III audio
    needs a Huffman/IMDCT lib that doesn't ship here — the header walk
    (rates, channel mode, frame count → duration) is the real,
    fully-specified part, like every tag scanner / duration probe."""
    br = F.element_at(
        F.array(*[F.lit(x) for x in MP3_BITRATES]),
        (F.lit(1) + F.pmod(k, 14)).cast("int"),
    ).cast("long")
    sr = F.element_at(
        F.array(*[F.lit(x) for x in MP3_SAMPLE_RATES]),
        (F.lit(1) + F.pmod(k, 3)).cast("int"),
    ).cast("long")
    q = F.shiftright(k.cast("long"), 4)
    mono = F.pmod(q, 2)  # 1 = mono (mode bits 11), 0 = stereo (00)
    n_frames = (F.lit(2) + F.pmod(q, 4)).cast("int")

    def frame(f: Column) -> Column:
        f = f.cast("long")
        pad = F.pmod(k + f, 2)
        # frame size in bytes = floor(144 * bitrate_bps / sample_rate) + pad
        size = F.floor(F.lit(144000) * br / sr).cast("long") + pad
        byte2 = (F.lit(1) + F.pmod(k, 14)) * 16 + F.pmod(k, 3) * 4 + pad * 2
        byte3 = mono * 3 * 64
        filler = F.repeat(
            _byte_hex(F.pmod(k * 7 + f * 13, 251)), (size - 4).cast("int")
        )
        return F.concat(F.lit("fffb"), _byte_hex(byte2), _byte_hex(byte3), filler)

    return F.array_join(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame), ""
    )


def _parse_mp3(b: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_frames, channels, bitrate_kbps) from an MPEG-1
    Layer III CBR stream — a real 4-byte frame-header parse (sync word,
    version/layer bits, bitrate & sample-rate table indices, padding bit,
    channel mode) hopping frame to frame by the computed size. Raises on
    malformed, truncated, VBR, or non-MPEG-1-Layer-III streams. Duration
    follows as n_frames·1152/sample_rate; the compressed granules need a
    Huffman/IMDCT lib (absent here) — header semantics are the honest
    stdlib parse, like :func:`_parse_jfif` for JPEG."""
    pos, n_frames = 0, 0
    sr = br = ch = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
            raise ValueError(f"MP3 frame sync expected at offset {pos}")
        version = (b[pos + 1] >> 3) & 0x3
        layer = (b[pos + 1] >> 1) & 0x3
        if version != 3 or layer != 1:
            raise ValueError("unsupported stream (need MPEG-1 Layer III)")
        br_idx = b[pos + 2] >> 4
        sr_idx = (b[pos + 2] >> 2) & 0x3
        pad = (b[pos + 2] >> 1) & 0x1
        mode = b[pos + 3] >> 6
        if not 1 <= br_idx <= 14 or sr_idx > 2:
            raise ValueError("bad bitrate/sample-rate index")
        f_br = MP3_BITRATES[br_idx - 1]
        f_sr = MP3_SAMPLE_RATES[sr_idx]
        f_ch = 1 if mode == 3 else 2
        if sr is None:
            sr, br, ch = f_sr, f_br, f_ch
        elif (f_sr, f_br, f_ch) != (sr, br, ch):
            raise ValueError("heterogeneous frame headers (CBR expected)")
        pos += 144_000 * f_br // f_sr + pad
        n_frames += 1
    if n_frames == 0:
        raise ValueError("no MP3 frames")
    if pos != len(b):
        raise ValueError("truncated final frame or trailing bytes")
    return sr, n_frames, ch, br


def _parse_jfif(b: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a baseline JFIF/JPEG payload — a pure
    ``bytes`` marker scan (stdlib only): walk segments by their big-endian
    length fields until a start-of-frame marker (0xC0–0xCF excluding the
    Huffman/arithmetic tables 0xC4/0xC8/0xCC), then unpack the frame header.
    Raises on malformed streams."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI before any SOF
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
            pos += 2
            continue
        seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _precision, h, w, n_comp = struct.unpack_from(">BHHB", b, pos + 4)
            return w, h, n_comp
        if marker == 0xDA:  # SOS: entropy data follows, no SOF was seen
            break
        pos += 2 + seg_len
    raise ValueError("no SOF marker found")


def _parse_wav(b: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_samples, sum_abs_amplitude) from a RIFF/WAVE PCM
    payload — a real header parse, raises on malformed bytes."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE" or b[12:16] != b"fmt ":
        raise ValueError("not a RIFF/WAVE payload")
    audio_fmt, n_ch, sr, _byte_rate, _block, bits = struct.unpack_from("<HHIIHH", b, 20)
    if audio_fmt != 1 or n_ch != 1 or bits != 16 or b[36:40] != b"data":
        raise ValueError("unsupported WAV layout (need 16-bit mono PCM)")
    nb = struct.unpack_from("<I", b, 40)[0]
    s = np.frombuffer(b, dtype="<i2", offset=44, count=nb // 2)
    return sr, len(s), int(np.abs(s.astype(np.int64)).sum())


def _parse_ppm(b: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from a binary PPM (P6) payload.
    Token-wise header scan (never a whitespace split over the raster, whose
    bytes may themselves be whitespace)."""
    import numpy as np

    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while b[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(b[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from the raster
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    px = (
        np.frombuffer(b, dtype=np.uint8, offset=pos, count=w * h * 3)
        .astype(np.int64)
        .reshape(-1, 3)
    )
    return w, h, int(px[:, 0].sum()), int(px[:, 1].sum()), int(px[:, 2].sum())


def _parse_bmp(b: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from a 24-bpp uncompressed
    Windows BMP — a real header parse plus raster un-swizzling (bottom-up
    row order when height > 0, BGR byte order, rows padded to 4-byte
    strides). Raises on malformed or unsupported layouts."""
    import numpy as np

    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if hdr_size != 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP layout (need 24-bpp BI_RGB)")
    n_rows = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        b, dtype=np.uint8, offset=data_offset, count=n_rows * stride
    ).reshape(n_rows, stride)[:, : w * 3]
    if h > 0:  # positive height = bottom-up storage
        rows = rows[::-1]
    rgb = rows.reshape(n_rows, w, 3)[..., ::-1].astype(np.int64)
    return (
        w,
        n_rows,
        int(rgb[..., 0].sum()),
        int(rgb[..., 1].sum()),
        int(rgb[..., 2].sum()),
    )


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL decode over (media_id, kind ∈ {wav, ppm, bmp, jpeg, mp3},
    payload binary) via Arrow-batched ``mapInPandas``. The per-item header
    parse is the unavoidable decoder call (the analog of PIL/libav); the
    numeric frame work is vectorized numpy per payload. Integer-exact
    outputs only (sums, counts, rates) so the oracle compare is
    float-free."""

    cols = [
        "media_id", "kind", "sample_rate", "n_samples", "sum_abs_amplitude",
        "width", "height", "sum_r", "sum_g", "sum_b", "channels",
        "bitrate_kbps",
    ]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict = {c: [] for c in cols}
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                row = dict.fromkeys(cols)
                row["media_id"], row["kind"] = mid, kind
                b = bytes(payload)
                if kind == "wav":
                    sr, ns, amp = _parse_wav(b)
                    row.update(
                        sample_rate=sr, n_samples=ns, sum_abs_amplitude=amp,
                        channels=1,  # _parse_wav rejects non-mono layouts
                    )
                elif kind == "ppm":
                    w, h, r, g, bl = _parse_ppm(b)
                    row.update(
                        width=w, height=h, sum_r=r, sum_g=g, sum_b=bl, channels=3
                    )
                elif kind == "bmp":
                    w, h, r, g, bl = _parse_bmp(b)
                    row.update(
                        width=w, height=h, sum_r=r, sum_g=g, sum_b=bl, channels=3
                    )
                elif kind == "jpeg":
                    w, h, ch = _parse_jfif(b)
                    # entropy-coded raster needs a DCT/Huffman lib (absent
                    # here) — dimensions/channels are the honest real parse
                    row.update(width=w, height=h, channels=ch)
                elif kind == "mp3":
                    sr, nf, ch, br = _parse_mp3(b)
                    # compressed granules need Huffman/IMDCT (absent) —
                    # rates/channels/duration are the honest header parse
                    row.update(
                        sample_rate=sr,
                        n_samples=nf * MP3_SAMPLES_PER_FRAME,
                        channels=ch,
                        bitrate_kbps=br,
                    )
                else:
                    raise ValueError(f"unknown media kind {kind!r}")
                for c in cols:
                    out[c].append(row[c])
            yield pd.DataFrame(out)

    return media.mapInPandas(op, schema=DECODE_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = repeated key bytes)."""
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(
            F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8"
        ).alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(30).alias("n_frames"),
        ).alias("meta"),
    )
    return df
