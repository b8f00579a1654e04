"""Multimodal columns (BASELINE extension): image/audio/video as opaque
``binary`` payloads with typed metadata, encoded and decoded in
Arrow-batched ``mapInPandas`` stages.

Every codec is a real byte-format implementation in numpy and the
stdlib: BMP (24-bit uncompressed), PNG (8-bit grayscale, DEFLATE, all
five scanline filters), GIF87a (LZW), baseline JPEG (Huffman entropy
coding, DCT), WAV (16-bit PCM) and AVI (RIFF container, uncompressed
24-bit DIB 'vids' stream). The synthetic generators build payloads from
``doc_id`` by formulas that the oracle SQL recomputes without seeing
the bytes, so a bug in either codec direction fails the hash gate.
``decode_payload`` dispatches a payload to its decoder by kind; a
deployment that ships native codec libraries (PyAV/ffmpeg for H.264 or
MP3) would add those decoders there.

Each row-wise stage is one ``_row_stage``: a per-payload function that
yields output tuples, declared once with its DDL schema. Only
``extract_features`` runs its own whole-batch NumPy kernel.

At 100 TB: payloads stay in parquet binary columns (never strings),
every decode stage is ``mapInPandas`` over whatever partitioning the
scan produces (no shuffle), and metadata predicates (kind, width,
duration) push down to the parquet scan before any payload is touched.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "ASSET_SCHEMA",
    "FEATURE_DIM",
    "synthetic_assets",
    "synthetic_media_assets",
    "encode_bmp24",
    "decode_bmp24",
    "decode_bmp24_gray",
    "resize_bmp_nn",
    "phash_bmp",
    "phash_images",
    "resize_images",
    "encode_wav16",
    "decode_wav16",
    "decode_wav16_samples",
    "audio_window_stats",
    "encode_avi24",
    "decode_avi24",
    "synthetic_video_assets",
    "decode_video_properties",
    "png_asset",
    "gif_asset",
    "jpeg_asset",
    "synthetic_gray_assets",
    "decode_gray_properties",
    "decode_payload",
    "decode_properties",
    "extract_features",
]

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_s", T.DoubleType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8


def _row_stage(
    df: DataFrame, cols: list[str], schema: str, fn: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """Map each row of ``df.select(*cols)`` to zero or more output rows in
    an Arrow-batched ``mapInPandas``: narrow, no shuffle, so the scan
    partitioning is the decode parallelism. ``fn`` takes one row's values
    in ``cols`` order and returns an iterable of tuples in ``schema``
    order; ``schema`` is flat DDL (``"name type, ..."``). pandas infers
    each output column's dtype from its values, so a column that mixes
    ints and ``None`` arrives as float64/NaN and leaves as the declared
    integer type with NULLs."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for row in zip(*(pdf[c] for c in cols)) for out in fn(*row)]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema=schema)


def synthetic_assets(documents: DataFrame) -> DataFrame:
    """Deterministic multimodal asset table derived from ``documents``:
    payload = utf-8 bytes of the text (a stand-in blob), kind cycles by
    doc_id, metadata derived arithmetically — all reproducible in SQL,
    so metadata queries stay oracle-checkable.

    One ``selectExpr`` call, not a Column-builder tree: each Column op
    is a py4j round-trip, and this frame is rebuilt by every multimodal
    query — the single SQL parse cut DataFrame construction from
    ~75 ms to ~18 ms (driver-side; matters to per-query latency, not
    throughput). The ``100.0D`` suffix keeps duration_s a double — the
    bare SQL literal parses as decimal and would change the schema."""
    return documents.selectExpr(
        "doc_id AS asset_id",
        "CASE WHEN doc_id % 3 = 0 THEN 'image' "
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind",
        "encode(text, 'utf-8') AS payload",
        "named_struct("
        "'width', CAST(doc_id % 640 + 64 AS INT), "
        "'height', CAST(doc_id % 480 + 48 AS INT), "
        "'sample_rate', CAST(16000 AS INT), "
        "'duration_s', n_chars / 100.0D) AS meta",
    )


# ---------------------------------------------------------------------------
# Real codecs: BMP (24-bit uncompressed) and WAV (16-bit PCM mono).
# Pure-stdlib byte-format parsers — used both to generate genuine image/
# audio payloads and to decode them back in the mapInPandas stage.
# ---------------------------------------------------------------------------

_BMP_HEADER = 14 + 40  # file header + BITMAPINFOHEADER


def encode_bmp24(width: int, height: int, base: int) -> bytes:
    """A real BMP file: 24-bit uncompressed, bottom-up rows, 4-byte row
    padding; grayscale pixel value v(x, y) = (base + x + y) % 256 in all
    three channels."""
    row_size = (3 * width + 3) // 4 * 4
    img_size = row_size * height
    file_hdr = struct.pack("<2sIHHI", b"BM", _BMP_HEADER + img_size, 0, 0, _BMP_HEADER)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    ys = np.arange(height - 1, -1, -1, dtype=np.int64)[:, None]  # bottom-up
    xs = np.arange(width, dtype=np.int64)[None, :]
    v = ((base + xs + ys) % 256).astype(np.uint8)
    body = np.zeros((height, row_size), dtype=np.uint8)
    body[:, : 3 * width] = np.repeat(v, 3, axis=1)
    return file_hdr + info_hdr + body.tobytes()


def decode_bmp24(data: bytes) -> tuple[int, int, float]:
    """Parse a 24-bit BMP: returns (width, height, mean over all channel
    bytes). Integer pixel sum → exact, so the mean is reproducible."""
    if len(data) < _BMP_HEADER:
        raise ValueError("not a BMP payload (truncated header)")
    magic, _file_size, _, _, off = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, width, height, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    if hdr_size < 40 or bpp != 24:
        raise ValueError(f"unsupported BMP variant (hdr={hdr_size}, bpp={bpp})")
    height = abs(height)
    row_size = (3 * width + 3) // 4 * 4
    # vectorized row-stripped sum: view the pixel area as (h, row_size)
    # uint8 and drop the padding columns; int64 sum of uint8 is exact, so
    # the mean is bit-identical to the scalar loop it replaced
    arr = np.frombuffer(data, dtype=np.uint8, count=row_size * height, offset=off)
    px = arr.reshape(height, row_size)[:, : 3 * width]
    n = 3 * width * height
    return width, height, int(px.sum(dtype=np.int64)) / n


def decode_bmp24_gray(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Parse a 24-bit BMP into a logical pixel grid: returns (width,
    height, rows) where ``rows[y][x]`` is the blue-channel value at
    image coordinate (x, y) — the generator writes equal BGR channels,
    and file rows are stored bottom-up so file row fr holds image row
    height−1−fr."""
    if len(data) < _BMP_HEADER:
        raise ValueError("not a BMP payload (truncated header)")
    magic, _file_size, _, _, off = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_size, width, height, _planes, bpp = struct.unpack_from("<IiiHH", data, 14)
    if hdr_size < 40 or bpp != 24:
        raise ValueError(f"unsupported BMP variant (hdr={hdr_size}, bpp={bpp})")
    # BMP stores rows bottom-up when height > 0; a negative stored
    # height means the file is already top-down and must NOT be flipped.
    top_down = height < 0
    height = abs(height)
    row_size = (3 * width + 3) // 4 * 4
    arr = np.frombuffer(data, dtype=np.uint8, count=row_size * height, offset=off)
    # blue channel of each pixel, normalized to logical top-down order
    grid = arr.reshape(height, row_size)[:, : 3 * width : 3]
    if not top_down:
        grid = grid[::-1]
    rows: list[list[int]] = grid.astype(int).tolist()
    return width, height, rows


RESIZE_W, RESIZE_H = 4, 2  # fixed thumbnail geometry


def resize_bmp_nn(data: bytes) -> tuple[int, int, list[int]]:
    """Nearest-neighbor thumbnail of a real BMP: decode the byte format,
    then sample src = (x·w // out_w, y·h // out_h) — the standard NN
    resample. Returns (width, height, RESIZE_H·RESIZE_W pixel values in
    row-major order). Integer in, integer out: exactly reproducible."""
    w, h, rows = decode_bmp24_gray(data)
    thumb = [
        rows[(y * h) // RESIZE_H][(x * w) // RESIZE_W]
        for y in range(RESIZE_H)
        for x in range(RESIZE_W)
    ]
    return w, h, thumb


def resize_images(assets: DataFrame) -> DataFrame:
    """Arrow-batched NN image resize over real BMP payloads
    (``mapInPandas``, no shuffle — the scan partitioning IS the decode
    parallelism): (asset_id, width, height, p0..p7, mean_thumb). The
    thumbnail is emitted as RESIZE_H·RESIZE_W scalar int columns — the
    fixed-geometry contract a training-image loader wants, and scalar
    cells keep every downstream canonicalizer happy (same policy as
    extract_features)."""

    def resize(aid: int, payload: bytes) -> list[tuple]:
        w, h, thumb = resize_bmp_nn(payload)
        return [(aid, w, h, *thumb, sum(thumb) / len(thumb))]

    px_cols = ", ".join(f"p{k} int" for k in range(RESIZE_W * RESIZE_H))
    schema = f"asset_id long, width int, height int, {px_cols}, mean_thumb double"
    return _row_stage(assets, ["asset_id", "payload"], schema, resize)


PHASH_SCALE = 1024  # DCT basis scaled to integers: round(1024·cos)
# 8×8 DCT-II basis, integer-scaled ONCE here and shared verbatim by the
# Spark-side hash and the oracle SQL (embedded as a literal matrix) — so
# neither engine evaluates a cosine at query time and the transform is
# exact int64 arithmetic end to end.
DCT_C = [
    [
        round(math.cos((2 * t + 1) * u * math.pi / 16) * PHASH_SCALE)
        for t in range(8)
    ]
    for u in range(8)
]


def phash_bmp(data: bytes) -> tuple[int, int, int]:
    """64-bit-family perceptual hash of a real BMP (pHash scheme):
    decode the bytes, NN-resample the pixel grid to 8×8, 2-D integer
    DCT-II, then one bit per AC coefficient (63 of them — the DC cell
    carries brightness and is dropped, which is exactly what makes the
    hash brightness-invariant) set iff the coefficient exceeds the
    MEDIAN AC coefficient. 63 is odd, so the median is the unique
    order statistic sorted[31] — no averaging, no ties policy beyond
    strict '>'. Returns (width, height, phash); phash < 2⁶³ fits
    BIGINT. Everything after the decode is integer arithmetic."""
    w, h, rows = decode_bmp24_gray(data)
    P = [[rows[(y * h) // 8][(x * w) // 8] for x in range(8)] for y in range(8)]
    T8 = [
        [
            sum(
                DCT_C[u][y] * DCT_C[v][x] * P[y][x]
                for y in range(8)
                for x in range(8)
            )
            for v in range(8)
        ]
        for u in range(8)
    ]
    ac = [T8[u][v] for u in range(8) for v in range(8)][1:]
    med = sorted(ac)[31]
    ph = 0
    for k, val in enumerate(ac):
        if val > med:
            ph |= 1 << k
    return w, h, ph


def phash_images(assets: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing over real BMP payloads
    (``mapInPandas``, no shuffle): (asset_id, width, height, phash)."""
    return _row_stage(
        assets,
        ["asset_id", "payload"],
        "asset_id long, width int, height int, phash long",
        lambda aid, payload: [(aid, *phash_bmp(payload))],
    )


def encode_wav16(sample_rate: int, samples: list[int]) -> bytes:
    """A real RIFF/WAVE file: 16-bit PCM, mono."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav16_samples(data: bytes) -> tuple[int, tuple[int, ...]]:
    """Parse 16-bit PCM mono WAV into (sample_rate, samples). Walks RIFF
    chunks properly (fmt may not be the first chunk in the wild)."""
    if len(data) < 44 or data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, sample_rate, bits, channels, frames = 12, None, None, None, None
    while pos + 8 <= len(data):
        cid, csize = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            _fmt, channels, sample_rate, _bps, _align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
        elif cid == b"data":
            frames = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if sample_rate is None or frames is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"unsupported WAV variant (bits={bits}, ch={channels})")
    n = len(frames) // 2
    return sample_rate, struct.unpack(f"<{n}h", frames[: 2 * n])


def decode_wav16(data: bytes) -> tuple[int, int, float]:
    """Parse 16-bit PCM mono WAV: returns (sample_rate, n_samples, mean
    absolute amplitude)."""
    sample_rate, samples = decode_wav16_samples(data)
    n = len(samples)
    if not n:
        return sample_rate, 0, 0.0
    total_abs = int(np.abs(np.asarray(samples, dtype=np.int64)).sum())  # exact
    return sample_rate, n, total_abs / n


AUDIO_WIN = 32  # samples per analysis window


def audio_window_stats(assets: DataFrame) -> DataFrame:
    """Windowed audio feature extraction over real WAV payloads: decode
    the PCM frames, split into ``AUDIO_WIN``-sample windows (last one
    partial), and emit per-window mean absolute amplitude and RMS — the
    framing step under every spectrogram/VAD front-end. One payload row
    fans out to ceil(n/AUDIO_WIN) feature rows inside the same Arrow
    batch (``mapInPandas``), so the decode stays shuffle-free and the
    fan-out never materializes on the driver. Integer sample sums are
    exact, and IEEE sqrt/division are correctly rounded, so every output
    double is bit-reproducible at any parallelism."""

    def windows(aid: int, payload: bytes) -> Iterator[tuple]:
        _sr, samples = decode_wav16_samples(payload)
        for w in range(0, len(samples), AUDIO_WIN):
            chunk = samples[w : w + AUDIO_WIN]
            n_w = len(chunk)
            sum_abs = sum(abs(s) for s in chunk)  # exact int
            sum_sq = sum(s * s for s in chunk)  # exact int
            yield aid, w // AUDIO_WIN, n_w, sum_abs / n_w, math.sqrt(sum_sq / n_w)

    schema = "asset_id long, window_idx int, n_samples int, mean_abs double, rms double"
    return _row_stage(assets, ["asset_id", "payload"], schema, windows)


def _frame_dib24(width: int, height: int, base: int, t: int) -> bytes:
    """One uncompressed DIB frame body (bottom-up BGR rows, 4-byte row
    padding — the same layout a BMP stores after its headers): grayscale
    pixel v(x, y, t) = (base + x + y + 7·t) % 256."""
    row_size = (3 * width + 3) // 4 * 4
    ys = np.arange(height - 1, -1, -1, dtype=np.int64)[:, None]  # bottom-up
    xs = np.arange(width, dtype=np.int64)[None, :]
    v = ((base + xs + ys + 7 * t) % 256).astype(np.uint8)
    body = np.zeros((height, row_size), dtype=np.uint8)
    body[:, : 3 * width] = np.repeat(v, 3, axis=1)
    return body.tobytes()


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def encode_avi24(
    width: int, height: int, n_frames: int, fps: int, base: int
) -> bytes:
    """A real AVI file: RIFF 'AVI ' container with a proper hdrl
    (MainAVIHeader + one 'vids'/'DIB ' stream with its
    BITMAPINFOHEADER) and a movi list of uncompressed 24-bit '00db'
    frames — the format every player/ffmpeg reads without a codec.
    Frame t's grayscale pixel is (base + x + y + 7·t) % 256."""
    row_size = (3 * width + 3) // 4 * 4
    frame_size = row_size * height
    avih = struct.pack(
        "<10I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        frame_size * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX off; 0x10 = AVIF_WASCAPTUREFILE-free flags
        n_frames,
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        width,
        height,
    ) + struct.pack("<4I", 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, n_frames,  # dwScale=1, dwRate=fps → fps frames/sec
        frame_size, -1, 0,
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi",
        b"".join(
            _riff_chunk(b"00db", _frame_dib24(width, height, base, t))
            for t in range(n_frames)
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi24(data: bytes) -> tuple[int, int, int, int, float]:
    """Parse an uncompressed 24-bit AVI: returns (width, height,
    n_frames, fps, mean over every channel byte of every frame). Walks
    the RIFF chunk tree properly (hdrl → avih/strl/strh, movi → 00db
    frames); integer pixel sum → exact, reproducible mean."""
    if len(data) < 12 or data[0:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = n_frames = fps = None
    total = 0
    n = 0

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, n_frames, fps, total, n
        while pos + 8 <= end:
            cid, csize = struct.unpack_from("<4sI", data, pos)
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + csize)
            elif cid == b"avih":
                (width, height) = struct.unpack_from("<II", data, body_start + 32)
            elif cid == b"strh":
                fcc_type, _h, _f, _p, _l, _init, scale, rate = struct.unpack_from(
                    "<4s4sIHHIII", data, body_start
                )
                if fcc_type == b"vids" and scale:
                    fps = rate // scale
            elif cid == b"00db":
                if width is None:
                    raise ValueError("frame chunk before avih header")
                row_size = (3 * width + 3) // 4 * 4
                arr = np.frombuffer(
                    data, dtype=np.uint8, count=row_size * height, offset=body_start
                )
                total += int(
                    arr.reshape(height, row_size)[:, : 3 * width].sum(dtype=np.int64)
                )
                n += 3 * width * height
                n_frames = (n_frames or 0) + 1
            pos = body_start + csize + (csize & 1)  # chunks are word-aligned

    walk(12, len(data))
    if width is None or n_frames is None or fps is None:
        raise ValueError("missing avih/strh/movi content")
    return width, height, n_frames, fps, total / n


def decode_avi24_frame(data: bytes, frame_idx: int) -> tuple[int, int, float]:
    """Decode ONE frame of an uncompressed 24-bit AVI: walks the RIFF
    tree to the ``frame_idx``-th '00db' chunk and sums only that frame's
    pixel rows — the selective-decode primitive a frame-sampling plan
    executes (never touching the other frames' bytes). Returns
    (width, height, mean over the frame's channel bytes)."""
    if len(data) < 12 or data[0:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = None
    seen = -1
    total = 0
    n = 0

    def walk(pos: int, end: int) -> bool:
        nonlocal width, height, seen, total, n
        while pos + 8 <= end:
            cid, csize = struct.unpack_from("<4sI", data, pos)
            body_start = pos + 8
            if cid == b"LIST":
                if walk(body_start + 4, body_start + csize):
                    return True
            elif cid == b"avih":
                (width, height) = struct.unpack_from("<II", data, body_start + 32)
            elif cid == b"00db":
                seen += 1
                if seen == frame_idx:
                    if width is None:
                        raise ValueError("frame chunk before avih header")
                    row_size = (3 * width + 3) // 4 * 4
                    arr = np.frombuffer(
                        data,
                        dtype=np.uint8,
                        count=row_size * height,
                        offset=body_start,
                    )
                    total += int(
                        arr.reshape(height, row_size)[:, : 3 * width]
                        .sum(dtype=np.int64)
                    )
                    n += 3 * width * height
                    return True
            pos = body_start + csize + (csize & 1)
        return False

    if not walk(12, len(data)):
        raise ValueError(f"frame {frame_idx} not present")
    return width, height, total / n


def decode_planned_frames(assets: DataFrame, plan: DataFrame) -> DataFrame:
    """Execute a frame-sampling plan: join the (asset_id, frame_idx)
    work list onto the payloads, then selectively decode exactly the
    planned frames per Arrow batch. One equi-join on asset_id (the plan
    is metadata-derived and tiny relative to payload bytes, so AQE
    broadcasts it — payloads never reshuffle), then a narrow
    ``mapInPandas``; at 100 TB this is the decode-farm stage fed by
    ``multimodal_frame_plan``'s work list."""
    return _row_stage(
        assets.select("asset_id", "payload").join(plan, "asset_id"),
        ["asset_id", "frame_idx", "payload"],
        "asset_id long, frame_idx int, width int, height int, mean_pixel double",
        lambda aid, fidx, payload: [(aid, fidx, *decode_avi24_frame(payload, fidx))],
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png_gray(width: int, height: int, base: int) -> bytes:
    """A real PNG: 8-bit grayscale (color type 0), zlib-compressed IDAT,
    CRC-checked chunks; pixel v(x, y) = (base + 3x + 5y) % 256. Row y
    uses filter type y % 5, so every PNG filter (None/Sub/Up/Average/
    Paeth) appears in every image taller than 4 rows — the decoder has
    to implement the whole filter spec, not just the easy path.
    Filtering at ENCODE time is fully vectorized: the encoder knows the
    reconstructed grid, so left/up/up-left are plain array shifts."""
    import zlib

    ys = np.arange(height, dtype=np.int64)[:, None]
    xs = np.arange(width, dtype=np.int64)[None, :]
    v = ((base + 3 * xs + 5 * ys) % 256).astype(np.int64)
    left = np.zeros_like(v)
    left[:, 1:] = v[:, :-1]
    up = np.zeros_like(v)
    up[1:, :] = v[:-1, :]
    upleft = np.zeros_like(v)
    upleft[1:, 1:] = v[:-1, :-1]
    # Paeth predictor, vectorized
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    filtered_by_type = [
        v,  # 0 None
        (v - left) % 256,  # 1 Sub
        (v - up) % 256,  # 2 Up
        (v - (left + up) // 2) % 256,  # 3 Average
        (v - paeth) % 256,  # 4 Paeth
    ]
    scan = bytearray()
    for y in range(height):
        ft = y % 5
        scan.append(ft)
        scan.extend(filtered_by_type[ft][y].astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray(data: bytes) -> tuple[int, int, float, int]:
    """Parse a real PNG (8-bit grayscale, non-interlaced): chunk walk
    with CRC verification, zlib inflate, and full scanline unfiltering
    (all 5 filter types). Returns (width, height, mean_pixel,
    weighted_sum) where weighted_sum = Σ v(x,y)·(1 + x + y·width) —
    position-sensitive, so a decoder that gets any pixel's LOCATION
    wrong fails the oracle even if the value multiset matches.

    Unfiltering Sub/Average/Paeth is inherently sequential in x (each
    pixel needs the RECONSTRUCTED left neighbor), so those rows run a
    per-pixel loop — at the ≤16-px synthetic widths a numpy round-trip
    per row would cost more than it saves (the PERF-20 rule cuts both
    ways); Up rows vectorize since only the previous row is needed."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, idat = 8, None, None, bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, ctype_code, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype_code != 0 or interlace != 0:
                raise ValueError("unsupported PNG variant")
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width + 1
    prev = np.zeros(width, dtype=np.int64)
    total = 0
    wsum = 0
    for y in range(height):
        ft = raw[y * stride]
        filt = np.frombuffer(raw, dtype=np.uint8, count=width, offset=y * stride + 1).astype(np.int64)
        if ft == 0:
            recon = filt
        elif ft == 2:
            recon = (filt + prev) % 256
        elif ft in (1, 3, 4):
            recon = np.empty(width, dtype=np.int64)
            left = 0
            for x in range(width):
                up = int(prev[x])
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(prev[x - 1]) if x else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                left = (int(filt[x]) + pred) % 256
                recon[x] = left
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        total += int(recon.sum())
        wsum += int((recon * (1 + np.arange(width, dtype=np.int64) + y * width)).sum())
        prev = recon
    return width, height, total / (width * height), wsum


def png_asset(d: int) -> bytes:
    """The PNG asset of doc ``d``: width 8 + d%9, height 4 + d%8, pixel
    (d%241 + 3x + 5y) % 256."""
    return encode_png_gray(8 + d % 9, 4 + d % 8, d % 241)


_GIF_SIG = b"GIF87a"


def _lzw_encode_gif(indices: bytes, min_code_size: int = 8) -> bytes:
    """Real GIF LZW compression: dictionary coding with clear/EOI codes,
    LSB-first bit packing, and code width growing 9→12 bits. Width
    bookkeeping is the classic asymmetric pair — the ENCODER grows when
    ``next_code == (1 << width) + 1`` because its dictionary runs one
    definition ahead of the decoder's (it defines the entry for the
    string it just emitted), while the decoder grows at
    ``next_code == (1 << width)``; the round-trip test crosses the
    9→10→11-bit boundaries to pin the pairing. At 4096 entries a CLEAR
    resets the table per the spec."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nbits = 0
    out = bytearray()
    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh_table()
    next_code = eoi + 1
    emit(clear)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = fresh_table()
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([k])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF LZW decompression: dictionary rebuild (including the KwKwK
    self-referencing case), decoder-side width growth at
    ``next_code == (1 << width)`` (see the encoder's docstring for why
    the conditions differ by one), CLEAR resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # truncated stream: emit what we have
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code}")
        out.extend(entry)
        if prev is not None and len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    raise AssertionError("unreachable")


def encode_gif_gray(width: int, height: int, base: int) -> bytes:
    """A real GIF87a: 256-entry grayscale global color table, image
    data LZW-compressed by ``_lzw_encode_gif`` and wrapped in ≤255-byte
    sub-blocks. Pixel index v(x, y) = (base + 7x + 11y) % 256; the
    color table maps index i → (i, i, i), so the decoded gray equals
    the index."""
    v = (
        (base + 7 * np.arange(width)[None, :] + 11 * np.arange(height)[:, None])
        % 256
    ).astype(np.uint8)
    hdr = _GIF_SIG + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    palette = bytes(c for i in range(256) for c in (i, i, i))
    img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    lzw = _lzw_encode_gif(v.tobytes())
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)
    return hdr + palette + img_desc + bytes(blocks) + b"\x3b"


def decode_gif_gray(data: bytes) -> tuple[int, int, float, int]:
    """Parse a real GIF87a (single image, global color table, no
    interlace): header + logical screen descriptor, color table, image
    descriptor, sub-block reassembly, LZW decode, then pixel values
    looked up THROUGH the parsed color table (never assuming the
    identity palette the encoder happens to write). Returns
    (width, height, mean_pixel, weighted_sum) with the same
    position-weighted checksum as the PNG decoder — any misplaced
    pixel hash-fails the oracle."""
    if data[:6] != _GIF_SIG:
        raise ValueError("not a GIF87a payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    if not flags & 0x80:
        raise ValueError("expected a global color table")
    gct_size = 2 << (flags & 0x07)
    palette = data[pos : pos + 3 * gct_size]
    pos += 3 * gct_size
    if data[pos] != 0x2C:
        raise ValueError(f"expected image descriptor, got {data[pos]:#x}")
    left, top, w, h, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
    if iflags & 0xC0:
        raise ValueError("local color table / interlace unsupported")
    pos += 10
    min_code_size = data[pos]
    pos += 1
    lzw = bytearray()
    while True:
        blen = data[pos]
        pos += 1
        if blen == 0:
            break
        lzw.extend(data[pos : pos + blen])
        pos += blen
    idx = _lzw_decode_gif(bytes(lzw), min_code_size)
    if len(idx) != w * h:
        raise ValueError(f"decoded {len(idx)} pixels for {w}x{h} image")
    # gray value through the palette (r channel; the table is gray)
    gray = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)[
        np.frombuffer(idx, dtype=np.uint8), 0
    ].astype(np.int64)
    weights = 1 + np.arange(w * h, dtype=np.int64) % w + (
        np.arange(w * h, dtype=np.int64) // w
    ) * w
    return w, h, float(gray.mean()), int((gray * weights).sum())


def gif_asset(d: int) -> bytes:
    """The GIF asset of doc ``d``: width 6 + d%10, height 4 + d%7, pixel
    index (d%239 + 7x + 11y) % 256."""
    return encode_gif_gray(6 + d % 10, 4 + d % 7, d % 239)


# --- JPEG baseline (ITU T.81), grayscale, from scratch ---------------------
# The one lossy codec here. Real baseline JFIF: DQT/SOF0/DHT/SOS
# markers, canonical Huffman coding from the Annex K standard tables,
# byte stuffing, DC prediction, zigzag, and a general float FDCT/IDCT
# pair. JPEG is lossy, so the oracle trick differs from PNG/GIF: the
# generative image is CONSTANT within each 8x8 block, for which the
# round-trip is EXACT — every AC coefficient is mathematically zero
# (float residues ~1e-14 quantize to 0), the DC path is pure
# power-of-two scaling (S00 = 8c, IDCT DC-only = S00/8 = c, both exact
# in IEEE doubles), and the all-ones DQT preserves DC integers. The
# entropy/marker layers are exercised in full generality; the DCT path
# on non-constant blocks is pinned by inverse-consistency tests
# (tests/test_multimodal_decode.py), and the Huffman decoder against a
# hand-packed stream, so encoder and decoder cannot be wrong together.

# Annex K.3 typical Huffman tables for luminance (BITS counts per code
# length 1..16, then the symbol values in canonical order).
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
# Zigzag order: _JPEG_ZZ[k] = (row, col) of the k-th coefficient, per the
# ITU T.81 Figure 5 sequence: (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),...
# Odd anti-diagonals (row+col odd) are walked top-right -> bottom-left
# (row ascending); even anti-diagonals bottom-left -> top-right (col
# ascending).  tests/test_multimodal_decode.py pins the published prefix
# so encoder and decoder cannot share a transposed table.
_JPEG_ZZ = sorted(
    ((u, v) for u in range(8) for v in range(8)),
    key=lambda t: (t[0] + t[1], t[0] if (t[0] + t[1]) % 2 else t[1]),
)
_JPEG_COS = np.array(
    [[np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)] for u in range(8)]
)
_JPEG_CU = np.array([1.0 / np.sqrt(2.0)] + [1.0] * 7)


def _jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """{symbol: (code, length)} per the canonical construction (C.2)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_JPEG_DC_ENC = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_ENC = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) per F.1.2.1 — negatives one's-
    complemented within the category width."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _jpeg_fdct(block: "np.ndarray") -> "np.ndarray":
    """General 2-D FDCT (A.3.3): S = C · (block − 128) · Cᵀ scaled."""
    shifted = block.astype(np.float64) - 128.0
    tmp = _JPEG_COS @ shifted @ _JPEG_COS.T
    return 0.25 * np.outer(_JPEG_CU, _JPEG_CU) * tmp


def _jpeg_idct(coef: "np.ndarray") -> "np.ndarray":
    """General 2-D IDCT (A.3.3 inverse) + level shift, unclamped."""
    scaled = 0.25 * np.outer(_JPEG_CU, _JPEG_CU) * coef
    return _JPEG_COS.T @ scaled @ _JPEG_COS + 128.0


def encode_jpeg_gray(width: int, height: int, pixels: "np.ndarray") -> bytes:
    """A real baseline JFIF grayscale JPEG (general encoder: any pixel
    grid whose dims are multiples of 8): all-ones DQT, SOF0, the Annex
    K luminance Huffman tables in DHT, DC-differential + AC run-length
    entropy coding with byte stuffing."""
    assert width % 8 == 0 and height % 8 == 0
    w = _JpegBitWriter()
    prev_dc = 0
    for by in range(height // 8):
        for bx in range(width // 8):
            block = pixels[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _jpeg_fdct(block)
            q = np.rint(coef).astype(np.int64)  # all-ones DQT
            zz = [int(q[u, v]) for (u, v) in _JPEG_ZZ]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            size, extra = _jpeg_magnitude(diff)
            code, length = _JPEG_DC_ENC[size]
            w.put(code, length)
            if size:
                w.put(extra, size)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    zc, zl = _JPEG_AC_ENC[0xF0]  # ZRL
                    w.put(zc, zl)
                    run -= 16
                size, extra = _jpeg_magnitude(zz[k])
                code, length = _JPEG_AC_ENC[(run << 4) | size]
                w.put(code, length)
                w.put(extra, size)
                run = 0
            if last_nz < 63:
                ec, el = _JPEG_AC_ENC[0x00]  # EOB
                w.put(ec, el)
    scan = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _JpegBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:  # stuffed
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_decode_tree(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """{(length, code): symbol} — the decoder-side canonical map."""
    return {
        (length, code): sym
        for sym, (code, length) in _jpeg_canonical_codes(bits, vals).items()
    }


def _jpeg_read_symbol(r: "_JpegBitReader", tree: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(extra: int, size: int) -> int:
    if size == 0:
        return 0
    return extra if extra >= (1 << (size - 1)) else extra - (1 << size) + 1


def decode_jpeg_gray(data: bytes) -> tuple[int, int, float, int]:
    """Parse a real baseline grayscale JPEG: marker walk, DQT/DHT table
    construction (canonical Huffman), entropy decode with byte
    unstuffing, DC prediction, dequantize, dezigzag, general IDCT,
    level shift + clamp. Returns (width, height, mean_pixel,
    weighted_sum) with the same position-weighted checksum contract as
    ``decode_png_gray``."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = struct.unpack_from(">H", data, pos)[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise ValueError("16-bit DQT unsupported in baseline")
                qtables[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xFFC0:
            precision, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8 or ncomp != 1:
                raise ValueError("only 8-bit grayscale baseline supported")
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htables[(tc, th)] = _jpeg_decode_tree(bits, vals)
                i += 17 + nv
        elif marker == 0xFFDA:
            scan_start = pos + 2 + length
            break
        pos += 2 + length
    if width is None or scan_start is None:
        raise ValueError("JPEG missing SOF0/SOS")
    end = data.rindex(b"\xff\xd9")
    r = _JpegBitReader(data[scan_start:end])
    q = np.array(qtables[0], dtype=np.int64)
    dc_tree, ac_tree = htables[(0, 0)], htables[(1, 0)]
    prev_dc = 0
    total = 0
    wsum = 0
    for by in range(height // 8):
        for bx in range(width // 8):
            zz = np.zeros(64, dtype=np.int64)
            size = _jpeg_read_symbol(r, dc_tree)
            diff = _jpeg_extend(r.bits(size), size)
            prev_dc += diff
            zz[0] = prev_dc
            k = 1
            while k < 64:
                sym = _jpeg_read_symbol(r, ac_tree)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0xF
                k += run
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = _jpeg_extend(r.bits(size), size)
                k += 1
            coef = np.zeros((8, 8), dtype=np.float64)
            for idx, (u, v) in enumerate(_JPEG_ZZ):
                coef[u, v] = zz[idx] * q[idx]
            recon = np.clip(np.rint(_jpeg_idct(coef)), 0, 255).astype(np.int64)
            total += int(recon.sum())
            xs = bx * 8 + np.arange(8, dtype=np.int64)[None, :]
            ys = by * 8 + np.arange(8, dtype=np.int64)[:, None]
            wsum += int((recon * (1 + xs + ys * width)).sum())
    return width, height, total / (width * height), wsum


def jpeg_asset(d: int) -> bytes:
    """The JPEG asset of doc ``d``: 8·(1 + d%4) wide, 8·(1 + d%3) high,
    pixel CONSTANT per 8×8 block: v = (d%253 + 3·bx + 5·by) % 256 — the
    pattern for which the lossy round-trip is exact (see the comment at
    the top of the JPEG section)."""
    w, h = 8 * (1 + d % 4), 8 * (1 + d % 3)
    bxs = np.arange(w, dtype=np.int64)[None, :] // 8
    bys = np.arange(h, dtype=np.int64)[:, None] // 8
    return encode_jpeg_gray(w, h, (d % 253 + 3 * bxs + 5 * bys) % 256)


def synthetic_gray_assets(
    documents: DataFrame, residue: int, encode: Callable[[int], bytes]
) -> DataFrame:
    """Real grayscale-image payloads: every doc_id % 3 == ``residue``
    becomes the asset ``encode(doc_id)`` — ``png_asset`` (residue 0),
    ``gif_asset`` (1) or ``jpeg_asset`` (2): (asset_id, payload)."""
    return _row_stage(
        documents.filter(F.col("doc_id") % 3 == residue),
        ["doc_id"],
        "asset_id long, payload binary",
        lambda d: [(d, encode(d))],
    )


def decode_gray_properties(
    assets: DataFrame, decode: Callable[[bytes], tuple[int, int, float, int]]
) -> DataFrame:
    """Arrow-batched grayscale-image decode with ``decode_png_gray``,
    ``decode_gif_gray`` or ``decode_jpeg_gray`` per payload: (asset_id,
    width, height, mean_pixel, weighted_sum)."""
    return _row_stage(
        assets,
        ["asset_id", "payload"],
        "asset_id long, width int, height int, mean_pixel double, weighted_sum long",
        lambda aid, payload: [(aid, *decode(payload))],
    )


def decode_payload(payload: bytes, kind: str):
    """Decode a payload by kind — real byte-format parsing, stdlib only:
    BMP for image, WAV for audio, AVI (uncompressed DIB frames) for
    video. A native codec (H.264 or MP3 via PyAV/ffmpeg) would be added
    here as another kind."""
    if kind == "image":
        return decode_bmp24(payload)
    if kind == "audio":
        return decode_wav16(payload)
    if kind == "video":
        return decode_avi24(payload)
    raise ValueError(f"unknown asset kind: {kind!r}")


def synthetic_media_assets(documents: DataFrame) -> DataFrame:
    """Genuine decodable media payloads derived deterministically from
    ``doc_id``: even ids become real BMP images (width 8 + d%8, height
    4 + d%4, pixel (d%251 + x + y) % 256), odd ids become real WAV audio
    (16 kHz, 64 + d%64 samples, sample_i = (d·31 + i·7) % 2048 − 1024).
    Built in an Arrow-batched ``mapInPandas`` (byte packing is not a
    relational operation); the generative formulas are SQL-expressible,
    which is what makes the decode round-trip oracle-checkable."""

    def media(d: int) -> list[tuple]:
        if d % 2 == 0:
            return [(d, "image", encode_bmp24(8 + d % 8, 4 + d % 4, d % 251))]
        samples = [(d * 31 + i * 7) % 2048 - 1024 for i in range(64 + d % 64)]
        return [(d, "audio", encode_wav16(16000, samples))]

    return _row_stage(documents, ["doc_id"], "asset_id long, kind string, payload binary", media)


def synthetic_video_assets(documents: DataFrame) -> DataFrame:
    """Genuine decodable AVI payloads derived deterministically from
    ``doc_id``: width 8 + d%8, height 4 + d%4, 3 + d%5 frames at 10 fps,
    frame t's grayscale pixel (d%251 + x + y + 7·t) % 256. Built in an
    Arrow-batched ``mapInPandas``; the generative formulas are
    SQL-expressible, which makes the decode round-trip oracle-checkable
    (same contract as ``synthetic_media_assets``)."""
    return _row_stage(
        documents,
        ["doc_id"],
        "asset_id long, payload binary",
        lambda d: [(d, encode_avi24(8 + d % 8, 4 + d % 4, 3 + d % 5, 10, d % 251))],
    )


def decode_video_properties(assets: DataFrame) -> DataFrame:
    """Decode real AVI payloads (RIFF walking, DIB frame parsing) per
    Arrow batch: (asset_id, width, height, n_frames, fps, mean_pixel).
    No shuffle — runs over the scan partitioning; at 100 TB this is the
    exact stage shape a GPU/ffmpeg decode farm consumes."""
    return _row_stage(
        assets,
        ["asset_id", "payload"],
        "asset_id long, width int, height int, n_frames int, fps int, mean_pixel double",
        lambda aid, payload: [(aid, *decode_avi24(payload))],
    )


def decode_properties(assets: DataFrame) -> DataFrame:
    """Decode real image and audio payloads through ``decode_payload``
    per Arrow batch: (asset_id, kind, width, height, mean_pixel,
    sample_rate, n_samples, mean_abs). Inapplicable columns are NULL per
    kind. No shuffle — runs over the scan partitioning like any decode
    stage would."""

    def props(aid: int, kind: str, payload: bytes) -> list[tuple]:
        a, b, c = decode_payload(payload, kind)
        if kind == "image":
            return [(aid, kind, a, b, c, None, None, None)]
        return [(aid, kind, None, None, None, a, b, c)]

    schema = (
        "asset_id long, kind string, width int, height int, "
        "mean_pixel double, sample_rate int, n_samples long, mean_abs double"
    )
    return _row_stage(assets, ["asset_id", "kind", "payload"], schema, props)


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over payload bytes
    (``mapInPandas``): (asset_id, kind, n_bytes, f0..f{FEATURE_DIM-1}).
    Runs partition-parallel with no shuffle; the iterator shape is the
    same one a GPU-batched decoder would use. The feature vector is
    emitted as FEATURE_DIM scalar double columns (not array<double>):
    downstream sinks, the driver's hash canonicalization, and columnar
    stats all want scalars, and the width is a compile-time constant.
    The features are a deterministic stand-in for decode→embed: each
    payload's bucketed byte histogram (byte value mod FEATURE_DIM),
    L1-normalized (integer counts, one float64 division), replaceable
    by a real model or codec without touching the plan. The histogram
    is numpy (frombuffer → bincount, one (rows × FEATURE_DIM) matrix
    sliced into columns), not a per-byte Python loop (PERF finding 20),
    so it runs at about the Arrow transfer cost."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = len(pdf)
            counts = np.zeros((n, FEATURE_DIM), dtype=np.int64)
            totals = np.empty(n, dtype=np.float64)
            for i, payload in enumerate(payloads):
                arr = np.frombuffer(payload, dtype=np.uint8)
                counts[i] = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM)
                totals[i] = float(len(arr)) or 1.0
            feats = counts / totals[:, None]
            out = {
                "asset_id": pdf["asset_id"],
                "kind": pdf["kind"],
                "n_bytes": payloads.map(len),
            }
            for k in range(FEATURE_DIM):
                out[f"f{k}"] = feats[:, k]
            yield pd.DataFrame(out)

    feat_cols = ", ".join(f"f{k} double" for k in range(FEATURE_DIM))
    schema = f"asset_id long, kind string, n_bytes long, {feat_cols}"
    return assets.select("asset_id", "kind", "payload").mapInPandas(run, schema=schema)
