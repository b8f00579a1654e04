"""Multimodal-column queries (BASELINE extension). The asset table is
derived deterministically from ``documents`` (multimodal.py), so even
the byte-level feature extraction is oracle-checkable: the fake
decode→embed stand-in is a pure bytes→floats function both engines can
compute. ``multimodal_decode`` goes further: payloads are REAL BMP/WAV
files and the query parses the actual byte formats; the oracle
recomputes the expected properties from the generative formulas in SQL,
so either codec direction failing breaks the hash match."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal import (
    DCT_C,
    audio_window_stats,
    decode_gif_gray,
    decode_gray_properties,
    decode_jpeg_gray,
    decode_planned_frames,
    decode_png_gray,
    decode_properties,
    decode_video_properties,
    extract_features,
    gif_asset,
    jpeg_asset,
    phash_images,
    png_asset,
    resize_images,
    synthetic_assets,
    synthetic_gray_assets,
    synthetic_media_assets,
    synthetic_video_assets,
)
from ._util import t


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata analytics over binary assets: per kind, payload
    volume and metadata stats — the predicate/pruning layer that must
    run WITHOUT touching payload bytes at scale."""
    assets = synthetic_assets(t(spark, sf_dir, "documents"))
    return assets.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.min("meta.width").alias("min_width"),
        F.max("meta.height").alias("max_height"),
        F.sum(F.col("meta.duration_s").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_duration_s"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over payload bytes (Arrow batch
    path) — asset_id, kind, n_bytes, f0..f7 scalar feature columns
    (flattened from the 8-dim vector so every output cell is hashable
    by any downstream canonicalizer)."""
    assets = synthetic_assets(t(spark, sf_dir, "documents"))
    return extract_features(assets)


def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan for video assets: one row per frame to decode
    (every 2 s over the clip duration). The *planning* half of
    frame-sampling is pure relational work — sequence + explode off
    metadata only, payloads untouched; the decode half is the real AVI
    parser behind multimodal.decode_payload (see
    ``multimodal_video_decode``). At scale this is what feeds the GPU
    decode stage its work list."""
    assets = synthetic_assets(t(spark, sf_dir, "documents")).filter(
        F.col("kind") == "video"
    )
    n_frames = F.floor(F.col("meta.duration_s") / 2.0).cast("int")
    return (
        assets.filter(n_frames > 0)
        .select(
            "asset_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "asset_id",
            "frame_idx",
            (F.col("frame_idx") * 2.0).alias("t_offset_s"),
        )
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real codec round-trip: build genuine BMP/WAV payloads from
    doc_id, then DECODE THE BYTES (header parsing, row padding, PCM
    frames — multimodal.decode_bmp24/decode_wav16) in an Arrow-batched
    ``mapInPandas``. Two chained narrow stages, no shuffle. The oracle
    never sees the bytes: it recomputes width/height/mean_pixel/
    n_samples/mean_abs from the generative formulas, so the hash match
    proves encoder and decoder agree end-to-end."""
    assets = synthetic_media_assets(t(spark, sf_dir, "documents"))
    return decode_properties(assets)


def multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real VIDEO codec round-trip: build genuine AVI files (RIFF
    container, uncompressed 24-bit DIB frames) from doc_id, then parse
    the bytes back (multimodal.decode_avi24 — chunk tree walk, avih/strh
    headers, per-frame pixel rows) in an Arrow-batched ``mapInPandas``.
    Two chained narrow stages, no shuffle. The oracle recomputes
    width/height/n_frames/fps/mean_pixel from the generative formulas —
    the hash match proves the encoder and the decoder agree byte-for-
    byte on a real container format."""
    assets = synthetic_video_assets(t(spark, sf_dir, "documents"))
    return decode_video_properties(assets)


def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real COMPRESSED-image codec round-trip, stdlib only: build
    genuine PNGs (zlib DEFLATE IDAT, CRC-checked chunks, all five
    scanline filter types cycling per row), then parse the bytes back
    (multimodal.decode_png_gray — chunk walk, CRC verify, inflate,
    full unfilter). Two chained narrow stages, no shuffle. The oracle
    recomputes width/height/mean and a position-weighted pixel checksum
    from the generative formula, so a decoder that misplaces or
    miscomputes ANY pixel hash-fails — this is the compressed-codec
    counterpart of the BMP/WAV/AVI round-trips (DEFLATE entropy coding
    included, not just container parsing)."""
    assets = synthetic_gray_assets(t(spark, sf_dir, "documents"), 0, png_asset)
    return decode_gray_properties(assets, decode_png_gray)


def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL compressed-image codec, stdlib-free even of zlib:
    genuine GIF87a payloads whose image data is LZW-compressed by our
    own encoder (clear/EOI codes, LSB-first packing, 9→12-bit code
    growth), decoded back by an independent LZW decoder + palette
    lookup (multimodal.decode_gif_gray). Where the PNG round-trip
    exercises DEFLATE via zlib, this one implements the dictionary
    coder itself — decoder correctness is additionally pinned against a
    hand-packed literal-code stream in tests/test_multimodal_decode.py,
    so encoder and decoder cannot be wrong together. Same
    position-weighted checksum oracle as the PNG path."""
    assets = synthetic_gray_assets(t(spark, sf_dir, "documents"), 1, gif_asset)
    return decode_gray_properties(assets, decode_gif_gray)


def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL compressed-image codec, and the first LOSSY one:
    genuine baseline JFIF JPEGs (all-ones DQT, SOF0, the Annex K
    luminance Huffman tables, DC-differential + AC run-length entropy
    coding with byte stuffing) decoded back by a from-scratch baseline
    decoder (marker walk, canonical Huffman, dequantize, dezigzag,
    general float IDCT — multimodal.decode_jpeg_gray). Lossiness is
    what makes the oracle interesting: the generative image is CONSTANT
    per 8×8 block, for which the round-trip is EXACT (all AC
    coefficients are mathematically zero and the DC path is pure
    power-of-two scaling), so the position-weighted checksum oracle
    carries over from the PNG/GIF paths while the entropy and marker
    layers run in full generality. The general-DCT path on non-constant
    blocks is pinned by inverse-consistency tests, and the Huffman
    decoder against a hand-packed stream
    (tests/test_multimodal_decode.py) — encoder and decoder cannot be
    wrong together."""
    assets = synthetic_gray_assets(t(spark, sf_dir, "documents"), 2, jpeg_asset)
    return decode_gray_properties(assets, decode_jpeg_gray)


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup — the multimodal counterpart of
    dedup_exact: decode each REAL BMP payload, 8×8 NN-resample, 2-D
    INTEGER DCT-II (basis scaled to int64 once at import — no runtime
    trig in either engine), one bit per AC coefficient vs the unique
    63-element median (multimodal.phash_bmp — brightness-invariant by
    dropping DC, which is why same-geometry images differing only in
    base brightness collapse into one group here), then a hash-groupBy
    to (phash, n_assets, canonical). Exact-phash grouping is ONE linear
    shuffle on a 63-bit key — the image twin of content-fingerprint
    dedup, and the oracle recomputes the full decode→resample→DCT→bits
    pipeline from the generative formulas in SQL, so a single wrong
    pixel, DCT cell or threshold bit anywhere fails the hash."""
    assets = synthetic_media_assets(t(spark, sf_dir, "documents")).filter(
        F.col("kind") == "image"
    )
    ph = phash_images(assets)
    return ph.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.min("asset_id").alias("canonical_id"),
    )


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image preprocessing: encode genuine BMPs, then decode AND
    nearest-neighbor-resize the pixel grid to a fixed 4×2 thumbnail in
    an Arrow-batched ``mapInPandas`` (multimodal.resize_bmp_nn). Two
    chained narrow stages, no shuffle — the canonical decode→resize
    front half of an image training pipeline. The oracle recomputes
    every thumbnail pixel from the generative formula with the same
    floor-division source mapping, so a one-pixel disagreement anywhere
    in decode or resample fails the hash."""
    assets = synthetic_media_assets(t(spark, sf_dir, "documents")).filter(
        F.col("kind") == "image"
    )
    return resize_images(assets)


def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio framing: encode genuine WAVs, decode the PCM frames,
    and emit per-32-sample-window mean-abs / RMS rows (the framing under
    any spectrogram/VAD front-end). Row fan-out happens inside the Arrow
    batch — no shuffle, no driver materialization; integer sample sums
    keep every double bit-reproducible."""
    assets = synthetic_media_assets(t(spark, sf_dir, "documents")).filter(
        F.col("kind") == "audio"
    )
    return audio_window_stats(assets)


def multimodal_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective frame decode — the execution half of the frame-sampling
    story: a metadata-derived work list (every 2nd frame of each real
    AVI) joins onto the payloads and ``decode_avi24_frame`` walks the
    RIFF tree to decode ONLY the planned frames, never touching the
    other frames' bytes. Plan-side join is an asset_id equi-join with
    the tiny plan broadcast at runtime; the decode is a narrow
    ``mapInPandas``. The oracle recomputes each sampled frame's mean
    from the generative formula, so decoding the wrong frame — or the
    right frame at the wrong byte offset — fails the hash."""
    docs = t(spark, sf_dir, "documents")
    assets = synthetic_video_assets(docs)
    n_frames = (F.col("doc_id") % 5 + 3).cast("int")
    plan = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(2))).alias("fi"),
    ).select("asset_id", F.col("fi").cast("int").alias("frame_idx"))
    return decode_planned_frames(assets, plan)


QUERIES = {
    "multimodal_phash_dedup": multimodal_phash_dedup,
    "multimodal_image_resize": multimodal_image_resize,
    "multimodal_frame_decode": multimodal_frame_decode,
    "multimodal_audio_windows": multimodal_audio_windows,
    "multimodal_metadata": multimodal_metadata,
    "multimodal_features": multimodal_features,
    "multimodal_frame_plan": multimodal_frame_plan,
    "multimodal_decode": multimodal_decode,
    "multimodal_video_decode": multimodal_video_decode,
    "multimodal_png_decode": multimodal_png_decode,
    "multimodal_gif_decode": multimodal_gif_decode,
    "multimodal_jpeg_decode": multimodal_jpeg_decode,
}

_KIND = (
    "CASE WHEN doc_id % 3 = 0 THEN 'image' "
    "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
)

# Thumbnail pixel k (row-major y*4+x): NN source = (x·w//4, y·h//2),
# value = (base + sx + sy) % 256 with base = doc_id % 251.
_PX_EXPRS = [
    f"((doc_id % 251) + ((({k % 4}) * (8 + doc_id % 8)) // 4)"
    f" + ((({k // 4}) * (4 + doc_id % 4)) // 2)) % 256"
    for k in range(8)
]
_PX_COLS = ", ".join(
    f"CAST({e} AS INT) AS p{k}" for k, e in enumerate(_PX_EXPRS)
)

# Per-window sample expressions for the audio oracle: sample i of doc d
# is (d·31 + i·7) % 2048 − 1024; window w covers [w·32, min((w+1)·32, n)).
_AUD_S = "((doc_id * 31 + i * 7) % 2048 - 1024)"
_AUD_HI = "least((w + 1) * 32, n)"
_AUD_NW = f"({_AUD_HI} - w * 32)"


def _aud_win(expr: str) -> str:
    """Lift a per-window scalar expression into the zipped unnest form."""
    return f"unnest(list_transform(range(0, n_win), w -> {expr}))"


ORACLES = {
    "multimodal_image_resize": f"""
        SELECT doc_id AS asset_id,
               CAST(8 + doc_id % 8 AS INT) AS width,
               CAST(4 + doc_id % 4 AS INT) AS height,
               {_PX_COLS},
               CAST(({" + ".join(f"({e})" for e in _PX_EXPRS)}) AS DOUBLE) / 8.0
                 AS mean_thumb
        FROM documents WHERE doc_id % 2 = 0
    """,
    "multimodal_audio_windows": f"""
        SELECT doc_id AS asset_id,
               CAST(unnest(range(0, n_win)) AS INT) AS window_idx,
               CAST({_aud_win(_AUD_NW)} AS INT) AS n_samples,
               {_aud_win(
                   f"CAST(list_sum(list_transform(range(w * 32, {_AUD_HI}),"
                   f" i -> abs({_AUD_S}))) AS DOUBLE) / {_AUD_NW}"
               )} AS mean_abs,
               {_aud_win(
                   f"sqrt(CAST(list_sum(list_transform(range(w * 32, {_AUD_HI}),"
                   f" i -> {_AUD_S} * {_AUD_S})) AS DOUBLE) / {_AUD_NW})"
               )} AS rms
        FROM (
          SELECT doc_id, 64 + doc_id % 64 AS n,
                 (64 + doc_id % 64 + 31) // 32 AS n_win
          FROM documents WHERE doc_id % 2 = 1
        )
    """,
    "multimodal_frame_decode": """
        SELECT doc_id AS asset_id,
               CAST(unnest(range(0, 3 + doc_id % 5, 2)) AS INT) AS frame_idx,
               CAST(8 + doc_id % 8 AS INT) AS width,
               CAST(4 + doc_id % 4 AS INT) AS height,
               unnest(list_transform(range(0, 3 + doc_id % 5, 2),
                 t -> list_avg(flatten(list_transform(range(0, 8 + doc_id % 8),
                   i -> list_transform(range(0, 4 + doc_id % 4),
                     j -> CAST((doc_id % 251 + i + j + 7 * t) % 256
                          AS DOUBLE)))))))
                 AS mean_pixel
        FROM documents
    """,
    "multimodal_metadata": f"""
        SELECT {_KIND} AS kind,
               count(1) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               min(CAST(doc_id % 640 + 64 AS INT)) AS min_width,
               max(CAST(doc_id % 480 + 48 AS INT)) AS max_height,
               CAST(SUM(CAST(n_chars / 100.0 AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_duration_s
        FROM documents GROUP BY 1
    """,
    "multimodal_frame_plan": f"""
        SELECT doc_id AS asset_id,
               CAST(unnest(range(0, CAST(floor(n_chars / 100.0 / 2.0) AS INT))) AS INT)
                 AS frame_idx,
               CAST(unnest(range(0, CAST(floor(n_chars / 100.0 / 2.0) AS INT))) * 2.0
                 AS DOUBLE) AS t_offset_s
        FROM documents
        WHERE {_KIND} = 'video'
          AND CAST(floor(n_chars / 100.0 / 2.0) AS INT) > 0
    """,
    "multimodal_decode": """
        SELECT doc_id AS asset_id, 'image' AS kind,
               CAST(8 + doc_id % 8 AS INT) AS width,
               CAST(4 + doc_id % 4 AS INT) AS height,
               list_avg(flatten(list_transform(range(0, 8 + doc_id % 8),
                 i -> list_transform(range(0, 4 + doc_id % 4),
                   j -> CAST((doc_id % 251 + i + j) % 256 AS DOUBLE)))))
                 AS mean_pixel,
               CAST(NULL AS INT) AS sample_rate,
               CAST(NULL AS BIGINT) AS n_samples,
               CAST(NULL AS DOUBLE) AS mean_abs
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id AS asset_id, 'audio' AS kind,
               CAST(NULL AS INT) AS width,
               CAST(NULL AS INT) AS height,
               CAST(NULL AS DOUBLE) AS mean_pixel,
               CAST(16000 AS INT) AS sample_rate,
               CAST(64 + doc_id % 64 AS BIGINT) AS n_samples,
               list_avg(list_transform(range(0, 64 + doc_id % 64),
                 i -> CAST(abs((doc_id * 31 + i * 7) % 2048 - 1024) AS DOUBLE)))
                 AS mean_abs
        FROM documents WHERE doc_id % 2 = 1
    """,
    # pixel v(x,y) = (d%241 + 3x + 5y) % 256; both aggregates are exact
    # integer arithmetic (mean = int sum / n, < 2^53), so element order
    # in the flattened lists is irrelevant to the hash
    "multimodal_png_decode": """
        SELECT doc_id AS asset_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(4 + doc_id % 8 AS INT) AS height,
               list_avg(flatten(list_transform(range(0, 4 + doc_id % 8),
                 y -> list_transform(range(0, 8 + doc_id % 9),
                   x -> CAST((doc_id % 241 + 3*x + 5*y) % 256 AS DOUBLE)))))
                 AS mean_pixel,
               CAST(list_sum(flatten(list_transform(range(0, 4 + doc_id % 8),
                 y -> list_transform(range(0, 8 + doc_id % 9),
                   x -> ((doc_id % 241 + 3*x + 5*y) % 256)
                        * (1 + x + y * (8 + doc_id % 9)))))) AS BIGINT)
                 AS weighted_sum
        FROM documents WHERE doc_id % 3 = 0
    """,
    # Mirror of multimodal_jpeg_decode: the block-constant generative
    # formula recomputed relationally — the lossy codec round-trips this
    # pattern exactly (see the plan docstring), so a decoder that gets
    # any pixel value OR position wrong hash-fails.
    "multimodal_jpeg_decode": """
        SELECT doc_id AS asset_id,
               CAST(8 * (1 + doc_id % 4) AS INT) AS width,
               CAST(8 * (1 + doc_id % 3) AS INT) AS height,
               list_avg(flatten(list_transform(range(0, 8 * (1 + doc_id % 3)),
                 y -> list_transform(range(0, 8 * (1 + doc_id % 4)),
                   x -> CAST((doc_id % 253 + 3*(x // 8) + 5*(y // 8)) % 256
                        AS DOUBLE)))))
                 AS mean_pixel,
               CAST(list_sum(flatten(list_transform(range(0, 8 * (1 + doc_id % 3)),
                 y -> list_transform(range(0, 8 * (1 + doc_id % 4)),
                   x -> ((doc_id % 253 + 3*(x // 8) + 5*(y // 8)) % 256)
                        * (1 + x + y * (8 * (1 + doc_id % 4))))))) AS BIGINT)
                 AS weighted_sum
        FROM documents WHERE doc_id % 3 = 2
    """,
    # Mirror of multimodal_gif_decode: the generative pixel formula
    # recomputed relationally — decode must reproduce every pixel at
    # its exact position through LZW + palette or the hash fails.
    "multimodal_gif_decode": """
        SELECT doc_id AS asset_id,
               CAST(6 + doc_id % 10 AS INT) AS width,
               CAST(4 + doc_id % 7 AS INT) AS height,
               list_avg(flatten(list_transform(range(0, 4 + doc_id % 7),
                 y -> list_transform(range(0, 6 + doc_id % 10),
                   x -> CAST((doc_id % 239 + 7*x + 11*y) % 256 AS DOUBLE)))))
                 AS mean_pixel,
               CAST(list_sum(flatten(list_transform(range(0, 4 + doc_id % 7),
                 y -> list_transform(range(0, 6 + doc_id % 10),
                   x -> ((doc_id % 239 + 7*x + 11*y) % 256)
                        * (1 + x + y * (6 + doc_id % 10)))))) AS BIGINT)
                 AS weighted_sum
        FROM documents WHERE doc_id % 3 = 1
    """,
    "multimodal_video_decode": """
        SELECT doc_id AS asset_id,
               CAST(8 + doc_id % 8 AS INT) AS width,
               CAST(4 + doc_id % 4 AS INT) AS height,
               CAST(3 + doc_id % 5 AS INT) AS n_frames,
               CAST(10 AS INT) AS fps,
               list_avg(flatten(flatten(list_transform(range(0, 3 + doc_id % 5),
                 t -> list_transform(range(0, 8 + doc_id % 8),
                   i -> list_transform(range(0, 4 + doc_id % 4),
                     j -> CAST((doc_id % 251 + i + j + 7 * t) % 256 AS DOUBLE)))))))
                 AS mean_pixel
        FROM documents
    """,
    "multimodal_features": f"""
        WITH bytes AS (
          SELECT doc_id, {_KIND} AS kind,
                 list_transform(string_split_regex(text, ''), c -> ascii(c)) AS bs
          FROM documents
        )
        SELECT doc_id AS asset_id, kind,
               CAST(len(bs) AS BIGINT) AS n_bytes,
               {", ".join(
                   f"CAST(len(list_filter(bs, b -> b % 8 = {k})) AS DOUBLE)"
                   f" / CAST(len(bs) AS DOUBLE) AS f{k}"
                   for k in range(8)
               )}
        FROM bytes
    """,
}

_DCT_SQL = (
    "[" + ", ".join("[" + ", ".join(str(c) for c in row) + "]" for row in DCT_C) + "]"
)
# Mirror of multimodal_phash_dedup: the SAME integer DCT basis literal
# (DCT_C, scaled cosines rounded once in Python) over the 8×8 grid the
# NN resample of the generative pixel formula produces — the whole
# pipeline is int64-exact, so the only way to match is to agree on
# every pixel, coefficient and threshold bit.
ORACLES["multimodal_phash_dedup"] = f"""
    WITH imgs AS (
      SELECT doc_id AS asset_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
             doc_id % 251 AS base
      FROM documents WHERE doc_id % 2 = 0
    ),
    px AS (
      SELECT asset_id,
             list_transform(range(0, 64), k ->
               (base + ((k % 8) * w) // 8 + ((k // 8) * h) // 8) % 256) AS p
      FROM imgs
    ),
    cmat AS (SELECT {_DCT_SQL} AS c),
    rowt AS (
      -- separable DCT pass 1: R[u·8+x] = Σ_y C[u][y]·P[y][x] (exact
      -- int64, so the re-association vs the one-pass form is lossless)
      SELECT asset_id,
             list_transform(range(0, 64), j ->
               list_sum(list_transform(range(0, 8), y ->
                 c[j // 8 + 1][y + 1] * p[y * 8 + (j % 8) + 1]))) AS r
      FROM px, cmat
    ),
    dct AS (
      -- pass 2: T[u·8+v] = Σ_x C[v][x]·R[u·8+x]
      SELECT asset_id,
             list_transform(range(0, 64), idx ->
               list_sum(list_transform(range(0, 8), x ->
                 c[idx % 8 + 1][x + 1] * r[(idx // 8) * 8 + x + 1]))) AS t
      FROM rowt, cmat
    ),
    med AS (
      SELECT asset_id,
             list_transform(range(2, 65), i -> t[i]) AS a,
             list_sort(list_transform(range(2, 65), i -> t[i]))[32] AS med
      FROM dct
    ),
    ph AS (
      SELECT asset_id,
             CAST(list_sum(list_transform(range(1, 64), i ->
               CASE WHEN a[i] > med THEN CAST(1 AS BIGINT) << (i - 1)
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
      FROM med
    )
    SELECT phash, count(1) AS n_assets, min(asset_id) AS canonical_id
    FROM ph GROUP BY 1
"""
