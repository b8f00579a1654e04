"""Similarity search over embedding columns (BASELINE extension).

Two tiers, per the scale story:

1. **Brute-force cosine top-k** (``brute_topk``): broadcast the query
   set, fold-based dot products (functions/vectors.py), per-query
   window top-k. Exact, deterministic, oracle-checkable. Cost is
   O(|queries| × |corpus| × dim) — the right baseline, and fine whenever
   the query set is small enough to broadcast.
2. **Random-hyperplane LSH** (``hyperplane_signature``): ±1 plane
   matrix generated deterministically (md5-seeded, reproducible in any
   engine), signature = sign-bit vector of plane dots packed into an
   int; equi-join on the signature bucket → candidates → exact cosine
   verify. Linear shuffle instead of the quadratic pair scan — the
   100 TB path for near-dup detection.

The Arrow kernels below (PQ codes, IVF cosine ranking, k-nearest by
squared L2, within-cell cosine pairs) score with the shared
NumPy core of functions/vectors.py (``fold_dot``/``fold_d2`` +
``select_topn``), so their scores and tie order are bit-identical to the
fold expressions and the DuckDB oracles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..frames import local_frame
from ..functions.hashing import portable_hash64
from ..functions.vectors import (
    dot_product,
    fold_d2,
    fold_dot,
    l2_norm,
    select_topn,
    to_double_array,
)

__all__ = [
    "hyperplane_matrix",
    "brute_topk",
    "add_hyperplane_bucket",
    "hyperplane_band_rows",
    "map_chunks",
    "exact_d2_topn_cogroup",
    "pq_argmin_codes",
    "cosine_rank_assign",
    "cell_cosine_pairs",
]

# Rows per kernel call: bounds a kernel's (rows × candidates) score
# matrix, e.g. 4096 × 775 IVF cells = 25 MB of doubles.
CHUNK_ROWS = 4096


def hyperplane_matrix(n_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix: sign of bit 0 of
    md5(seed|plane|dim). Reproducible anywhere (incl. SQL oracles) —
    no RNG state involved."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}|{p}|{i}".encode()).hexdigest()[:15], 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row
    (self-matches excluded). The query side is broadcast — the corpus is
    never shuffled, scaling to any corpus size with a bounded query set."""
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        to_double_array(vec_col).alias("cvec"),
    ).withColumn("cnorm", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("qvec"),
    ).withColumn("qnorm", l2_norm(F.col("qvec")))

    pairs = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "cand_id",
        (
            dot_product(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def add_hyperplane_bucket(
    df: DataFrame,
    planes: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Signature bucket = Σ_p (sign(v·plane_p) << p). Plane dots are
    fold expressions over literal arrays — no UDF, engine-reproducible."""
    v = to_double_array(vec_col)
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        dot = dot_product(v, plane_col)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "bigint"
        )
    return df.withColumn(out_col, bucket)


def hyperplane_band_rows(
    df: DataFrame,
    params_rel: DataFrame,
    max_bands: int,
    band_bits: int,
    dim: int,
    *,
    seed: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-size-ADAPTIVE banded hyperplane signature: (id, band_idx,
    band_key) rows, where both the number of bands and each band's
    effective key width come from ``params_rel`` — a 1-row (nb int,
    w int) relation derived from the SAME corpus (a count aggregate),
    broadcast twice, never a driver value.

    Band ``b`` owns plane indices ``[b·band_bits, (b+1)·band_bits)`` of
    the md5-seeded family (``hyperplane_matrix`` formula), its signature
    is the sign-bit integer of those plane dots, and its key is the
    signature's low ``w`` bits. Only planes for bands ``< nb`` AND
    in-key positions ``< w`` are ever generated: the plane relation is
    built at ``max_bands·band_bits`` rows and filtered by the broadcast
    ``(nb, w)`` BEFORE the explode join, so the dot work is
    ``n·dim·nb·w`` — the signature cost scales with the data-dependent
    knobs, not the static maxima (which only fix the family LAYOUT:
    band b owns plane indices [b·band_bits, (b+1)·band_bits)). There
    is no packed single-BIGINT bucket (max_bands·band_bits may exceed
    63 bits); bands are emitted directly as rows, which is the shape
    every banded-LSH consumer explodes to anyway.

    Signatures come from explode→aggregate rather than per-row folds
    (see operators/dedup.py module docstring for why: higher-order
    folds are CodegenFallback and CollapseProject re-inlines them into
    every downstream reference, while an Aggregate is a hard boundary
    and the sums are whole-stage codegen'd with map-side partials).
    The ±1 plane values are derived IN-ENGINE from the md5 formula of
    ``hyperplane_matrix`` (bit 0 of ``portable_hash64("seed|p|pos")``)
    rather than embedded as literals, which would cost seconds of
    Catalyst analysis per query. Plane dots are decimal-exact sums
    (order-independent, identical in any engine — plans/_util.py
    policy), so the sign bits are engine-reproducible although the
    input order of the (pos, x) rows is arbitrary.

    Parallelism guard: a small parquet file scans as ONE partition, and
    the heavy map side (n·dim·planes decimal multiply-adds) would then
    run single-threaded — measured 4.4 s for 2000×64×32 at sf0.1 vs
    ~1 s parallel. When the input scan has fewer partitions than the
    session default, the exploded (id, pos, x) rows are hash-spread on
    (id, pos) before the plane join; the shuffle moves n·dim compact
    rows and the decimal sums are order-independent, so the result is
    bit-identical. Repartitioning the pre-explode DataFrame instead
    measured WORSE end-to-end (8 s — the pinned user exchange defeats
    AQE's downstream coalescing). On a real cluster the scan already
    has plentiful partitions and the branch is a no-op."""
    spark = df.sparkSession
    ex = df.select(
        id_col, F.posexplode(to_double_array(vec_col)).alias("pos", "x")
    )
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        ex = ex.repartition(target, id_col, "pos")
    n_planes = max_bands * band_bits
    pl = (
        spark.range(n_planes * dim)
        .select(
            (F.col("id") / dim).cast("int").alias("plane_idx"),
            (F.col("id") % dim).cast("int").alias("pos"),
            F.concat(
                F.lit(f"{seed}|"),
                (F.col("id") / dim).cast("int").cast("string"),
                F.lit("|"),
                (F.col("id") % dim).cast("int").cast("string"),
            ).alias("cell_key"),
        )
        .select(
            "plane_idx",
            "pos",
            F.when(
                portable_hash64(F.col("cell_key")).bitwiseAND(F.lit(1)) == 1,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("pval"),
        )
        # data-dependent plane-count cut: bands ≥ nb never reach the
        # explode join, and neither do planes ≥ w WITHIN a band (their
        # sign bits would be masked off the key anyway — round 12, the
        # cut that makes a large band_bits ceiling free: dot work is
        # n·dim·nb·w, not n·dim·nb·band_bits)
        .crossJoin(F.broadcast(params_rel.select("nb", "w")))
        .filter(
            (F.col("plane_idx") < F.col("nb") * band_bits)
            & (F.col("plane_idx") % band_bits < F.col("w"))
        )
        .drop("nb", "w")
    )
    dots = (
        ex.join(F.broadcast(pl), "pos")
        .groupBy(id_col, "plane_idx")
        .agg(F.sum((F.col("x") * F.col("pval")).cast("decimal(28,12)")).alias("dot"))
    )
    sigs = dots.groupBy(
        id_col, (F.col("plane_idx") / band_bits).cast("int").alias("band_idx")
    ).agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(plane_idx % {band_bits} AS INT))"
                ),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("band_sig")
    )
    return sigs.crossJoin(F.broadcast(params_rel.select("w"))).select(
        id_col,
        "band_idx",
        F.expr(
            "band_sig & (shiftleft(CAST(1 AS BIGINT), w) - 1)"
        ).alias("band_key"),
    )


def _chunks(pdf: pd.DataFrame):
    for start in range(0, len(pdf), CHUNK_ROWS):
        yield pdf.iloc[start : start + CHUNK_ROWS]


def _schema(out_fields: list, *inputs: DataFrame) -> StructType:
    """A name takes that column's field from the first input that has
    it; a ``StructField`` is a new column."""
    fields: dict = {}
    for df in reversed(inputs):
        fields.update((f.name, f) for f in df.schema.fields)
    return StructType(
        [fields[f] if isinstance(f, str) else f for f in out_fields]
    )


def map_chunks(
    df: DataFrame,
    in_cols: list[str],
    out_fields: list,
    kernel: Callable[[pd.DataFrame], dict] | None,
) -> DataFrame:
    """``df.select(*in_cols).mapInPandas``, calling ``kernel`` on every
    ``CHUNK_ROWS``-row slice of each Arrow batch; the kernel returns the
    output columns as a dict. The output schema is built once, here:
    each of ``out_fields`` is an input column name (its field is reused)
    or a new ``StructField``. ``kernel=None`` means there is nothing to
    score against: an empty frame of that schema, no job."""
    schema = _schema(out_fields, df)
    if kernel is None:
        return local_frame(df.sparkSession, [], schema)
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            for ch in _chunks(pdf):
                yield pd.DataFrame(kernel(ch))[names]

    return df.select(*dict.fromkeys(in_cols)).mapInPandas(run, schema=schema)


def pq_argmin_codes(
    sub: DataFrame,
    codebook_rows: list,
    *,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-codeword assignment per (id, m) sub-vector row, ROW-LOCAL
    against a driver-resident codebook: the codebook rides in as a task
    closure and each Arrow batch computes its own argmins — no
    ``sub ⋈ broadcast(cb)`` rows (N·PQ_M·PQ_KS of them), no exchange.

    BIT-IDENTICAL to that join + (d2 ASC, k ASC) rank window and to the
    DuckDB oracles' ``ad`` CTE: d2 is ``fold_d2``, and ties resolve to
    the LOWEST k because the per-m codeword matrix is k-sorted and
    ``select_topn`` is stable (``test_pq_argmin_parity``).

    ``codebook_rows``: the collected (m, k, cv) rows — bounded
    O(PQ_M·PQ_KS·SUB_DIM) by construction (the kmeans-centroid
    collect policy: index metadata, never corpus data).
    ``sub`` needs (id_col, m, subv[, *passthrough]); output is
    (id_col, m, k[, *passthrough]), one row per input row whose m has
    codewords — any other row drops, as in the old inner join."""
    by_m: dict[int, list] = {}
    for r in codebook_rows:
        by_m.setdefault(int(r["m"]), []).append((int(r["k"]), list(r["cv"])))
    cmats = {
        m: (
            np.asarray([k for k, _ in sorted(rows)], dtype=np.int32),
            np.asarray([cv for _, cv in sorted(rows)], dtype=np.float64),
        )
        for m, rows in by_m.items()
    }

    def assign(ch: pd.DataFrame) -> dict:
        marr = ch["m"].to_numpy()
        kout = np.full(len(ch), -1, dtype=np.int32)
        for m, (ks, cmat) in cmats.items():
            mask = marr == m
            if mask.any():
                X = np.stack(ch["subv"].to_numpy()[mask])
                d2 = fold_d2(X[:, None], cmat)
                kout[mask] = ks[select_topn(d2, 1)[:, 0]]
        keep = kout >= 0  # -1: no codebook for this m
        out = {c: ch[c].to_numpy()[keep] for c in (id_col, "m", *passthrough)}
        out["k"] = kout[keep]
        return out

    return map_chunks(
        sub,
        [id_col, "m", "subv", *passthrough],
        [id_col, "m", StructField("k", IntegerType(), False), *passthrough],
        assign if cmats else None,
    )


def cosine_rank_assign(
    e: DataFrame,
    cent_rows: list,
    nprobe: int,
    keep_mask,
) -> DataFrame:
    """Row-local nearest-centroid ranking by cosine, Arrow-vectorized
    against a driver-collected centroid matrix (no per-row HOF struct
    pool over a broadcast collect_list).

    BIT-IDENTICAL ranking: the dot is ``fold_dot``, then
    ``negcs = -(dot / (nrm · cn))`` with the same operation order as
    the HOF chain and the oracle's ``cosine DESC``; ``select_topn`` is
    stable over a cell-ascending centroid matrix, so bit-equal cosines
    resolve to the lower cell id exactly like the lexicographic
    struct sort / the oracle's ``ORDER BY cs DESC, cell ASC``.
    A zero-norm vector or centroid gives a NaN cosine, which raises
    (the oracle ranks NaN first, the HOF sort last; the corpora have
    none — ``test_no_zero_norm_embeddings``).

    ``cent_rows``: collected (cell, cv, cn) rows — bounded
    O(cells·dim) = O(√N·dim) under the module's cell policy (the
    kmeans-centroid collect discipline: index metadata, never corpus
    data). ``keep_mask(vec_ids: np.ndarray, cranks: np.ndarray) ->
    np.ndarray[bool]`` selects which (row, crank) pairs are emitted —
    the caller's consumed-rows cut (crank = 1 everywhere plus the
    bounded query side's crank ≤ nprobe).

    ``e`` needs (vec_id, v array<double>, nrm double); output is
    (vec_id, v, nrm, cell int, cv array<double>, crank int)."""
    cent_sorted = sorted(
        ((int(r["cell"]), list(r["cv"]), float(r["cn"])) for r in cent_rows)
    )
    cells = np.asarray([c for c, _, _ in cent_sorted], dtype=np.int32)
    cmat = np.asarray([cv for _, cv, _ in cent_sorted], dtype=np.float64)
    cn = np.asarray([n for _, _, n in cent_sorted], dtype=np.float64)
    cvs = [cv for _, cv, _ in cent_sorted]

    def assign(ch: pd.DataFrame) -> dict:
        v = ch["v"].to_numpy()
        X = np.stack(v)
        nrm = ch["nrm"].to_numpy()
        negcs = -(fold_dot(X[:, None], cmat) / (nrm[:, None] * cn[None, :]))
        idx = select_topn(negcs, int(nprobe))
        b, nsel = idx.shape
        vec_ids = np.repeat(ch["vec_id"].to_numpy(), nsel)
        cranks = np.tile(np.arange(1, nsel + 1, dtype=np.int32), b)
        keep = keep_mask(vec_ids, cranks)
        flat_idx = idx.ravel()[keep]
        rows_rep = np.repeat(np.arange(b), nsel)[keep]
        return {
            "vec_id": vec_ids[keep],
            "v": v[rows_rep],
            "nrm": nrm[rows_rep],
            "cell": cells[flat_idx],
            "cv": [cvs[i] for i in flat_idx],
            "crank": cranks[keep],
        }

    return map_chunks(
        e,
        ["vec_id", "v", "nrm"],
        [
            "vec_id",
            "v",
            "nrm",
            StructField("cell", IntegerType(), False),
            StructField("cv", ArrayType(DoubleType()), False),
            StructField("crank", IntegerType(), False),
        ],
        assign if cent_sorted else None,
    )


def cell_cosine_pairs(index: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine) for every pair of ``index`` rows that share
    a cell (``cid``), with ``vec_a < vec_b`` and ``cosine >= threshold``:
    one grouped Arrow kernel in place of the self-join on ``cid`` and a
    per-pair ``aggregate(zip_with(...))`` cosine.

    BIT-IDENTICAL to that expression, ``dot_product(va, vb) / (na * nb)``:
    the dot is ``fold_dot`` over ``CHUNK_ROWS``-row slices of the
    id-sorted cell against the rows after the slice's first, and the
    divide is the same single rounded operation. A pair sharing m cells
    is emitted m times (bit-identical rows); the caller's ``distinct``
    collapses them. A candidate pair whose norms multiply to zero, or
    whose cosine is NaN (a NaN component), raises ``ValueError``: Spark
    raised ``DIVIDE_BY_ZERO`` on the first under ANSI mode and emitted
    the second, since its ``>=`` orders NaN above every number.

    ``index`` needs (cid, vec_id, v array<double>, nrm double); per-task
    memory is O(CHUNK_ROWS × |cell|) doubles."""
    id_type = index.schema["vec_id"].dataType
    schema = StructType(
        [
            StructField("vec_a", id_type),
            StructField("vec_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="stable")
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        outs = []
        for s in range(0, len(ids), CHUNK_ROWS):  # a cell has ≥ 1 row
            e = s + CHUNK_ROWS
            upper = ids[s:e, None] < ids[None, s:]
            den = nrm[s:e, None] * nrm[None, s:]
            if (upper & (den == 0)).any():
                raise ValueError("zero-norm vector in a candidate pair: its cosine is undefined")
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = fold_dot(X[s:e, None], X[None, s:]) / den
            if (upper & np.isnan(cos)).any():
                raise ValueError("NaN cosine in a candidate pair: a NaN vector component")
            i, j = np.nonzero(upper & (cos >= threshold))
            outs.append((ids[s + i], ids[s + j], cos[i, j]))
        a, b, c = (np.concatenate(cols) for cols in zip(*outs))
        return pd.DataFrame({"vec_a": a, "vec_b": b, "cosine": c})

    return (
        index.select("cid", "vec_id", "v", "nrm")
        .groupBy("cid")
        .applyInPandas(kernel, schema=schema)
    )


def exact_d2_topn_cogroup(
    left: DataFrame,
    right: DataFrame,
    n: int,
    *,
    key: str = "gid",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-``n`` ranking of every ``left`` row against its cogroup's
    ``right`` rows by squared L2, Arrow-batched numpy, BIT-IDENTICAL to
    the ``functions/vectors.dot_product`` left fold (and therefore to
    the DuckDB oracle expressions): the dot is ``fold_dot``, and
    multiplication by the literal 2.0 is exact in binary floating point,
    so every intermediate rounds where the fold rounds (parity pinned by
    ``tests/test_round14_ops.py::test_cogroup_assignment_parity``).

    Column contract (callers rename going in/out):
      left : (``key``, id, v array<double>, n2 double, *passthrough)
      right: (``key``, rid, rv array<double>, rn2 double)
      out  : (id, rid, d2 double, *passthrough) — ≤ ``n`` rows per left
             row: the ``n`` smallest by (d2 ASC, rid ASC).  Ties resolve
             to the smaller rid by ``select_topn`` over a rid-sorted
             right matrix.  d2 = (n2 − 2·dot(v, rv)) + rn2, the exact
             operation order of the plans' ``_CLUS_D2`` oracle macro.
             A NaN d2 (a NaN vector component) raises.

    Scale shape: one hash exchange per side on ``key``; per-task memory
    is O(CHUNK_ROWS × |right group|) doubles regardless of group size
    (the left group streams through in chunks)."""
    out_schema = _schema(
        ["id", "rid", StructField("d2", DoubleType(), False), *passthrough],
        left,
        right,
    )
    out_cols = out_schema.fieldNames()

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(columns=out_cols)
        rpdf = rpdf.sort_values("rid", kind="stable")
        cmat = np.stack(rpdf["rv"].to_numpy())  # (m, dim)
        rn2 = rpdf["rn2"].to_numpy()
        rids = rpdf["rid"].to_numpy()
        outs = []
        for ch in _chunks(lpdf):
            vmat = np.stack(ch["v"].to_numpy())  # (b, dim)
            n2 = ch["n2"].to_numpy()
            dots = fold_dot(vmat[:, None], cmat)
            d2 = (n2[:, None] - 2.0 * dots) + rn2[None, :]
            idx = select_topn(d2, n)
            nsel = idx.shape[1]
            data = {
                "id": np.repeat(ch["id"].to_numpy(), nsel),
                "rid": rids[idx].ravel(),
                "d2": np.take_along_axis(d2, idx, axis=1).ravel(),
            }
            for c in passthrough:
                data[c] = ch[c].to_numpy().repeat(nsel)
            outs.append(pd.DataFrame(data))
        return pd.concat(outs)[out_cols]

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(kernel, schema=out_schema)
    )
