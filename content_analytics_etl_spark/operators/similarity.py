"""Similarity search over embedding columns (BASELINE extension).

Three tiers, per the scale story:

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
3. **Pandas-UDF batch matmul** (``brute_topk_matmul``): Arrow-batched
   numpy matmul against the broadcast query matrix — the throughput
   variant of tier 1 (~10-100× less per-row overhead). NOT bit-identical
   to the fold (BLAS reassociates float adds), so it backs benchmarks,
   not oracle checks.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from functools import reduce
from operator import add

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..frames import local_frame
from ..functions.hashing import portable_hash64
from ..functions.vectors import dot_product, l2_norm, to_double_array

__all__ = [
    "hyperplane_matrix",
    "brute_topk",
    "add_hyperplane_bucket",
    "hyperplane_bucket_agg",
    "hyperplane_band_rows",
    "brute_topk_matmul",
    "brute_topk_chunked",
    "exact_d2_topn_cogroup",
    "pq_argmin_codes",
    "cosine_rank_assign",
]

# Above this many query rows the fold-based broadcast path is the wrong
# tool (driver ships |Q|·dim doubles to every task AND evaluates
# |Q|·|corpus| interpreted folds); route to the chunked Arrow matmul.
BROADCAST_QUERY_LIMIT = 10_000


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


def hyperplane_bucket_agg(
    df: DataFrame,
    n_planes: int,
    dim: int,
    *,
    seed: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Signature bucket via explode→aggregate instead of per-row folds —
    the shape for wide plane matrices (see operators/dedup.py module
    docstring for why: higher-order folds are CodegenFallback and
    CollapseProject re-inlines them into every downstream reference,
    while an Aggregate is a hard boundary and the sums are whole-stage
    codegen'd with map-side partials).

    The ±1 plane values are derived IN-ENGINE from the same md5 formula
    as ``hyperplane_matrix`` (bit 0 of ``portable_hash64("seed|p|pos")``)
    rather than embedded as n_planes×dim literals — a 2048-literal plan
    costs seconds of Catalyst analysis per query; the hash form is a
    handful of expression nodes per plane.

    Plane dots are decimal-exact sums (order-independent, identical in
    any engine — plans/_util.py policy), so the sign bits and therefore
    the bucket are engine-reproducible even though the input order of
    the (pos, x) rows is arbitrary.

    Shape: the (plane_idx, pos, pval) relation is generated from
    ``spark.range`` (n_planes·dim rows, hash evaluated once per cell)
    and broadcast onto the exploded (id, pos, x) rows; per-(id, plane)
    decimal sums then per-id bucket assembly. Two compact shuffles
    (n·planes tiny rows, then n rows), everything whole-stage codegen,
    linear in corpus size.

    Parallelism guard: a small parquet file scans as ONE partition, and
    the heavy map side (n·dim·planes decimal multiply-adds) would then
    run single-threaded — measured 4.4 s for 2000×64×32 at sf0.1 vs
    ~1 s parallel. When the input scan has fewer partitions than the
    session default, the exploded (id, pos, x) rows are hash-spread on
    (id, pos) before the plane join; the shuffle moves n·dim compact
    rows and the decimal sums are order-independent, so the result is
    bit-identical. Repartitioning the pre-explode DataFrame instead
    measured WORSE end-to-end (8 s — the pinned user exchange defeats
    AQE's downstream coalescing); the (id, pos) spread keeps every
    later exchange AQE-managed. On a real cluster the scan already has
    plentiful partitions and the branch is a no-op."""
    spark = df.sparkSession
    ex = df.select(
        id_col, F.posexplode(to_double_array(vec_col)).alias("pos", "x")
    )
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        ex = ex.repartition(target, id_col, "pos")
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
    )
    dots = (
        ex.join(F.broadcast(pl), "pos")
        .groupBy(id_col, "plane_idx")
        .agg(F.sum((F.col("x") * F.col("pval")).cast("decimal(28,12)")).alias("dot"))
    )
    return dots.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), plane_idx)"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias(out_col)
    )


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
    band b owns plane indices [b·band_bits, (b+1)·band_bits)).
    Unlike ``hyperplane_bucket_agg`` there is no packed single-BIGINT
    bucket (max_bands·band_bits may exceed 63 bits); bands are emitted
    directly as rows, which is the shape every banded-LSH consumer
    explodes to anyway.

    Plane values, decimal-exact dots, and the parallelism guard are
    identical to ``hyperplane_bucket_agg`` (see its docstring); for the
    same (band_idx, plane) cells the two produce identical sign bits, so
    fixed-parameter consumers migrating to this form keep their result
    sets bit-for-bit."""
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


def brute_topk_matmul(
    corpus: DataFrame,
    queries_pdf,  # pandas DataFrame: id + list-of-float vectors
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Throughput variant: numpy matmul per Arrow batch against the
    broadcast query matrix. Returns (query_id, cand_id, cosine) rows;
    top-k selection still via window (exact)."""
    import numpy as np

    q_ids = queries_pdf[id_col].to_numpy()
    q_mat = np.stack(queries_pdf[vec_col].to_numpy()).astype("float64")
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score(batches: Iterator):
        import pandas as pd

        for pdf in batches:
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            c_ids = pdf[id_col].to_numpy()
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            n_c, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n_c),
                    "cand_id": np.repeat(c_ids, n_q),
                    "cosine": sims.ravel(),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, cand_id long, cosine double"
    ).filter(F.col("query_id") != F.col("cand_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_topk_chunked(
    corpus: DataFrame,
    queries_pdf,  # pandas DataFrame: id + list-of-float vectors
    k: int = 5,
    *,
    chunk_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Large-|Q| exact top-k: split the query set into fixed-size chunks,
    run the Arrow batch-matmul scorer per chunk, union the results.

    Size contract: per-task memory is O(chunk_rows × dim) for the query
    matrix plus one Arrow batch of the corpus — independent of |Q|, so
    an arbitrarily large query set never has to fit in one broadcast.
    The corpus is scanned once per chunk (⌈|Q|/chunk_rows⌉ scans); at
    scale that is the standard block-nested sweep and each scan is an
    embarrassingly parallel map with no shuffle until the final window.
    Callers with |Q| ≤ BROADCAST_QUERY_LIMIT should prefer
    ``brute_topk`` (single scan, oracle-exact fold arithmetic)."""
    out = None
    for start in range(0, len(queries_pdf), chunk_rows):
        chunk = brute_topk_matmul(
            corpus,
            queries_pdf.iloc[start : start + chunk_rows],
            k,
            id_col=id_col,
            vec_col=vec_col,
        )
        out = chunk if out is None else out.unionByName(chunk)
    if out is None:
        raise ValueError("empty query set")
    return out


def pq_argmin_codes(
    sub: DataFrame,
    codebook_rows: list,
    *,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
    chunk_rows: int = 8192,
) -> DataFrame:
    """Nearest-codeword assignment per (id, m) sub-vector row, ROW-LOCAL
    against a driver-resident codebook — the optimization-round
    replacement (guide §2.3/§2.4) for the ``sub ⋈ broadcast(cb)`` ×
    rank-window chain, which materialized N·PQ_M·PQ_KS rows (×256 the
    input) and pushed them through a partitionBy(vec_id, m) exchange:
    at 600k vectors that is ~1.2G shuffled rows for an argmin whose
    codebook is 128 KB.  Here the codebook rides in as a task closure
    and each Arrow batch computes its own argmins — zero extra rows,
    zero exchanges, one pass.

    BIT-IDENTICAL to the old chain and to the DuckDB oracles' ``ad``
    CTE (``list_sum(list_transform(... (x−y)*(x−y)))`` + row_number
    (d2 ASC, k ASC)): the squared-L2 accumulates dimension-by-dimension
    — ``t = x_d − c_d`` rounds, ``t·t`` rounds, ``acc + t²`` rounds —
    the exact IEEE sequence of the JVM ``aggregate(zip_with(...))``
    fold (numpy does not fuse multiply-add), and ties resolve to the
    LOWEST k because the per-m codeword matrix is k-sorted and
    ``np.argmin`` returns the first minimum.  Parity with the old chain
    is pinned by ``tests/test_round14_ops.py::test_pq_argmin_parity``.

    ``codebook_rows``: the collected (m, k, cv) rows — bounded
    O(PQ_M·PQ_KS·SUB_DIM) by construction (the kmeans-centroid
    collect policy: index metadata, never corpus data).
    ``sub`` needs (id_col, m, subv[, *passthrough]); output is
    (id_col, m, k[, *passthrough]) with the same row count."""
    import numpy as np
    import pandas as pd

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

    in_fields = {f.name: f for f in sub.schema.fields}
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        [in_fields[id_col], in_fields["m"], StructField("k", IntegerType(), False)]
        + [in_fields[c] for c in passthrough]
    )
    out_cols = [id_col, "m", "k", *passthrough]

    def assign(batches: Iterator):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            marr = pdf["m"].to_numpy()
            # -1 sentinel: an input m with no codebook entry must DROP
            # (the old broadcast inner join's semantics), not emit
            # uninitialized np.empty garbage (ADVICE r14, low)
            kout = np.full(len(pdf), -1, dtype=np.int32)
            for m, (ks, cmat) in cmats.items():
                mask = marr == m
                if not mask.any():
                    continue
                rows = pdf["subv"][mask].to_numpy()
                idx_out = np.empty(mask.sum(), dtype=np.int64)
                for start in range(0, len(rows), chunk_rows):
                    X = np.stack(rows[start : start + chunk_rows])
                    # exact left fold of (x−y)² per dimension — one
                    # sub, one mul, one add per step, matching
                    # aggregate(zip_with(a, b, (x,y) -> (x−y)*(x−y)))
                    acc = np.zeros((X.shape[0], cmat.shape[0]))
                    for d in range(X.shape[1]):
                        tdiff = X[:, d, None] - cmat[:, d]
                        acc += tdiff * tdiff
                    idx_out[start : start + chunk_rows] = np.argmin(acc, axis=1)
                kout[mask] = ks[idx_out]
            data = {id_col: pdf[id_col], "m": pdf["m"], "k": kout}
            for c in passthrough:
                data[c] = pdf[c]
            out = pd.DataFrame(data)[out_cols]
            if (kout < 0).any():  # inner-join semantics: no match → drop
                out = out[out["k"] >= 0]
            yield out

    in_cols = [id_col, "m", "subv"]
    in_cols += [c for c in passthrough if c not in in_cols]
    return sub.select(*in_cols).mapInPandas(assign, schema=out_schema)


def cosine_rank_assign(
    e: DataFrame,
    cent_rows: list,
    nprobe: int,
    keep_mask,
    *,
    chunk_rows: int = 4096,
) -> DataFrame:
    """Row-local nearest-centroid ranking by cosine, Arrow-vectorized —
    the r14-optimization replacement for the IVF coarse assignment's
    per-row HOF struct pool (`transform` over a broadcast collect_list
    matrix + `array_sort` + slice), which at 600k vectors × 775 cells
    was the measured 1521-s build wall on this sandbox (the same
    interpreted-lambda constant PERF 86 cut from the clustered build).

    BIT-IDENTICAL ranking: the dot accumulates dimension-by-dimension
    (one elementwise multiply + one add per step — the
    ``functions/vectors.dot_product`` left-fold IEEE sequence), then
    ``negcs = -(dot / (nrm · cn))`` with the same operation order as
    the HOF chain and the oracle's ``cosine DESC``; ranking is a STABLE
    argsort over a cell-ascending centroid matrix, so bit-equal cosines
    resolve to the lower cell id exactly like the lexicographic
    struct sort / the oracle's ``ORDER BY cs DESC, cell ASC``.
    Precondition (shared with the HOF path, test-pinned): no zero-norm
    vectors or centroids, so no NaN cosines.

    ``cent_rows``: collected (cell, cv, cn) rows — bounded
    O(cells·dim) = O(√N·dim) under the module's cell policy (the
    kmeans-centroid collect discipline: index metadata, never corpus
    data). ``keep_mask(vec_ids: np.ndarray, cranks: np.ndarray) ->
    np.ndarray[bool]`` selects which (row, crank) pairs are emitted —
    the caller's consumed-rows cut (crank = 1 everywhere plus the
    bounded query side's crank ≤ nprobe).

    ``e`` needs (vec_id, v array<double>, nrm double); output is
    (vec_id, v, nrm, cell int, cv array<double>, crank int)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("v", ArrayType(DoubleType()), False),
            StructField("nrm", DoubleType(), False),
            StructField("cell", IntegerType(), False),
            StructField("cv", ArrayType(DoubleType()), False),
            StructField("crank", IntegerType(), False),
        ]
    )

    cent_sorted = sorted(
        ((int(r["cell"]), list(r["cv"]), float(r["cn"])) for r in cent_rows)
    )
    if not cent_sorted:
        # empty centroid relation: the old HOF chain produced an empty
        # result; np.asarray([]) here would be 1-D and crash the kernel
        # inside the Arrow worker (ADVICE r14, low)
        return local_frame(e.sparkSession, [], out_schema)
    cells = np.asarray([c for c, _, _ in cent_sorted], dtype=np.int32)
    cmat = np.asarray([cv for _, cv, _ in cent_sorted], dtype=np.float64)
    cn = np.asarray([n for _, _, n in cent_sorted], dtype=np.float64)
    cvs = [cv for _, cv, _ in cent_sorted]
    nsel = min(int(nprobe), len(cells))

    def assign(batches: Iterator):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for start in range(0, len(pdf), chunk_rows):
                ch = pdf.iloc[start : start + chunk_rows]
                X = np.stack(ch["v"].to_numpy())
                nrm = ch["nrm"].to_numpy()
                ids = ch["vec_id"].to_numpy()
                # exact left fold (the dot_product sequence)
                dots = np.zeros((X.shape[0], cmat.shape[0]))
                for d in range(X.shape[1]):
                    dots += X[:, d, None] * cmat[:, d]
                negcs = -(dots / (nrm[:, None] * cn[None, :]))
                idx = np.argsort(negcs, axis=1, kind="stable")[:, :nsel]
                b = X.shape[0]
                vec_ids = np.repeat(ids, nsel)
                cranks = np.tile(np.arange(1, nsel + 1, dtype=np.int32), b)
                keep = keep_mask(vec_ids, cranks)
                flat_idx = idx.ravel()[keep]
                rows_rep = np.repeat(np.arange(b), nsel)[keep]
                yield pd.DataFrame(
                    {
                        "vec_id": vec_ids[keep],
                        "v": ch["v"].to_numpy()[rows_rep],
                        "nrm": nrm[rows_rep],
                        "cell": cells[flat_idx],
                        "cv": [cvs[i] for i in flat_idx],
                        "crank": cranks[keep],
                    }
                )

    return e.select("vec_id", "v", "nrm").mapInPandas(assign, schema=out_schema)


def exact_d2_topn_cogroup(
    left: DataFrame,
    right: DataFrame,
    n: int,
    *,
    key: str = "gid",
    passthrough: tuple[str, ...] = (),
    chunk_rows: int = 4096,
) -> DataFrame:
    """Nearest-``n`` ranking of every ``left`` row against its cogroup's
    ``right`` rows by squared L2, Arrow-batched numpy — and, unlike
    ``brute_topk_matmul``, BIT-IDENTICAL to the
    ``functions/vectors.dot_product`` left fold (and therefore to the
    DuckDB oracle expressions): the dot is accumulated
    dimension-by-dimension with one elementwise multiply + one add per
    step — the exact IEEE rounding sequence of the JVM fold and of the
    SQL ``_DOT`` macro, with none of BLAS's reassociation.  numpy does
    not fuse multiply-add, and multiplication by the literal 2.0 is
    exact in binary floating point, so every intermediate rounds where
    the fold rounds (parity pinned by
    ``tests/test_round14_ops.py::test_cogroup_assignment_parity``).

    Column contract (callers rename going in/out):
      left : (``key``, id, v array<double>, n2 double, *passthrough)
      right: (``key``, rid, rv array<double>, rn2 double)
      out  : (id, rid, d2 double, *passthrough) — ≤ ``n`` rows per left
             row: the ``n`` smallest by (d2 ASC, rid ASC).  Ties resolve
             to the smaller rid by a STABLE argsort over a rid-sorted
             right matrix.  d2 = (n2 − 2·dot(v, rv)) + rn2, the exact
             operation order of the plans' ``_CLUS_D2`` oracle macro.
             NaN d2 (never produced by finite inputs — no division)
             would rank last in numpy, Spark and DuckDB alike.

    Scale shape: one hash exchange per side on ``key``; per-task memory
    is O(chunk_rows × |right group|) doubles regardless of group size
    (the left group streams through in chunks); compute is a vectorized
    batch sweep instead of per-row HOF struct pools — the measured
    ~10-40× constant cut that closed VERDICT r13 #4."""
    import numpy as np
    import pandas as pd

    lf = {f.name: f for f in left.schema.fields}
    rf = {f.name: f for f in right.schema.fields}
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [lf["id"], rf["rid"], StructField("d2", DoubleType(), False)]
        + [lf[c] for c in passthrough]
    )
    out_cols = ["id", "rid", "d2", *passthrough]

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(
                {
                    "id": pd.Series(dtype="int64"),
                    "rid": pd.Series(dtype="int64"),
                    "d2": pd.Series(dtype="float64"),
                    **{c: pd.Series(dtype="object") for c in passthrough},
                }
            )
        rpdf = rpdf.sort_values("rid", kind="stable")
        cmat = np.stack(rpdf["rv"].to_numpy())  # (m, dim)
        rn2 = rpdf["rn2"].to_numpy()
        rids = rpdf["rid"].to_numpy()
        m = cmat.shape[0]
        nsel = min(n, m)
        outs = []
        for start in range(0, len(lpdf), chunk_rows):
            ch = lpdf.iloc[start : start + chunk_rows]
            vmat = np.stack(ch["v"].to_numpy())  # (b, dim)
            n2 = ch["n2"].to_numpy()
            # exact left fold: t = v_d * c_d rounds, acc += t rounds —
            # per element the same op sequence as aggregate(zip_with)
            dots = np.zeros((vmat.shape[0], m))
            for d in range(vmat.shape[1]):
                dots += vmat[:, d, None] * cmat[:, d]
            d2 = (n2[:, None] - 2.0 * dots) + rn2[None, :]
            idx = np.argsort(d2, axis=1, kind="stable")[:, :nsel]
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
