"""Vector similarity search — brute-force cosine top-k, IVF-Flat, hyperplane LSH.

Beyond-reference training-data-pipeline operators (SURVEY.md §7.6) over the
``embeddings`` table (vec_id BIGINT, embedding ARRAY<FLOAT> dim=64, label INT).

Portability contract (DuckDB-oracle hash parity): every similarity is a
left-to-right fold of CAST-to-DOUBLE products — ``F.aggregate(F.zip_with(...))``
in Spark, ``list_reduce(list_transform(range ...))`` in DuckDB — so both
engines execute the identical IEEE-754 operation sequence and results are
bit-equal, no tolerance needed. Random hyperplanes are *arithmetic* (an LCG
formula evaluated inside the query), not stored tables, so both engines
derive them from one shared formula.

Scale design (local ≈ 500-5k vectors; target = 10^9+):
  - Brute force is the CORRECTNESS baseline: probe-set × corpus with the
    small probe side broadcast — one pass over the corpus, per-partition
    top-k via window (TakeOrdered shape), no shuffle of the corpus.
  - IVF-Flat is the scale path: corpus partitioned by nearest coarse
    centroid (one O(n·C) assignment pass, C ≪ n), probes search only
    ``nprobe`` inverted lists → candidate join is an equi-join on
    centroid id, i.e. n/C-sized buckets instead of the full corpus.
  - Hyperplane LSH (sign-random-projection) generates near-dup candidate
    pairs via L band-table equi-joins (same shape as MinHash LSH in
    operators/dedup.py); exact cosine verifies candidates.
  - IVF codebook: deterministic sampled (oracle-reproducible) or TRAINED
    via Lloyd's k-means (``ivf_topk(train_iterations=...)``). Every
    codebook is a driver-side (vids, C×DIM float32) literal — seeds come
    from ``seed_codebook`` — and every vector is assigned by ONE numpy
    ranking routine (``rank_codebook``) behind ONE Arrow kernel
    (``assign_ids_batch``); both Lloyd paths rank with the same routine.
  - Dot products: the expression fold is the REFERENCE semantics the
    oracles mirror; the hot pair-fan-out stages (bucket bits, candidate
    verify, IVF scoring) run the Arrow-batched numpy variants, each
    PROVEN bit-identical to the fold (exact float32×float32 products +
    identical left-to-right summation — parity tests in
    tests/test_similarity.py), so vectorizing cannot move the hash.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

DIM = 64

#: Hard bound on the probe rows brute_force_topk (and the ANN
#: ground-truth arm in plans/inventory_vectors.py) may collect to the
#: driver. The probe-matrix kernel is correct ONLY while the probe side
#: stays a query batch (its docstring contract; the broadcast it replaced
#: had the same driver-materialization bound implicitly) — this makes a
#: future caller that ships a corpus through the driver fail LOUDLY
#: instead of OOMing it. 10^5 probes × (64 f32 + id + norm) ≈ 30 MB,
#: comfortably inside any driver; beyond it the caller must shard the
#: probe batch (the serving pattern anyway).
_PROBE_COLLECT_CAP = 100_000


def list_mat(arr, dtype=np.float64) -> np.ndarray:
    """(n, width) matrix from an Arrow list column — offset-aware
    ``flatten`` (one contiguous values buffer) + one exact ``astype``.

    r13 (guide §4.2): the pandas-UDF input path materialized every row as
    its own ndarray object (``Series.to_numpy()`` → object array) and
    re-packed them with ``np.stack`` per chunk; reading the Arrow values
    buffer directly skips both. float32→float64 stays an exact widening,
    so the bit-parity arguments of the batch kernels are unchanged.
    Assumes equal-length, non-null lists (as the stack path did)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = np.asarray(arr.flatten())
    return flat.reshape(len(arr), -1).astype(dtype, copy=False)


def mat_list(mat: np.ndarray, value_type) -> pa.ListArray:
    """Arrow list column from a (n, width) matrix — one values buffer +
    an arithmetic offsets array; no per-row Python objects."""
    n, width = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), type=value_type))

# LCG hyperplane coefficients: coef(p, i) for plane p, dimension i.
# Shared single-source formula — mirrored verbatim in the DuckDB oracles.
LCG_MUL = 1103515245
LCG_ADD = 12345
LCG_MOD = 2_000_001
LCG_SHIFT = 1_000_000  # coef range [-1e6, 1e6]

N_TABLES = 4  # L band tables ...
# 16 sign bits per table: random (cos≈0) pairs collide at 0.5^b per table,
# so b=8 made the candidate join quadratic-dense at the 10× scale check
# (N²/256 collisions — measured 14× runtime growth); b=16 drops random
# collisions to 1.5e-5 per table while near-identical pairs (the near-dup
# targets) still collide with probability ≈1 across 4 tables.
BITS_PER_TABLE = 16  # ... of b sign bits each


def _dot_fold(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over double-cast elements (bit-portable).

    Reference semantics: the DuckDB oracles mirror this fold textually.
    Hot paths use ``dot_batch`` below — an Arrow-vectorized variant proven
    bit-identical (tests/test_similarity.py::test_dot_udf_parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_batch(a: Column, b: Column) -> Column:
    """Arrow-batched dot product, bit-identical to the ``_dot_fold``
    expression (and therefore to the oracles' ``list_reduce`` fold).

    Why bit-parity holds (same argument as ``lsh_buckets_batch``):
      * each product is EXACT — a float32 has a 24-bit mantissa, so
        f64(x)·f64(y) carries ≤48 mantissa bits < 53, and Spark's
        ``x.cast(double) * y.cast(double)``, DuckDB's and numpy's
        products are the same bit pattern;
      * ``np.add.accumulate`` sums the identical addends in the identical
        left-to-right order as the fold ⇒ identical rounding at every
        step ⇒ identical final double.

    Measured on the 500k-pair IVF scoring stage at sf0.1 (interleaved
    A/B, same session): batch 1.8s < interpreted fold 2.7s << a fully
    unrolled 64-term codegen expression tree 10.5s (the giant generated
    method exceeds HotSpot's JIT size threshold and runs in the bytecode
    interpreter — unrolling backfires).  Arrow transfer of both vectors
    per pair row is the cost here and it still wins.

    r13 (guide §4.2): the kernel is an ``arrow_udf`` reading the list
    columns' values buffers directly (``list_mat``) — same exact products,
    same sequential fold, but no per-row ndarray objects on either side
    of the boundary (the pandas path built one object per row and
    ``np.stack``-ed them back per chunk).
    """

    @arrow_udf("double")
    def _dots(xa: pa.Array, xb: pa.Array) -> pa.Array:
        if len(xa) == 0:
            return pa.array(np.empty(0, np.float64), type=pa.float64())
        A = list_mat(xa)  # f32→f64 exact
        B = list_mat(xb)
        prods = A * B  # exact (see docstring)
        # `+ 0.0` reproduces the fold's 0.0 seed: an all-(-0.0)-products
        # row folds to +0.0 in Spark/DuckDB (0.0 + -0.0 = +0.0) while a
        # bare accumulate would return -0.0 — a bit/hash mismatch on
        # zero-vs-all-negative vectors (ADVICE r3).
        out = np.add.accumulate(prods, axis=1)[:, -1] + 0.0
        return pa.array(out, type=pa.float64())

    return _dots(a, b)


def norm(v: Column) -> Column:
    """sqrt of the self-dot. Fold-based: norms are computed once per
    VECTOR (not per pair), so the interpreted fold's per-element cost is
    negligible and the value never leaves the JVM."""
    return F.sqrt(_dot_fold(v, v))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Batched dot ÷ JVM-side norm product — every operand and operation
    bit-matches the oracle fold, so the quotient does too.  Pair-stage
    fan-outs (candidate verify / IVF scoring) are where the dot runs per
    PAIR; ``dot_batch`` is the measured winner there (see its docstring)."""
    return dot_batch(a, b) / (norm_a * norm_b)


def hyperplane_coef(p: int, i: int) -> int:
    """coef(p, i) — THE formula; mirrored textually in the SQL oracles.
    (Python int arithmetic is exact, same as the engines' BIGINT path.)"""
    return (LCG_MUL * (p * DIM + i) + LCG_ADD) % LCG_MOD - LCG_SHIFT


def _hyperplane(p: int) -> Column:
    """Plane p's coefficient vector, baked as a literal array<double>.

    Evaluating the LCG inside the plan would re-run an interpreted lambda
    per row (HOF lambdas don't codegen); literals are built once at plan
    time from the identical formula — measured 4.5s → ~2s on the LSH
    near-dup query at sf0.1."""
    return F.array(*[F.lit(float(hyperplane_coef(p, i))) for i in range(DIM)])


def lsh_bucket(v: Column, table: int) -> Column:
    """Sign-random-projection bucket id for one band table (b-bit integer).

    Expression-based reference implementation (the DuckDB oracles mirror
    this fold order textually). The hot path uses ``lsh_buckets_batch``
    below — an Arrow-vectorized variant proven bit-identical to this one
    (tests/test_similarity.py parity test)."""
    bits = [
        F.when(_dot_fold(v, _hyperplane(table * BITS_PER_TABLE + j)) > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        for j in range(BITS_PER_TABLE)
    ]
    return reduce(lambda a, b: a + b, bits).cast("bigint")


def _plane_matrix() -> np.ndarray:
    """All L·b hyperplanes as one (n_planes, DIM) float64 matrix (exact ints)."""
    n_planes = N_TABLES * BITS_PER_TABLE
    return np.array(
        [[float(hyperplane_coef(p, i)) for i in range(DIM)] for p in range(n_planes)],
        dtype=np.float64,
    )


def lsh_buckets_batch(vec_col: str = "vec") -> Column:
    """All N_TABLES bucket ids per vector — Arrow-batched, bit-identical
    to the ``lsh_bucket`` fold.

    Why a pandas UDF here when the module rule is "expressions only":
    the bucket stage needs L·b (=64) dot products per vector and HOF fold
    lambdas are interpreted per element — L·b folds × 64 elements dominated
    the near-dup query (measured ~10× DuckDB at sf0.1). This stage is the
    one place the arithmetic is provably portable, so vectorizing it can't
    break oracle parity:

      * products are EXACT: |coef| < 2^21 (integer) × float32 (24-bit
        mantissa) → ≤ 45-bit mantissa, exactly representable in float64,
        so Spark's ``x.cast(double) * lit(coef)``, DuckDB's and numpy's
        products are all the same bit pattern;
      * the fold sum is reproduced by ``np.add.accumulate`` (cumsum),
        which is sequentially rounded like the Spark/DuckDB left fold —
        identical addends + identical order ⇒ identical rounding ⇒
        identical sign bits.

    Verified by tests/test_similarity.py::test_bucket_udf_parity against
    the expression fold on real + adversarial vectors.
    """

    # invariant hyperplanes: built ONCE here and captured by the UDF
    # closure (rebuilding inside the UDF would re-run ~4096 coef calls
    # per Arrow batch on every executor — r9 review finding)
    m_t = _plane_matrix().T  # (DIM, n_planes)
    weights = 1 << np.arange(BITS_PER_TABLE, dtype=np.int64)

    @arrow_udf("array<bigint>")
    def _buckets(emb: pa.Array) -> pa.Array:
        n = len(emb)
        if n == 0:
            return mat_list(np.empty((0, N_TABLES), np.int64), pa.int64())
        V = list_mat(emb)  # (n, DIM); f32→f64 exact (list_mat, r13)
        out = np.empty((n, N_TABLES), dtype=np.int64)
        # chunk to bound the (chunk, DIM, n_planes) product tensor
        for lo in range(0, n, 2048):
            v = V[lo : lo + 2048]
            prods = v[:, :, None] * m_t[None, :, :]  # exact (see docstring)
            dots = np.add.accumulate(prods, axis=1)[:, -1, :]  # sequential fold
            bits = (dots > 0).reshape(-1, N_TABLES, BITS_PER_TABLE)
            out[lo : lo + len(v)] = (bits * weights[None, None, :]).sum(axis=2)
        return mat_list(out, pa.int64())

    return _buckets(F.col(vec_col))


def _with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from open_data_lakehouse_demo_spark.sources.io import spread

    # fold-based norms/dots are interpreted per element — run them wide
    return spread(df).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )


def _check_int_ids(df: DataFrame, id_col: str, op: str) -> None:
    """Vector ids ride driver-side int literals (codebook and probe ids);
    reject a non-integer id column by name and type before any job runs
    instead of failing inside a collect."""
    from pyspark.sql import types as T

    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, T.IntegralType):
        raise ValueError(
            f"{op}: id column {id_col!r} has type {dtype.simpleString()}; "
            "vector ids must be an integer type"
        )


def _empty_pairs(spark, query_type, neighbor_type) -> DataFrame:
    """The empty (query_id, neighbor_id, cosine) result, ids typed like
    the input id columns so empty and non-empty results share a schema."""
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("query_id", query_type),
                T.StructField("neighbor_id", neighbor_type),
                T.StructField("cosine", T.DoubleType()),
            ]
        ),
    )


def probe_dots_batch(vec_col: str, pmat32: np.ndarray) -> Column:
    """``array<double>`` of exact-fold dot products of each vector against
    EVERY row of a driver-side probe matrix — the guide-§8 "decide with
    small rows" kernel behind ``brute_force_topk``.

    Per (vector, probe) the math is bit-identical to ``dot_batch``: exact
    f32→f64 per-element products, sequential ``np.add.accumulate`` fold
    over the dimension axis, ``+ 0.0`` zero-seed. Chunked so the
    (chunk, P, DIM) product tensor stays bounded whatever the probe
    count."""
    P = pmat32.astype(np.float64)  # f32→f64 exact
    nprobes = len(P)
    chunk = max(128, (1 << 21) // max(1, nprobes))

    @arrow_udf("array<double>")
    def _dots(emb: pa.Array) -> pa.Array:
        n = len(emb)
        if n == 0:
            return mat_list(np.empty((0, nprobes), np.float64), pa.float64())
        V = list_mat(emb)  # (n, DIM); f32→f64 exact
        out = np.empty((n, nprobes), dtype=np.float64)
        for lo in range(0, n, chunk):
            v = V[lo : lo + chunk]
            prods = v[:, None, :] * P[None, :, :]  # exact per-element products
            out[lo : lo + len(v)] = np.add.accumulate(prods, axis=2)[:, :, -1] + 0.0
        return mat_list(out, pa.float64())

    return _dots(F.col(vec_col))


def brute_force_topk(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors of each probe over the full corpus.

    Probe sets are query batches, small by construction. The previous
    form BROADCAST them and fanned the corpus into |corpus|×|probes| pair
    rows, each shipping BOTH 64-float vectors through the Arrow boundary
    (O(pairs·dim) traffic). r13 (guide §8/§4.2): the probe batch is
    collected to a driver-side matrix — the same driver-materialization
    class (and byte count) as the broadcast it replaces — each corpus
    vector crosses the boundary ONCE and returns its P-wide dot array
    (``probe_dots_batch``), and the (query_id, cosine) pair rows are
    reconstituted JVM-side from literal probe-id/norm arrays, so the
    division and every downstream ranking step are byte-for-byte the old
    plan's. Boundary traffic drops from pairs·2·dim to corpus·(dim + P).
    Output (query_id, neighbor_id, cosine), k rows per probe,
    neighbor_id tiebreak makes the ranking total.
    """
    _check_int_ids(df, id_col, "brute_force_topk")
    _check_int_ids(probes, id_col, "brute_force_topk")
    corpus = _with_norm(df, id_col, vec_col)
    # no spread(): this frame is collected whole, not computed wide —
    # the repartition would only add a shuffle to the bounded probe job
    p_norm = probes.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    # bounded collect: CollectLimit short-circuits at CAP+1 rows, so an
    # oversized probe side fails loudly without materializing itself
    p_rows = p_norm.limit(_PROBE_COLLECT_CAP + 1).collect()
    if len(p_rows) > _PROBE_COLLECT_CAP:
        raise ValueError(
            f"brute_force_topk probe batch exceeds {_PROBE_COLLECT_CAP} rows; "
            "the probe side must stay a query batch — shard larger probe "
            "sets into sequential batches"
        )
    # ids keep their columns' types: the literal probe-id array would
    # otherwise type query_id by its values, not by the probe column
    query_type = probes.schema[id_col].dataType
    if not p_rows:
        return _empty_pairs(df.sparkSession, query_type, df.schema[id_col].dataType)
    p_rows.sort(key=lambda r: r["vid"])
    qvids = F.lit([int(r["vid"]) for r in p_rows])
    qnrms = F.lit([float(r["nrm"]) for r in p_rows])  # JVM fold norms, verbatim
    pmat32 = np.array([r["vec"] for r in p_rows], dtype=np.float32)
    pairs = (
        corpus.select(
            "vid",
            "nrm",
            F.posexplode(probe_dots_batch("vec", pmat32)).alias("pidx", "dot"),
        )
        .select(
            F.element_at(qvids, F.col("pidx") + 1).cast(query_type).alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            # same JVM division / NULL-on-zero-denominator semantics as
            # cosine(): dot ÷ (qnrm · nrm), all three operands bit-equal
            (
                F.col("dot")
                / (F.element_at(qnrms, F.col("pidx") + 1) * F.col("nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def seed_codebook(raw: DataFrame, n: int) -> tuple[list[int], np.ndarray]:
    """The ``n`` lowest-id vectors of a (vid, vec) frame as a driver-side
    codebook (vids ascending, C×DIM float32) — the deterministic,
    oracle-reproducible IVF/PQ seeding. One bounded TakeOrdered collect:
    n×DIM floats (4 KB at n=16), independent of corpus size, so every
    per-vector stage can run as an Arrow kernel against literals. An
    empty corpus yields ``([], empty)``; callers decide what that means.
    """
    rows = raw.select("vid", "vec").orderBy("vid").limit(n).collect()
    return [int(r["vid"]) for r in rows], np.array([r["vec"] for r in rows], dtype=np.float32)


def _fold_norms(m64: np.ndarray) -> np.ndarray:
    """Row norms of an f64 matrix holding widened float32 values — the
    ``norm()`` fold operation for operation: exact squares, summed
    left-to-right (``np.add.accumulate`` ≡ the fold's rounding at every
    step) from a +0.0 seed, then IEEE sqrt. Bit-identical to the
    JVM/DuckDB expression."""
    return np.sqrt(np.add.accumulate(m64 * m64, axis=1)[:, -1] + 0.0)


def rank_codebook(
    V: np.ndarray, mat32: np.ndarray, n: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """The one codebook ranking: ``(top, nrm)`` for an (r, DIM) f64 batch
    of widened float32 vectors against a (C, DIM) float32 codebook —
    ``top`` (r, min(n, C)) holds codebook ROW indices, best first, and
    ``nrm`` each vector's fold norm. Used by the Arrow kernel
    (``assign_ids_batch``), both Lloyd paths and the ANN ground-truth arm.

    Bit-exact to the SQL ranking ``ORDER BY cosine DESC, centroid_id``
    over fold cosines (every oracle encodes that rule):
      * dots: exact f32→f64 products, sequential ``np.add.accumulate``
        fold, ``+ 0.0`` zero-seed; norms: ``_fold_norms`` for vectors and
        codebook alike; cosine = dot ÷ (vnrm·cnrm);
      * zero norms: with ANSI off (the project session) Spark's x/0.0 is
        NULL, which ranks LAST; numpy yields ±inf/NaN instead, so every
        non-finite cosine maps to -inf — zero-norm pairings rank last and
        an all--inf row falls through to row 0 (the lowest id);
      * ties: a STABLE argsort of the negated cosines over the
        ascending-id codebook keeps the lowest id first (argmax, which
        returns the first maximum, at n == 1).
    At most C distinct lists exist, so ``n`` is clamped to C: a larger
    request returns all C, never a broadcast error or a repeated id.
    Chunked so the (chunk, C, DIM) product tensor stays bounded."""
    cmat = mat32.astype(np.float64)  # f32→f64 exact
    cnrm = _fold_norms(cmat)
    n = min(n, len(cmat))
    top = np.empty((len(V), n), dtype=np.int64)
    nrm = np.empty(len(V), dtype=np.float64)
    for lo in range(0, len(V), 2048):
        chunk = V[lo : lo + 2048]
        vnrm = _fold_norms(chunk)
        with np.errstate(divide="ignore", invalid="ignore"):
            prods = chunk[:, None, :] * cmat[None, :, :]  # exact products
            dots = np.add.accumulate(prods, axis=2)[:, :, -1] + 0.0
            cos = dots / (vnrm[:, None] * cnrm[None, :])
        cos = np.where(np.isfinite(cos), cos, -np.inf)
        top[lo : lo + len(chunk)] = (
            np.argmax(cos, axis=1)[:, None]
            if n == 1
            else np.argsort(-cos, axis=1, kind="stable")[:, :n]
        )
        nrm[lo : lo + len(chunk)] = vnrm
    return top, nrm


def assign_ids_batch(
    vec_col: str, vids: list[int], mat32: np.ndarray, n_assign: int = 1
) -> Column:
    """``struct<assigns: array<bigint>, nrm: double>`` per vector against a
    DRIVER-SIDE codebook: ``assigns`` = the ``n_assign`` nearest centroid
    ids, best first (``rank_codebook`` — clamped to C), ``nrm`` = the
    vector's fold norm, bit-identical to the ``norm()`` expression. The
    one centroid-assignment kernel: IVF/SemDeDup/PQ/SQ8 corpus and probe
    sides and the IVF ingest sink all call it; callers that need only
    ids take ``["assigns"]``.

    One Arrow pass over n vectors, each scored against all C centroids
    via one numpy tensor product — no n×C pair rows, and the norm comes
    free from the same pass (no interpreted norm fold, no norm
    checkpoint ahead of it).

    The codebook rides the task closure (C·DIM·4 bytes — 4 KB at C=16;
    HONEST LIMIT: beyond C·DIM ≈ 10^6 floats switch to an explicit
    SparkContext.broadcast handle so it ships once per executor, not per
    task batch).
    """
    vid_arr = np.array(vids, dtype=np.int64)

    # annotation must be the generic pa.Array: arrow_udf's type-hint
    # inference treats a non-Array-hinted return as a grouped aggregate
    # (StructArray is returned at runtime — a subclass of pa.Array)
    @arrow_udf("struct<assigns: array<bigint>, nrm: double>")
    def _assign(emb: pa.Array) -> pa.Array:
        V = list_mat(emb) if len(emb) else np.empty((0, DIM))  # f32→f64 exact
        top, nrm = rank_codebook(V, mat32, n_assign)
        return pa.StructArray.from_arrays(
            [mat_list(vid_arr[top], pa.int64()), pa.array(nrm, type=pa.float64())],
            ["assigns", "nrm"],
        )

    return _assign(F.col(vec_col))


#: full-corpus local-training threshold for _kmeans_train: below it the
#: Lloyd rounds run driver-side over the collected vectors (65536×64 f64
#: ≈ 33 MB, the faiss-style bounded training set); above it the
#: distributed mapInArrow rounds run. The cap is also the documented
#: driver-materialization bound.
#:
#: ORACLE-CONTRACT NOTE (ADVICE r7): the two paths accumulate the same
#: f64 chunked recurrence in different orders (sorted-vid locally,
#: partition order distributed), so trained centroids can differ by one
#: f32 ulp — and on ~2^-29-probability argmax ties flip an assignment —
#: exactly AT the cap. The hash-checked IVF oracles
#: (cosine_topk_ivf_kmeans, ivf_sq8_topk, ...) unroll the SAME path the
#: Spark side takes at the driver's fixed sf, so the boundary is outside
#: their contract: a corpus crossing 65536 rows re-trains a NEW index
#: (the snapshot-versioned index table makes that an explicit rebuild,
#: quantization.py), it does not silently re-rank an existing one.
_LOCAL_TRAIN_CAP = 65536


def _lloyd_partials(batches, mat32: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The one Lloyd accumulation step: per-centroid (count, Σvec) over an
    iterable of (r, DIM) f64 batches, each vector assigned to its nearest
    centroid by ``rank_codebook``. Rows are added in input order, so a
    fixed input order gives bit-identical f64 sums."""
    counts = np.zeros(len(mat32), dtype=np.int64)
    sums = np.zeros(mat32.shape, dtype=np.float64)
    for V in batches:
        idx = rank_codebook(V, mat32)[0][:, 0]
        counts += np.bincount(idx, minlength=len(mat32))
        np.add.at(sums, idx, V)
    return counts, sums


def _lloyd_update(mat32: np.ndarray, counts: np.ndarray, sums: np.ndarray) -> None:
    """Move every non-empty cluster's centroid to its float32-cast mean
    (in place); empty clusters keep their previous centroid."""
    live = counts > 0
    mat32[live] = (sums[live] / counts[live, None]).astype(np.float32)


def _kmeans_train(
    base: DataFrame,
    n_centroids: int,
    n_iterations: int,
) -> tuple[list[int], np.ndarray]:
    """Lloyd iterations over a (vid, vec[, ...]) relation, returning the
    trained codebook DRIVER-SIDE as (vids, C×DIM float32). Only vid/vec
    are read, so a distributed round is a column-pruned corpus scan —
    the textbook k-means shape — with no corpus checkpoint ahead of it.

    Deterministic: init = the ``n_centroids`` lowest-id vectors, then
    ``n_iterations`` rounds of assign-to-nearest (``rank_codebook``, the
    bit-exact fold ranking) + float32-cast mean (``_lloyd_partials`` /
    ``_lloyd_update``, shared by both paths). Empty clusters keep their
    previous centroid.

    SMALL-CORPUS FAST PATH: one CollectLimit probe; if the whole corpus
    fits ``_LOCAL_TRAIN_CAP``, every round runs as driver-local numpy in
    SORTED-vid order (deterministic regardless of scan/partition order)
    — ZERO per-round Spark jobs (faiss-style bounded training; below the
    cap the "sample" is the exact corpus). At scale the probe
    short-circuits after CAP+1 rows and each round is ONE shuffle-free
    ``mapInArrow`` job emitting C (count, Σvec) partial rows per
    partition; the driver sums them in partition order (deterministic for
    a fixed partitioning) — numerically the same mean as a per-element
    AVG aggregate up to f64 association order, which the f32 rounding
    absorbs except on ~2^-29-probability boundary cases.

    HONEST LIMIT: the driver handles n_partitions×C partial rows — fine to
    ~10^6 (e.g. 10k partitions × 64 lists); for larger C·partition
    products, pre-aggregate the partials with one groupBy before collect.
    Rounds 2+ run on a row-adaptive task count derived from round 1's
    partials (Σcnt rows over pid-count partitions: no separate count
    job); no coalesce once the corpus fills every slot.
    """
    probe = base.select("vid", "vec").limit(_LOCAL_TRAIN_CAP + 1).collect()
    if not probe:
        # fail with a CLEAR error — all64.shape[1] on a 0-row array was
        # an IndexError deep in the local path (r9 review finding)
        raise ValueError("k-means codebook training requires a non-empty corpus")
    if len(probe) <= _LOCAL_TRAIN_CAP:
        probe.sort(key=lambda r: r["vid"])
        vids = [int(r["vid"]) for r in probe[:n_centroids]]
        mat = np.array([r["vec"] for r in probe[:n_centroids]], dtype=np.float32)
        all64 = np.array([r["vec"] for r in probe], dtype=np.float64)
        for _ in range(n_iterations):
            _lloyd_update(mat, *_lloyd_partials([all64], mat))
        return vids, mat
    del probe
    vids, mat = seed_codebook(base, n_centroids)
    n_c = len(vids)
    base_src = train_src = base.select("vec")
    for it in range(n_iterations):

        def partials(batches, _mat=mat.copy()):
            # the vec column is consumed as ONE contiguous values buffer
            # per Arrow batch (list_mat); the C partial rows go out as
            # one record batch
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            counts, sums = _lloyd_partials((list_mat(b.column(0)) for b in batches), _mat)
            yield pa.record_batch(
                [
                    pa.array(np.full(n_c, pid, dtype=np.int32)),
                    pa.array(np.arange(n_c, dtype=np.int32)),
                    pa.array(counts),
                    mat_list(sums, pa.float64()),
                ],
                names=["pid", "cidx", "cnt", "sums"],
            )

        rows = train_src.mapInArrow(
            partials, "pid int, cidx int, cnt long, sums array<double>"
        ).collect()
        total_cnt = np.zeros(n_c, dtype=np.int64)
        total_sum = np.zeros((n_c, DIM), dtype=np.float64)
        for r in sorted(rows, key=lambda r: (r["pid"], r["cidx"])):
            total_cnt[r["cidx"]] += r["cnt"]
            total_sum[r["cidx"]] += np.asarray(r["sums"], dtype=np.float64)
        _lloyd_update(mat, total_cnt, total_sum)
        if it == 0:
            # round 1's partials carry the corpus size (Σcnt) and the
            # native partition count (rows/C) for free — size rounds 2+
            # to ~8k vectors/task (the assign tensor for 8k×C×DIM stays
            # ~70 MB at C=16).  No-op once the corpus fills every slot,
            # which is exactly the 100 TB case.
            n_rows = int(total_cnt.sum())
            cur_parts = max(1, len(rows) // n_c)
            want = max(1, min(cur_parts, -(-n_rows // 8192)))
            if want < cur_parts:
                train_src = base_src.coalesce(want)
    return vids, mat


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    probe_filter: Column | None = None,
    train_iterations: int = 0,
    index_cache_key=None,
) -> DataFrame:
    """IVF-Flat approximate top-k: coarse-quantize, search nprobe lists.

    Default codebook = the ``n_centroids`` lowest-id vectors (deterministic
    sampled codebook — oracle-reproducible); ``train_iterations > 0``
    trains it with that many Lloyd rounds (``_kmeans_train``) where
    recall matters. Either way the codebook is a driver-side literal and
    ONE Arrow pass (``assign_ids_batch``, top-``nprobe`` lists plus the
    fold norm) serves both search sides: element 0 of the stable top-n
    ranking IS the corpus vector's one inverted list (argmax ≡ argsort[0]
    under the same cos-desc/lowest-id tiebreak), and probes explode the
    full list after the probe filter. The candidate join is an equi-join
    on centroid_id — bucket-sized work instead of full-corpus work.
    """
    _check_int_ids(df, id_col, "ivf_topk")
    from open_data_lakehouse_demo_spark.sources.io import materialize, session_cached

    if train_iterations > 0:
        # The trained index (codebook + per-vector assignments) is
        # materialized so both search sides read checkpoint blocks, and
        # is immutable for a given corpus AND build/search configuration:
        # callers name their corpus with ``index_cache_key`` and the
        # operator composes in every parameter the cached table bakes in
        # (n_centroids, train_iterations, nprobe — the assigns arrays are
        # nprobe-wide), so a same-corpus call with a different recall
        # knob can never silently reuse a mismatched index (r9 review
        # finding). Without a key nothing is cached. The scan projection
        # is built inside build(): a warm search never needs it, and each
        # DataFrame projection costs an eager analysis on the driver.
        def build() -> DataFrame:
            raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
            vids, mat = _kmeans_train(raw, n_centroids, train_iterations)
            return materialize(
                raw.select("vid", "vec", assign_ids_batch("vec", vids, mat, nprobe).alias("an"))
            )

        assigned = build() if index_cache_key is None else session_cached(
            df.sparkSession, "ivf_index",
            (index_cache_key, n_centroids, train_iterations, nprobe), build,
        )
    else:
        raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        vids, mat = seed_codebook(raw, n_centroids)
        if not vids:
            id_type = df.schema[id_col].dataType
            return _empty_pairs(df.sparkSession, id_type, id_type)
        assigned = raw.select(
            "vid", "vec", assign_ids_batch("vec", vids, mat, nprobe).alias("an")
        )
    corpus = assigned.select(
        F.col("an.assigns")[0].alias("centroid_id"),
        "vid",
        "vec",
        F.col("an.nrm").alias("nrm"),
    )
    probed_src = (
        assigned.filter(probe_filter) if probe_filter is not None else assigned
    )
    probed = probed_src.select(
        F.explode("an.assigns").alias("centroid_id"),
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("an.nrm").alias("qnrm"),
    )
    cand = corpus.join(F.broadcast(probed), "centroid_id").filter(
        F.col("vid") != F.col("query_id")
    )
    # (query_id, neighbor_id) is UNIQUE by construction: every corpus
    # vector carries exactly one centroid (assigns[0]) and
    # the probe's nprobe list is distinct, so a pair can collide through
    # at most one inverted list — no dedup aggregate needed (the former
    # groupBy/max was a dead full shuffle of the scored candidates on
    # every search; r9 review finding).
    scored = cand.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("vec"), F.col("qnrm"), F.col("nrm")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """Near-duplicate vector pairs: hyperplane-LSH candidates, exact verify.

    Candidates = pairs colliding in ≥1 of the L sign-projection band tables
    (equi-join on (table, bucket) — the only shuffle is constant rows per
    vector); verification = exact cosine ≥ threshold over the pair.
    Output (vec_a, vec_b, cosine), vec_a < vec_b.
    """
    from open_data_lakehouse_demo_spark.sources.io import materialize

    # base (vec + norm) feeds bucket generation and both verify sides —
    # materialize so the norm folds run once (signature-table shape)
    base = materialize(_with_norm(df, id_col, vec_col))
    # bucket stage = Arrow-batched matmul, proven bit-identical to the
    # lsh_bucket fold (see lsh_buckets_batch docstring + parity test);
    # materialized because BOTH sides of the candidate self-join read it —
    # without the reuse point the Python bucket pass runs twice (visible
    # as two ArrowEvalPython subtrees in the plan)
    buckets = materialize(
        base.select(
            "vid", F.posexplode(lsh_buckets_batch("vec")).alias("table_id", "bucket")
        )
    )
    cands = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["table_id", "bucket"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("vec_a"), F.col("y.vid").alias("vec_b"))
        .distinct()
    )
    a = base.select(
        F.col("vid").alias("vec_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("vid").alias("vec_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.25,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    coarse-cluster the embedding space, then exhaustively compare ONLY
    within each cluster and drop the higher-id member of every pair with
    cosine ≥ threshold (keep-first rule — deterministic, id-stable).

    Output: one row per REMOVED vector — (removed_id, keeper_id,
    cosine_to_keeper) where keeper = the lowest-id partner over threshold
    (ties impossible: one row per partner id).

    Scale shape: clustering bounds the quadratic — all-pairs work is
    Σ|cluster|² instead of n². The knob that keeps that sum flat at 100 TB
    is n_clusters ∝ corpus size (SemDeDup uses ~50k clusters for LAION-
    scale; locally 16 over 500 vectors keeps the same ~n/32 cluster
    width). The self-join is an equi-join on centroid_id; with cluster
    counts in the tens of thousands the join keys spread evenly and AQE
    splits any skewed list. Codebook = lowest-id sample (oracle-
    reproducible), assigned by the ``assign_ids_batch`` kernel.

    HONEST LIMIT: with no ``assignment``, both sides of the self-join
    re-derive the assignment lineage (the assigned corpus is fact-scale,
    outside io.materialize's reduced-intermediate contract), so the
    assignment scan runs twice — CPU, not storage; a re-derived side is
    one column-pruned scan + one Arrow pass. ``assignment`` is the
    production escape (the usual SemDeDup shape): pass a PERSISTED
    cluster-assignment table — the (centroid_id, vid, vec, nrm) relation
    the ``streaming.ingest.ivf_ingest_stream`` sink or a prior job
    writes — and the scan is paid once at write time (same parameter
    pattern as the scrub family's ``index`` and the minhash family's
    ``sets``). ``n_clusters`` is ignored when it is given.
    """
    _check_int_ids(df, id_col, "semantic_dedup_pairs")
    if assignment is not None:
        assigned = assignment.select("centroid_id", "vid", "vec", "nrm")
    else:
        raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        vids, mat = seed_codebook(raw, n_clusters)
        if not vids:  # empty corpus ⇒ empty pair output, schema kept
            assigned = raw.select(
                F.lit(None).cast("bigint").alias("centroid_id"),
                "vid",
                "vec",
                F.lit(0.0).alias("nrm"),
            ).limit(0)
        else:
            an = assign_ids_batch("vec", vids, mat).alias("an")
            assigned = raw.select("vid", "vec", an).select(
                F.col("an.assigns")[0].alias("centroid_id"),
                "vid",
                "vec",
                F.col("an.nrm").alias("nrm"),
            )
    a = assigned.select(
        "centroid_id",
        F.col("vid").alias("vid_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        "centroid_id",
        F.col("vid").alias("vid_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # shuffle_hash: the self-join fans out quadratically within clusters —
    # a sort-merge join would sort BOTH fanned-out sides; hash-join on the
    # cluster id streams them (same reasoning as the LSH candidate join)
    dups = (
        a.join(b.hint("shuffle_hash"), "centroid_id")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .select(
            "vid_a",
            "vid_b",
            cosine(
                F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # keep-first: the removed doc's keeper is its lowest-id over-threshold
    # partner; min(struct) = one hash aggregate, no window sort
    kept = dups.groupBy("vid_b").agg(F.min(F.struct("vid_a", "cosine")).alias("k"))
    return kept.select(
        F.col("vid_b").alias("removed_id"),
        F.col("k.vid_a").alias("keeper_id"),
        F.col("k.cosine").alias("cosine_to_keeper"),
    )
