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
    via distributed Lloyd's k-means (``kmeans_codebook``).
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


def _is_prepared_base(df: DataFrame) -> bool:
    """A frame whose columns are EXACTLY (vid, vec, nrm) is a
    caller-prepared norm table.  Exact-set match (not subset) so a source
    table that merely happens to carry those names among others is never
    silently hijacked; the caller's id_col/vec_col are ignored only for
    frames this function already produced."""
    return set(df.columns) == {"vid", "vec", "nrm"}


def _ensure_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """No-op when the caller already prepared a (vid, vec, nrm) norm table
    — lets a multi-arm query (e.g. ann_recall_eval) build and materialize
    the norm scan ONCE and feed it to several operators."""
    if _is_prepared_base(df):
        return df
    return _with_norm(df, id_col, vec_col)


def _ensure_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Materialized variant of ``_ensure_norm``.

    CONTRACT: a caller passing a prepared (vid, vec, nrm) frame must have
    materialized it (re-checkpointing here would copy the blocks; NOT
    materializing makes every training round re-run the norm lineage)."""
    if _is_prepared_base(df):
        return df
    from open_data_lakehouse_demo_spark.sources.io import materialize

    return materialize(_with_norm(df, id_col, vec_col))


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
    corpus = _ensure_norm(df, id_col, vec_col)
    if _is_prepared_base(probes):
        p_norm = probes
    else:
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
    spark = df.sparkSession
    if not p_rows:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField("neighbor_id", T.LongType()),
                    T.StructField("cosine", T.DoubleType()),
                ]
            ),
        )
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
            F.element_at(qvids, F.col("pidx") + 1).alias("query_id"),
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


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    n_assign: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest coarse centroids.

    Broadcast the (tiny) codebook; one O(n·C) scan, ranked by cosine with
    centroid-id tiebreak. Output (vid, vec, nrm, centroid_id, rank).
    """
    vecs = df
    cents = centroids.select(
        F.col("vid").alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )
    scored = vecs.join(F.broadcast(cents)).select(
        "vid",
        "vec",
        "nrm",
        "centroid_id",
        cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")).alias("ccos"),
    )
    if n_assign == 1:
        # argmax as ONE hash aggregate instead of a window (no sort, pure
        # map-side partial agg): max over struct(ccos, -centroid_id, …)
        # is exactly rank-1 of ORDER BY ccos DESC, centroid_id ASC —
        # including NULL cosines (zero norms under non-ANSI division),
        # which rank last in both paths and fall through to the lowest
        # centroid id when every cosine is NULL (verified empirically).
        best = scored.groupBy("vid").agg(
            F.max(
                F.struct(
                    F.col("ccos"),
                    (-F.col("centroid_id")).alias("neg_cid"),
                    F.col("centroid_id"),
                    F.col("vec"),
                    F.col("nrm"),
                )
            ).alias("b")
        )
        return best.select(
            "vid",
            F.col("b.vec").alias("vec"),
            F.col("b.nrm").alias("nrm"),
            F.col("b.centroid_id").alias("centroid_id"),
            F.lit(1).alias("crank"),
        )
    w = Window.partitionBy("vid").orderBy(F.col("ccos").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_assign)
        .drop("ccos")
    )


def kmeans_codebook(
    df: DataFrame,
    n_centroids: int = 16,
    n_iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means: the real IVF codebook-training step
    (replaces the sampled lowest-id codebook where recall matters).

    Deterministic: init = the ``n_centroids`` lowest-id vectors, then
    ``n_iterations`` rounds of assign-to-nearest + element-wise mean,
    fused into ONE shuffle-free Arrow pass per round with the codebook
    carried driver-side between rounds (see ``_kmeans_train`` for the
    job shape, determinism and scale-limit notes).  Empty clusters keep
    their previous centroid.  Output (vid = centroid id, vec, nrm) —
    directly pluggable into ``assign_centroids`` / ``ivf_topk``.

    Scale: each round is one map-only corpus scan emitting C partial
    rows per partition — at 10^9 vectors the cost is n_iterations
    corpus scans, the textbook distributed k-means shape.
    """
    base = _ensure_base(df, id_col, vec_col)
    return _kmeans_from_base(base, n_centroids, n_iterations)


def _np_norm(vec32: np.ndarray) -> float:
    """Driver-side twin of the ``norm`` fold: exact f32→f64 self-products
    summed left-to-right (np.add.accumulate ≡ the fold's rounding at every
    step), then IEEE sqrt — bit-identical to the JVM/DuckDB expression."""
    prods = vec32.astype(np.float64) ** 2
    return float(np.sqrt(np.add.accumulate(prods)[-1] + 0.0))


def _codebook_df(spark, vids: list[int], mat32: np.ndarray) -> DataFrame:
    """(vid, vec, nrm) local-relation DataFrame from a driver-side codebook
    matrix — broadcastable for free (no job computes it)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vid", T.LongType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
            T.StructField("nrm", T.DoubleType()),
        ]
    )
    rows = [
        (int(v), [float(x) for x in mat32[i]], _np_norm(mat32[i]))
        for i, v in enumerate(vids)
    ]
    return spark.createDataFrame(rows, schema)


def _assign_chunk(chunk64: np.ndarray, cmat64: np.ndarray, cnrm: np.ndarray) -> np.ndarray:
    """(c, C) cosine matrix for a chunk of vectors vs the codebook — the
    bit-exact fold math shared by every literal-codebook stage:
    exact f32→f64 products, ``np.add.accumulate`` sequential fold with the
    ``+ 0.0`` zero-seed normalization, fold-norm division.

    Zero-norm semantics: with ANSI off (the project session), Spark's
    x/0.0 is NULL, which ranks LAST under the join path's ``ccos DESC``
    window / ``max(struct)`` (verified empirically — Spark never produces
    NaN here).  numpy's division yields ±inf/NaN instead, so every
    non-finite cosine maps to -inf: zero-norm pairings rank last, and an
    all--inf row falls through to the first (lowest-vid) centroid —
    matching the join path's all-NULL tiebreak exactly."""
    with np.errstate(divide="ignore", invalid="ignore"):
        prods = chunk64[:, None, :] * cmat64[None, :, :]  # exact products
        dots = np.add.accumulate(prods, axis=2)[:, :, -1] + 0.0
        vnrm = np.sqrt(np.add.accumulate(chunk64 * chunk64, axis=1)[:, -1] + 0.0)
        cos = dots / (vnrm[:, None] * cnrm[None, :])
    return np.where(np.isfinite(cos), cos, -np.inf)


def assign_ids_batch(
    vec_col: str, vids: list[int], mat32: np.ndarray, n_assign: int = 1
) -> Column:
    """``n_assign`` nearest-centroid ids per vector (ordered, as
    ``array<bigint>``) against a DRIVER-SIDE codebook — Arrow-batched twin
    of ``assign_centroids``.

    One Arrow pass over n vectors (each scored against all C centroids via
    one numpy tensor product) replaces the broadcast-join fan-out of n×C
    pair rows through ``dot_batch`` — 1/C-th the Arrow traffic and no
    n×C-row hash aggregate. Bit-identical to the join path:

      * dots/norms: the proven exact-product + sequential-fold math
        (``_assign_chunk``);
      * ranking: Spark's ``max(struct(ccos, -centroid_id, …))`` / window
        ``ORDER BY ccos DESC, centroid_id`` ranks valid cosines first
        (NULL — zero-norm division under non-ANSI — last, lowest
        centroid id on ties) — mirrored by mapping non-finite numpy
        cosines to -inf (see ``_assign_chunk``) and a STABLE ascending
        argsort of the negated cosines over the ascending-vid codebook
        (stable ⇒ ties keep the lowest centroid id first; -inf sorts
        last after negation).

    The codebook rides the task closure (C·DIM·4 bytes — 4 KB at C=16;
    HONEST LIMIT: beyond C·DIM ≈ 10^6 floats switch to an explicit
    SparkContext.broadcast handle so it ships once per executor, not per
    task batch).
    """
    cmat = mat32.astype(np.float64)  # (C, DIM); f32→f64 exact
    cnrm = np.array([_np_norm(mat32[i]) for i in range(len(vids))], dtype=np.float64)
    vid_arr = np.array(vids, dtype=np.int64)
    # at most C distinct lists exist: a larger request (nprobe > codebook
    # size) returns all C, never a broadcast error or a repeated id
    n = min(n_assign, len(vids))

    @arrow_udf("array<bigint>")
    def _assign(emb: pa.Array) -> pa.Array:
        nrows = len(emb)
        if nrows == 0:
            return mat_list(np.empty((0, n), np.int64), pa.int64())
        V = list_mat(emb)  # (nrows, DIM); f32→f64 exact (list_mat, r13)
        out = np.empty((nrows, n), dtype=np.int64)
        for lo in range(0, nrows, 2048):
            chunk = V[lo : lo + 2048]
            cos = _assign_chunk(chunk, cmat, cnrm)
            if n == 1:
                top = np.argmax(cos, axis=1)[:, None]  # first max = lowest vid
            else:
                # ascending stable sort of -cos ⇒ cos desc, index (vid) asc
                top = np.argsort(-cos, axis=1, kind="stable")[:, :n]
            out[lo : lo + len(chunk)] = vid_arr[top]
        return mat_list(out, pa.int64())

    return _assign(F.col(vec_col))


def assign_ids_nrm_batch(
    vec_col: str, vids: list[int], mat32: np.ndarray, n_assign: int = 1
) -> Column:
    """``struct<assigns array<bigint>, nrm double>`` — ``assign_ids_batch``
    fused with the vector's own fold-norm in the SAME Arrow pass (r14,
    guide §4.2/§1.2).

    Why: the trained-IVF index build previously ran ``_ensure_base``
    first — a full JVM pass evaluating the INTERPRETED ``norm`` fold
    (64 HOF lambda steps per row) plus a corpus-wide (vid, vec, nrm)
    localCheckpoint — only so the later assign pass could carry ``nrm``
    along. The assign kernel already computes every vector's norm inside
    ``_assign_chunk``; emitting it costs nothing and deletes BOTH the
    interpreted norm pass and the second corpus checkpoint (the r13
    HONEST-LIMIT 2× transient block footprint).

    Bit-parity: the emitted norm is ``sqrt(Σ(f64(x)·f64(x)))`` with exact
    f32→f64 widening, sequential ``np.add.accumulate`` fold and ``+0.0``
    seed — operation-for-operation the ``norm()`` expression fold (the
    ``_np_norm`` argument; parity-tested in tests/test_similarity.py).
    Assignment math/ranking are byte-identical to assign_ids_batch
    (shared ``_assign_chunk``)."""
    cmat = mat32.astype(np.float64)
    cnrm = np.array([_np_norm(mat32[i]) for i in range(len(vids))], dtype=np.float64)
    vid_arr = np.array(vids, dtype=np.int64)
    # at most C distinct lists exist: a larger request (nprobe > codebook
    # size) returns all C, never a broadcast error or a repeated id
    n = min(n_assign, len(vids))

    # annotation must be the generic pa.Array: arrow_udf's type-hint
    # inference treats a non-Array-hinted return as a grouped aggregate
    # (StructArray is returned at runtime — a subclass of pa.Array)
    @arrow_udf("struct<assigns: array<bigint>, nrm: double>")
    def _assign_nrm(emb: pa.Array) -> pa.Array:
        nrows = len(emb)
        if nrows == 0:
            return pa.StructArray.from_arrays(
                [mat_list(np.empty((0, n), np.int64), pa.int64()),
                 pa.array(np.empty(0, np.float64), type=pa.float64())],
                ["assigns", "nrm"],
            )
        V = list_mat(emb)  # (nrows, DIM); f32→f64 exact
        out = np.empty((nrows, n), dtype=np.int64)
        nrm = np.empty(nrows, dtype=np.float64)
        for lo in range(0, nrows, 2048):
            chunk = V[lo : lo + 2048]
            cos = _assign_chunk(chunk, cmat, cnrm)
            if n == 1:
                top = np.argmax(cos, axis=1)[:, None]
            else:
                top = np.argsort(-cos, axis=1, kind="stable")[:, :n]
            out[lo : lo + len(chunk)] = vid_arr[top]
            # exact squares (f32 widened), sequential fold, +0.0 seed —
            # the norm() fold's rounding at every step (_np_norm)
            nrm[lo : lo + len(chunk)] = np.sqrt(
                np.add.accumulate(chunk * chunk, axis=1)[:, -1] + 0.0
            )
        return pa.StructArray.from_arrays(
            [mat_list(out, pa.int64()), pa.array(nrm, type=pa.float64())],
            ["assigns", "nrm"],
        )

    return _assign_nrm(F.col(vec_col))




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


def _kmeans_train_local(
    rows: list, n_centroids: int, n_iterations: int
) -> tuple[list[int], np.ndarray]:
    """Driver-local Lloyd over collected (vid, vec) rows — the identical
    chunked recurrence the distributed partials run (_assign_chunk +
    2048-row np.add.at accumulation), iterated in SORTED-vid order so
    the result is deterministic regardless of scan/partition order
    (strictly stronger than the distributed path's fixed-partitioning
    determinism). Init = the n_centroids lowest-id vectors; empty
    clusters keep their previous centroid; means cast to f32 per round
    — same tolerance class the DuckDB oracle differential accepts."""
    rows = sorted(rows, key=lambda r: r["vid"])
    vids = [r["vid"] for r in rows[:n_centroids]]
    mat = np.array([r["vec"] for r in rows[:n_centroids]], dtype=np.float32)
    n_c = len(vids)
    all64 = np.array([r["vec"] for r in rows], dtype=np.float64)
    for _ in range(n_iterations):
        cmat = mat.astype(np.float64)
        cnrm = np.array([_np_norm(mat[i]) for i in range(n_c)], dtype=np.float64)
        counts = np.zeros(n_c, dtype=np.int64)
        sums = np.zeros((n_c, all64.shape[1]), dtype=np.float64)
        for lo in range(0, len(all64), 2048):
            chunk = all64[lo : lo + 2048]
            idx = np.argmax(_assign_chunk(chunk, cmat, cnrm), axis=1)
            counts += np.bincount(idx, minlength=n_c)
            np.add.at(sums, idx, chunk)
        for i in range(n_c):
            if counts[i] > 0:
                mat[i] = (sums[i] / counts[i]).astype(np.float32)
    return vids, mat


def _kmeans_train(
    base: DataFrame,
    n_centroids: int,
    n_iterations: int,
) -> tuple[list[int], np.ndarray]:
    """Lloyd iterations over a (vid, vec[, ...]) relation, returning the
    trained codebook DRIVER-SIDE as (vids, C×DIM float32). Only vid/vec
    are read, so callers may pass either the materialized (vid, vec, nrm)
    base (kmeans_codebook — norms reused downstream) or the raw scan
    projection (ivf_topk's trained arm, r14 — each distributed round is
    then a column-pruned corpus scan, the textbook k-means shape, with no
    corpus checkpoint write ahead of it; the bounded local-path collect
    never needed norms at all).

    The codebook (C×DIM floats, ~4 KB at C=16) is the one legitimate
    driver-side materialization in the repo: per round the cluster runs
    exactly ONE shuffle-free job — a fused ``mapInArrow`` pass that
    assigns each vector to its nearest centroid (``_assign_chunk``, the
    bit-exact fold math) and accumulates per-partition (count, Σvec)
    partials in the same numpy sweep, emitting C rows per partition.  The
    driver sums the partials in partition order (deterministic for a fixed
    partitioning) and casts the mean to float32 — numerically the same
    mean as a per-element AVG aggregate up to f64 association order, which
    the f32 rounding absorbs except on ~2^-29-probability boundary cases.
    vs the previous in-plan version (broadcast-join fan-out + 64-wide AVG
    codegen + per-round lazy localCheckpoint): 5.7s → ~2.4s on the
    trained-IVF query at sf0.1.  Empty clusters keep their previous
    centroid.

    HONEST LIMIT: the driver handles n_partitions×C partial rows — fine to
    ~10^6 (e.g. 10k partitions × 64 lists); for larger C·partition
    products, pre-aggregate the partials with one groupBy before collect.

    Returns (vids, mat). Rounds 2+ run on a row-adaptive task count
    derived from round 1's partials (Σcnt rows over pid-count
    partitions: no separate count job); no coalesce once the corpus
    fills every slot — exactly the 100 TB case.
    """
    dim = DIM
    # SMALL-CORPUS FAST PATH: one CollectLimit probe; if the whole corpus
    # fits the cap, every Lloyd round runs as driver-local numpy (the
    # same chunked recurrence) — ZERO per-round Spark jobs. At scale the
    # probe short-circuits after CAP+1 rows (CollectLimit scans
    # incrementally) and the distributed path below runs unchanged.
    # This is the faiss-style training discipline: codebooks train on a
    # bounded sample; here the bound doubles as the local/distributed
    # switch, and below it the "sample" is exact (the full corpus), so
    # results stay within the same f32-absorbed tolerance the oracle
    # differential already accepts. Driver bound: CAP×DIM f64 ≈ 33 MB.
    # Measured on the trained-IVF query at sf0.1: 3 rounds × ~0.4s of
    # pure job-floor removed (2.2s → ~1.0s), invisible at real corpus
    # sizes where the distributed rounds are scans, not floors.
    probe = base.select("vid", "vec").limit(_LOCAL_TRAIN_CAP + 1).collect()
    if not probe:
        # fail with a CLEAR error — all64.shape[1] on a 0-row array was
        # an IndexError deep in the local path (r9 review finding)
        raise ValueError("k-means codebook training requires a non-empty corpus")
    if len(probe) <= _LOCAL_TRAIN_CAP:
        return _kmeans_train_local(probe, n_centroids, n_iterations)
    del probe
    # the n_centroids LOWEST ids (not `vid < n`, which silently yields
    # an empty codebook when the id space doesn't start at 0)
    init = base.orderBy("vid").limit(n_centroids).select("vid", "vec").collect()
    vids = [r["vid"] for r in init]
    mat = np.array([r["vec"] for r in init], dtype=np.float32)
    n_c = len(vids)

    base_src = base.select("vec")
    train_src = base_src

    for it in range(n_iterations):
        cmat = mat.astype(np.float64)
        cnrm = np.array([_np_norm(mat[i]) for i in range(n_c)], dtype=np.float64)

        def partials(batches, _cmat=cmat, _cnrm=cnrm):
            # r14 (guide §4.2): mapInArrow + list_mat — the vec column is
            # consumed as ONE contiguous values buffer per batch and the
            # C partial rows are emitted as one record batch; the old
            # mapInPandas path built a Python ndarray OBJECT per row
            # (Series.to_numpy → np.stack) on the input side and a
            # per-row list on the output side. Accumulation order is
            # unchanged (same 2048-row sub-chunks of the same Arrow
            # batches), so the f64 partial sums are bit-identical.
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            counts = np.zeros(n_c, dtype=np.int64)
            sums = np.zeros((n_c, dim), dtype=np.float64)
            for batch in batches:
                V = list_mat(batch.column(0))  # (n, dim) f64, exact widening
                for lo in range(0, len(V), 2048):
                    chunk = V[lo : lo + 2048]
                    idx = np.argmax(_assign_chunk(chunk, _cmat, _cnrm), axis=1)
                    counts += np.bincount(idx, minlength=n_c)
                    np.add.at(sums, idx, chunk)
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
        total_sum = np.zeros((n_c, dim), dtype=np.float64)
        for r in sorted(rows, key=lambda r: (r["pid"], r["cidx"])):
            total_cnt[r["cidx"]] += r["cnt"]
            total_sum[r["cidx"]] += np.asarray(r["sums"], dtype=np.float64)
        for i in range(n_c):  # empty clusters keep their centroid
            if total_cnt[i] > 0:
                mat[i] = (total_sum[i] / total_cnt[i]).astype(np.float32)
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


def _kmeans_from_base(
    base: DataFrame, n_centroids: int, n_iterations: int
) -> DataFrame:
    """DataFrame view of ``_kmeans_train`` — (vid, vec, nrm) local relation,
    directly pluggable into ``assign_centroids`` / ``ivf_topk``."""
    vids, mat = _kmeans_train(base, n_centroids, n_iterations)
    return _codebook_df(base.sparkSession, vids, mat)


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    probe_filter: Column | None = None,
    codebook: DataFrame | None = None,
    train_iterations: int = 0,
    index_cache_key=None,
) -> DataFrame:
    """IVF-Flat approximate top-k: coarse-quantize, search nprobe lists.

    Default codebook = the ``n_centroids`` lowest-id vectors (deterministic
    sampled codebook — oracle-reproducible); pass
    ``codebook=kmeans_codebook(df, ...)`` for trained centroids where
    recall matters. Corpus vectors land in exactly one inverted list;
    probes search their ``nprobe`` nearest lists. The candidate join is an
    equi-join on centroid_id — bucket-sized work instead of full-corpus
    work.
    """
    if train_iterations > 0 and codebook is None:
        # Trained codebook is DRIVER-SIDE (C×DIM floats), so the search
        # assignment uses the literal path with the identical bit-exact
        # ranking math (see assign_ids_batch — parity argument + test).
        # Trained on THIS base — a separate kmeans_codebook(df) call would
        # scan + norm + checkpoint the identical corpus twice.
        #
        # ONE Arrow pass computes top-nprobe assignments for every vector
        # and is materialized so BOTH search sides read checkpoint blocks:
        # element 0 of the stable top-n ranking IS the top-1 corpus
        # assignment (argmax ≡ argsort[0] under the same cos-desc/
        # lowest-centroid-id tiebreak), and the probe side explodes the
        # full list after the probe filter.  vs the previous two separate
        # ArrowEvalPython scans (corpus top-1 + probe top-n): one Python
        # pass instead of two and a much simpler main-stage plan —
        # measured 2.6s → 1.15s for the search phase at sf0.1.
        # r14 (guide §4.2/§1.2): the pass now runs on the RAW (vid, vec)
        # projection with the fold-norm fused into the kernel
        # (assign_ids_nrm_batch — bit-identical to norm(), see its
        # docstring): no _ensure_base, which deletes (a) the interpreted
        # JVM norm fold over the corpus, and (b) the r13 HONEST-LIMIT
        # second corpus checkpoint — the trained index now keeps exactly
        # ONE corpus-sized block set (this assigned table). Training
        # reads the raw scan too: the local path's bounded collect never
        # needed norms, and a >cap distributed round is a column-pruned
        # corpus scan per Lloyd round — the textbook k-means shape — with
        # no corpus checkpoint write ahead of it.
        from open_data_lakehouse_demo_spark.sources.io import materialize, session_cached

        def build() -> DataFrame:
            raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
            vids, mat = _kmeans_train(raw, n_centroids, train_iterations)
            return materialize(
                raw.select(
                    assign_ids_nrm_batch(
                        "vec", vids, mat, n_assign=nprobe
                    ).alias("an"),
                    "vid",
                    "vec",
                ).select(
                    F.col("an.assigns").alias("assigns"),
                    "vid",
                    "vec",
                    F.col("an.nrm").alias("nrm"),
                )
            )

        # The trained index (codebook + per-vector assignments) is
        # immutable for a given corpus AND build/search configuration:
        # callers name their corpus with ``index_cache_key`` and the
        # operator composes in every parameter the cached table bakes in
        # (n_centroids, train_iterations, nprobe — the assigns arrays are
        # nprobe-wide), so a same-corpus call with a different recall
        # knob can never silently reuse a mismatched index (r9 review
        # finding). Production shape: a vector index is built once and
        # queried many times. Without a key nothing is cached.
        assigned = build() if index_cache_key is None else session_cached(
            df.sparkSession, "ivf_index",
            (index_cache_key, n_centroids, train_iterations, nprobe), build,
        )
        corpus = assigned.select(
            F.col("assigns")[0].alias("centroid_id"), "vid", "vec", "nrm"
        )
        probed_src = (
            assigned.filter(probe_filter) if probe_filter is not None else assigned
        )
        probed = probed_src.select(
            F.explode("assigns").alias("centroid_id"),
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
        )
    elif codebook is not None:
        # explicit codebook DataFrame (e.g. kmeans_codebook output): the
        # lazy join path — base feeds corpus and probe assignment;
        # materialize so the norm folds run once
        base = _ensure_base(df, id_col, vec_col)
        probes_src = base.filter(probe_filter) if probe_filter is not None else base
        corpus = assign_centroids(base, codebook, n_assign=1).select(
            "centroid_id", "vid", "vec", "nrm"
        )
        probed = assign_centroids(probes_src, codebook, n_assign=nprobe).select(
            F.col("centroid_id"),
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
        )
    else:
        # SAMPLED codebook (r14, guide §4.2/§2.4): the n_centroids
        # lowest-id seeds are a bounded driver collect (TakeOrdered on
        # the raw scan — the same justified tiny materialization as
        # pq_seed_matrix), and both assignment passes run the fused
        # assign+norm Arrow kernel against the literal codebook —
        # bit-identical ranking/norms to the assign_centroids join path
        # (assign_ids_nrm_batch docstring + parity tests). vs the r13
        # join form this deletes per query: the interpreted corpus norm
        # pass, the corpus-wide (vid, vec, nrm) localCheckpoint, two
        # broadcast-join n×C pair fan-outs through dot_batch, and the
        # payload-carrying max(struct) SortAggregate / ranking window.
        # (r13's A/B of a literal path measured a wash — but that
        # variant still paid _ensure_base; with the norm fused into the
        # kernel the checkpoint goes away entirely, which is what moves
        # the number. Interleaved fresh-subprocess A/B, 4 pairs, min:
        # cosine_topk_ivf 2.25 → 1.25 s (0.56×), semantic_dedup 1.48 →
        # 1.18 s (0.80×) — details in OPTIMIZATION_r14.md.)
        raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        seeds = raw.orderBy("vid").limit(n_centroids).collect()
        if not seeds:
            from pyspark.sql import types as T

            id_type = df.schema[id_col].dataType
            return df.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("query_id", id_type),
                        T.StructField("neighbor_id", id_type),
                        T.StructField("cosine", T.DoubleType()),
                    ]
                ),
            )
        seeds.sort(key=lambda r: r["vid"])
        svids = [int(r["vid"]) for r in seeds]
        smat = np.array([r["vec"] for r in seeds], dtype=np.float32)
        corpus = raw.select(
            assign_ids_nrm_batch("vec", svids, smat, n_assign=1).alias("an"),
            "vid",
            "vec",
        ).select(
            F.col("an.assigns")[0].alias("centroid_id"),
            "vid",
            "vec",
            F.col("an.nrm").alias("nrm"),
        )
        probes_src = raw.filter(probe_filter) if probe_filter is not None else raw
        probed = probes_src.select(
            assign_ids_nrm_batch("vec", svids, smat, n_assign=nprobe).alias("an"),
            "vid",
            "vec",
        ).select(
            F.explode("an.assigns").alias("centroid_id"),
            F.col("vid").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("an.nrm").alias("qnrm"),
        )
    cand = corpus.join(F.broadcast(probed), "centroid_id").filter(
        F.col("vid") != F.col("query_id")
    )
    # (query_id, neighbor_id) is UNIQUE by construction: every corpus
    # vector carries exactly one centroid (assigns[0] / n_assign=1) and
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
    base = _ensure_base(df, id_col, vec_col)
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
    codebook: DataFrame | None = None,
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
    splits any skewed list. Default codebook = lowest-id sample (oracle-
    reproducible); pass kmeans_codebook(...) for trained clusters where
    removal quality matters.

    HONEST LIMIT: with no ``assignment``, both sides of the self-join
    re-derive the assignment lineage (the assigned corpus is fact-scale,
    outside io.materialize's reduced-intermediate contract), so the
    broadcast-assign scan runs twice — CPU, not storage. ``assignment``
    is the production escape (the usual SemDeDup shape): pass a
    PERSISTED cluster-assignment table — the (centroid_id, vid, vec,
    nrm) relation assign_centroids(base, centroids, n_assign=1)
    produces, e.g. written once by the ivf_ingest_stream sink or a prior
    job — and the scan is paid once at write time (same parameter
    pattern as the scrub family's ``index`` and the minhash family's
    ``sets``). ``codebook``/``n_clusters`` are ignored when it is given.
    """
    if assignment is not None:
        assigned = assignment.select("centroid_id", "vid", "vec", "nrm")
    elif codebook is not None:
        base = _ensure_base(df, id_col, vec_col)
        assigned = assign_centroids(base, codebook, n_assign=1).select(
            "centroid_id", "vid", "vec", "nrm"
        )
    else:
        # SAMPLED codebook (r14, same restructure as ivf_topk's sampled
        # arm): bounded seeds collect + the fused assign+norm Arrow
        # kernel on the raw scan — bit-identical to the
        # assign_centroids join path (cross-path equivalence pinned by
        # test_semantic_dedup_assignment_param_equivalence). The HONEST
        # LIMIT below still applies: each self-join side re-derives this
        # lineage, but a re-derived side is now one column-pruned scan +
        # one Arrow pass instead of a checkpoint read + broadcast n×C
        # fan-out + payload-carrying argmax aggregate.
        raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        seeds = sorted(
            raw.orderBy("vid").limit(n_clusters).collect(),
            key=lambda r: r["vid"],
        )
        if not seeds:  # empty corpus ⇒ empty pair output, schema kept
            assigned = raw.select(
                F.lit(None).cast("bigint").alias("centroid_id"),
                "vid",
                "vec",
                F.lit(0.0).alias("nrm"),
            ).limit(0)
        else:
            svids = [int(r["vid"]) for r in seeds]
            smat = np.array([r["vec"] for r in seeds], dtype=np.float32)
            assigned = raw.select(
                assign_ids_nrm_batch("vec", svids, smat, n_assign=1).alias("an"),
                "vid",
                "vec",
            ).select(
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
