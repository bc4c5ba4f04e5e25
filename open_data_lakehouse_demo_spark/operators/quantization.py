"""Product quantization (PQ) + asymmetric-distance (ADC) search.

The memory-bound scale path for billion-vector similarity (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011): split the
64-dim embedding into M=8 subspaces of 8 dims, quantize each subvector to
one of 16 per-subspace codes, and search with a per-probe lookup table —
the corpus shrinks from 64 float32 (256 B) to 8 uint4-sized codes per
vector, and distance evaluation is M table lookups instead of a 64-wide
dot product.

Spark-first shape:
  - the codebook is tiny (M × 16 subvectors) and BROADCAST everywhere;
  - encoding is one scan: subspace fan-out is a generator (explode of a
    computed array, no shuffle), the per-(vid, subspace) argmin is a
    single min(struct) hash aggregate (no window sort), and codes
    re-assemble with an array_sort over the M-element collect_list;
  - ADC search broadcasts the per-probe LUT (M × 16 doubles per probe)
    against the ENCODED corpus — the big side never re-reads the raw
    vectors, which is the entire point of PQ at 100 TB.

Portability contract (same policy as operators/similarity.py): every
distance is a SEQUENTIAL fold in a defined order — L2² folds left-to-right
over the 8 dims from a +0.0 seed (squares are never -0.0, so DuckDB's
seedless list_reduce over the same order is bit-identical), and the ADC
sum folds over subspaces 0..M-1. The driver hash therefore matches the
DuckDB oracle exactly (plans/inventory_vectors.py).

Default codebook = subvectors of the NCODES lowest-id vectors (the same
deterministic, oracle-reproducible seeding as the IVF coarse quantizer);
a k-means-per-subspace trained codebook slots into the same broadcast
path where recall matters.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from open_data_lakehouse_demo_spark.operators.similarity import (
    assign_ids_batch,
    list_mat,
    mat_list,
    seed_codebook,
)

DIM = 64
M = 8  # subspaces
SUB = DIM // M  # dims per subspace
NCODES = 16  # codes per subspace


def sub_slices(vec: Column) -> Column:
    """array<struct<s int, vs array<double>>> — the M subvectors of ``vec``
    (float→double element cast, matching the oracle's CAST AS DOUBLE)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.transform(
                F.slice(vec, s * SUB + 1, SUB), lambda x: x.cast("double")
            ).alias("vs"),
        ),
    )


def l2sq_fold(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance over two SUB-dim double arrays."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(SUB)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i)),
    )


def pq_codebook(vectors: DataFrame, id_col: str = "vid", vec_col: str = "vec") -> DataFrame:
    """(s, code_id, cs) — per-subspace codebook from the NCODES lowest-id
    vectors; code_id = rank of the seed vector's id (0-based).

    The row_number window here runs on the POST-limit seeds relation
    (≤ NCODES rows) — bounded at any corpus size. partitionBy(lit(0)) is
    semantically an unpartitioned window (one constant key, same order)
    but keeps the partition spec non-empty so the vacuous
    "No Partition Defined" WindowExec warning stays out of test logs."""
    w = Window.partitionBy(F.lit(0)).orderBy(id_col)
    seeds = (
        vectors.orderBy(id_col)
        .limit(NCODES)
        .select((F.row_number().over(w) - 1).alias("code_id"), F.col(vec_col).alias("v"))
    )
    return seeds.select("code_id", F.explode(sub_slices(F.col("v"))).alias("sc")).select(
        F.col("sc.s").alias("s"), "code_id", F.col("sc.vs").alias("cs")
    )


def _best_code_cols() -> list:
    """M conditional-argmin aggregate columns: b{s} = min over rows with
    subspace == s of struct(d2, code_id) — min ignores the NULLs the
    other subspaces' rows contribute, so ONE hash aggregate produces the
    per-subspace argmins that a groupBy(key, s) + regroup(key) pair
    would need two shuffles for. M is a compile-time constant, so the
    pivot width is fixed; ties still break to the lowest code_id via the
    struct ordering."""
    return [
        F.min(F.when(F.col("s") == s, F.struct("d2", "code_id"))).alias(f"b{s}")
        for s in range(M)
    ]


def _codes_from_best() -> Column:
    return F.array(*[F.col(f"b{s}.code_id") for s in range(M)]).alias("codes")


def pq_encode(
    vectors: DataFrame, codebook: DataFrame, id_col: str = "vid", vec_col: str = "vec"
) -> DataFrame:
    """(vid, codes array<int>) — nearest code per subspace (L2², ties to
    the lowest code_id) in ONE hash aggregate (see _best_code_cols)."""
    subs = vectors.select(
        F.col(id_col).alias("vid"), F.explode(sub_slices(F.col(vec_col))).alias("sc")
    ).select("vid", F.col("sc.s").alias("s"), F.col("sc.vs").alias("vs"))
    scored = subs.join(F.broadcast(codebook), "s").select(
        "vid", "s", "code_id", l2sq_fold(F.col("vs"), F.col("cs")).alias("d2")
    )
    return scored.groupBy("vid").agg(*_best_code_cols()).select("vid", _codes_from_best())


def _pq_sub_dists(chunk64: np.ndarray, cb64: np.ndarray) -> np.ndarray:
    """(n, M, NCODES) L2² between each vector's M subvectors and every
    code's, with l2sq_fold's exact arithmetic: f32→f64 exact casts, per-dim
    (a-b)·(a-b) in f64, summed LEFT-TO-RIGHT over the SUB dims
    (np.add.accumulate ≡ the fold's rounding at every step; squares are
    never -0.0 so the +0.0 zero-seed is value-neutral). argmin over the
    code axis then matches min(struct(d2, code_id)) bit-for-bit —
    first-minimum ties = lowest code_id."""
    xs = chunk64.reshape(-1, M, 1, SUB)  # (n, M, 1, SUB)
    cs = cb64.reshape(1, NCODES, M, SUB).transpose(0, 2, 1, 3)  # (1, M, NCODES, SUB)
    diff = xs - cs
    sq = diff * diff
    return np.add.accumulate(sq, axis=-1)[..., -1] + 0.0


def pq_codes_batch(vec_col: str, mat32: np.ndarray) -> Column:
    """array<int> PQ codes per vector against the DRIVER-SIDE codebook —
    Arrow-batched twin of ``pq_encode`` (bit-identical: see
    _pq_sub_dists). One Arrow pass replaces the M-way subvector explode,
    broadcast codebook join and argmin re-aggregation — no shuffle, no
    ×M·NCODES row amplification; this is the FAISS-shaped encode kernel,
    which is what a 100 TB encode job should run per partition. Codebook
    rides the task closure (4 KB; same HONEST LIMIT as
    assign_ids_batch)."""
    cb64 = mat32.astype(np.float64)

    @arrow_udf("array<int>")
    def _codes(emb: pa.Array) -> pa.Array:
        n = len(emb)
        if n == 0:
            return mat_list(np.empty((0, M), np.int32), pa.int32())
        V = list_mat(emb)  # f32→f64 exact (similarity.list_mat, r13)
        out = np.empty((n, M), dtype=np.int32)
        for lo in range(0, n, 2048):
            chunk = V[lo : lo + 2048]
            d = _pq_sub_dists(chunk, cb64)
            out[lo : lo + len(chunk)] = np.argmin(d, axis=2)
        return mat_list(out, pa.int32())

    return _codes(F.col(vec_col))


def pq_lut_batch(vec_col: str, mat32: np.ndarray) -> Column:
    """array<array<double>> ADC lookup table per probe (lut[s][code_id] =
    L2² between the probe's subvector s and code code_id) against the
    driver-side codebook — Arrow-batched twin of ``_probe_lut``,
    bit-identical via _pq_sub_dists."""
    cb64 = mat32.astype(np.float64)

    @arrow_udf("array<array<double>>")
    def _lut(emb: pa.Array) -> pa.Array:
        n = len(emb)
        if n == 0:
            inner = mat_list(np.empty((0, NCODES), np.float64), pa.float64())
            return pa.ListArray.from_arrays(pa.array([0], type=pa.int32()), inner)
        V = list_mat(emb)  # f32→f64 exact (similarity.list_mat, r13)
        out = np.empty((n, M, NCODES), dtype=np.float64)
        for lo in range(0, n, 2048):
            chunk = V[lo : lo + 2048]
            out[lo : lo + len(chunk)] = _pq_sub_dists(chunk, cb64)
        inner = mat_list(out.reshape(-1, NCODES), pa.float64())  # n·M rows
        offsets = pa.array(np.arange(0, (n + 1) * M, M, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, inner)

    return _lut(F.col(vec_col))


def _probe_lut(plut0: DataFrame) -> DataFrame:
    """(query_id, lut array<array<double>>) from the per-(probe, subspace,
    code) distance rows: ONE collect_list aggregate per probe, assembled
    into the lut[s][code_id] nesting by two array_sorts.

    Shape notes, both measured: collect_list is a TypedImperative
    aggregate → ObjectHashAggregate, no sort, and the (s, code_id, pd2)
    struct sorts give a deterministic assembly.  An M×NCODES=128-column
    conditional min(when(...)) pivot — the "one hash aggregate" shape
    used for the M=8 encode argmin (_best_code_cols) — is 5× SLOWER
    here despite the same shuffle count: Catalyst's per-column analysis
    (constraint propagation over 128 when-branches) dominates at this
    width. Column-pivot aggregates are only a win at small fixed width."""
    cells = plut0.groupBy("query_id").agg(
        F.collect_list(F.struct("s", "code_id", "pd2")).alias("cells")
    )
    per_s = F.transform(
        F.array_sort(
            F.col("cells")
        ),  # struct order (s, code_id, pd2): sorts by subspace then code
        lambda x: F.struct(x["s"].alias("s"), x["pd2"].alias("pd2")),
    )
    # split the sorted flat list into M rows of NCODES — positions are
    # deterministic after the sort, so slicing reproduces lut[s][code_id]
    return cells.select(
        "query_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(M - 1)),
            lambda j: F.transform(
                F.slice(per_s, j * NCODES + 1, NCODES), lambda x: x["pd2"]
            ),
        ).alias("lut"),
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_filter: Column | None = None,
) -> DataFrame:
    """Approximate top-k via PQ codes + per-probe ADC lookup tables.

    Output (query_id, neighbor_id, adc_dist), adc ascending with
    neighbor-id tiebreak, self excluded. The corpus side of the search
    join carries ONLY (vid, codes) — 8 small ints per vector.

    HONEST LIMIT: the per-probe LUT table (M×NCODES doubles per probe)
    broadcasts, so the probe BATCH must stay broadcast-sized (~10⁵ probes
    at these constants); larger query sets shard into sequential batches
    — the corpus-side encoded table is reused untouched across batches,
    which is the PQ serving pattern anyway.

    Encode and LUT run as Arrow kernels against the driver-side seed
    codebook (pq_codes_batch/pq_lut_batch — bit-identical to the
    relational pq_encode/_probe_lut twins, differential-tested): zero
    shuffles before the candidate join instead of three. The old
    round-robin spread() of the input is gone with them: it existed to
    parallelize the interpreted fold scoring a one-split local fixture
    ran serially, but the vectorized kernels make the serial path
    trivial (measured ~0.25s faster without the extra exchange at
    sf0.1), and warehouse-scale inputs are many-way partitioned before
    this operator ever sees them. The seed collect reads the bare
    (vid, vec) projection for the same reason — a TakeOrdered on the
    scan, not on a repartition.
    """
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    _, mat32 = seed_codebook(base, NCODES)
    codes = base.select("vid", pq_codes_batch("vec", mat32).alias("codes"))
    probes = base.filter(probe_filter) if probe_filter is not None else base
    lut = probes.select(
        F.col("vid").alias("query_id"), pq_lut_batch("vec", mat32).alias("lut")
    )
    adc = (
        codes.join(F.broadcast(lut))
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.aggregate(
                F.sequence(F.lit(1), F.lit(M)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.element_at(F.col("lut"), s),
                    F.element_at(F.col("codes"), s) + 1,
                ),
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


SQ_LEVELS = 255  # int8-style scalar quantization: codes 0..255


def sq_stats(base: DataFrame) -> DataFrame:
    """1-row (mns array<double>, scales array<double>) — per-dimension
    min and (max-min)/255 step over the corpus.

    One posexplode scan + a DIM-row hash aggregate; the result is a
    single broadcastable row (2×DIM doubles), the scalar-quantization
    "codebook". At 100 TB this is a map-side partial min/max — the
    shuffle carries DIM rows per partition.
    """
    dims = base.select(F.posexplode("vec").alias("pos", "x")).select(
        "pos", F.col("x").cast("double").alias("x")
    )
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"),
        ((F.max("x") - F.min("x")) / F.lit(float(SQ_LEVELS))).alias("sc"),
    )
    return stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sc"))), lambda s: s["sc"]
        ).alias("scales"),
    )


def _lit_array(xs: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def _sq_code(x: Column, mn: Column, sc: Column) -> Column:
    """Quantize one double to 0..255 (constant dims → 0; BOTH ends
    clamped — a frozen-codebook append can see values below the training
    min, and an unclamped floor would store negative codes outside the
    int8-style contract; FAISS SQ8 clamps symmetrically)."""
    return (
        F.when(sc == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(F.lit(SQ_LEVELS), F.floor((x - mn) / sc).cast("int")),
            )
        )
        .cast("int")
    )


def sq_encode(
    base: DataFrame,
    mns: list[float],
    scales: list[float],
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, *extra_cols, codes array<int>) — per-dim uniform quantization
    against the literal codebook. 64 B of codes per vector instead of
    256 B of float32 — the 4× memory cut that lets the working set stay
    in RAM. ``extra_cols`` ride the same projection (e.g. a coarse
    centroid_id computed upstream) so index-build callers never need a
    corpus-wide join to reattach them."""
    mn_a, sc_a = _lit_array(mns), _lit_array(scales)
    return base.select(
        "vid",
        *extra_cols,
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: _sq_code(
                F.element_at("vec", i).cast("double"),
                F.element_at(mn_a, i),
                F.element_at(sc_a, i),
            ),
        ).alias("codes"),
    )


def _sq_recon(
    codes: DataFrame,
    mns: list[float],
    scales: list[float],
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vid, *extra_cols, rv array<double>) — corpus points reconstructed
    ONCE per row (x̂_i = mn_i + (code_i + 0.5)·step_i) before any probe
    join; scoring inside the join would redo the arithmetic per PAIR,
    i.e. |probes|× redundantly (measured 2× whole-query cost at 40
    probes). Same doubles in the same order ⇒ bit-identical distances;
    the stored index still carries only (vid, codes) — the reconstruction
    is a transient projection on the scan, no shuffle."""
    mn_a, sc_a = _lit_array(mns), _lit_array(scales)
    return codes.select(
        "vid",
        *extra_cols,
        F.zip_with(
            F.col("codes"),
            F.zip_with(mn_a, sc_a, lambda mn, sc: F.struct(mn.alias("mn"), sc.alias("sc"))),
            lambda c, ms: ms["mn"] + (c + F.lit(0.5)) * ms["sc"],
        ).alias("rv"),
    )


def sq_recon_expr(vec: Column, mns: Column, scales: Column) -> Column:
    """Fused quantize→reconstruct projection (array<double>): per dim,
    x̂_i = mn_i + (code_i + 0.5)·sc_i with code_i = _sq_code's clamped
    ⌊(x_i-mn_i)/sc_i⌋ (sc_i = 0 ⇒ code 0 ⇒ x̂_i = mn_i + 0). Takes the
    codebook as COLUMNS (a crossJoined 1-row sq_stats frame), so a
    search that never stores codes runs collect-free as one action;
    bit-identical to sq_encode + _sq_recon on the same stats (same ops,
    same order — tests/test_similarity.py asserts the search parity)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: F.element_at(mns, i)
        + (
            _sq_code(
                F.element_at(vec, i).cast("double"),
                F.element_at(mns, i),
                F.element_at(scales, i),
            )
            + F.lit(0.5)
        )
        * F.element_at(scales, i),
    )


def _sq_adc_dist() -> Column:
    """Left-to-right fold over the per-dim squared (pv-rv) diffs from a
    +0.0 seed — element order matches the oracle's list_reduce.

    Reference semantics; the search paths score with ``sq_adc_dist_batch``
    below, proven bit-identical
    (tests/test_similarity.py::test_sq_adc_batch_parity)."""
    return F.aggregate(
        F.zip_with("pv", "rv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_adc_dist_batch(pv: Column, rv: Column) -> Column:
    """Arrow-batched SQ8 reconstruction distance, bit-identical to the
    ``_sq_adc_dist`` fold (and therefore to the oracle's list_reduce).

    Why bit-parity holds (same argument as similarity.dot_batch, one step
    weaker): the per-dim subtract/square here are NOT exact — pv and rv
    are full-precision doubles — but parity doesn't need exactness, only
    op-for-op replication: numpy's f64 subtract, multiply, and
    ``np.add.accumulate`` are the same correctly-rounded IEEE-754
    operations Spark and DuckDB apply, in the identical left-to-right
    order, so every intermediate rounding is identical and so is the
    final double. The trailing ``+ 0.0`` reproduces the fold's +0.0 seed
    (squares are never -0.0, but an empty-product row would be).

    Measured: at sf0.1's 80k scored pairs the batch and fold paths tie
    (interleaved A/B, 3 runs each — the query is job-floor-dominated at
    that size); the batch path is adopted for the same reason as
    dot_batch, whose 500k-pair measurement (1.8s batch vs 2.7s
    interpreted fold) is the at-scale regime where scoring dominates.
    """

    @arrow_udf("double")
    def _dists(xp: pa.Array, xr: pa.Array) -> pa.Array:
        if len(xp) == 0:
            return pa.array(np.empty(0, np.float64), type=pa.float64())
        P = list_mat(xp)  # already float64 lists — zero-copy reshape (r13)
        R = list_mat(xr)
        d = P - R
        out = np.add.accumulate(d * d, axis=1)[:, -1] + 0.0
        return pa.array(out, type=pa.float64())

    return _dists(pv, rv)


def sq_int8_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_filter: Column | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric L2 against an int8 scalar-quantized
    corpus (the SQ8 index of FAISS/Milvus): full-precision probes score
    reconstructed corpus points x̂_i = mn_i + (code_i + 0.5)·step_i.

    Complements PQ (pq_adc_topk): SQ keeps per-dimension resolution
    (256 levels/dim, 4× compression) where PQ trades resolution for 32×
    compression — the standard accuracy/memory middle rung.

    Output (query_id, neighbor_id, adc_dist), ascending, neighbor-id
    tiebreak, self excluded. Portability contract: the distance folds
    left-to-right over dims 1..DIM from a +0.0 seed (squares are never
    -0.0), so the DuckDB oracle's seedless list_reduce is bit-identical.

    Scale shape: the SQ codebook stays DECLARATIVE — sq_stats' 1-row
    (mns, scales) frame crossJoin-broadcasts onto the corpus scan, so
    the whole search is ONE Spark action with the stats pass as a
    broadcast subplan (no driver collect blocking plan construction —
    unlike the PQ/IVF kernels, nothing here needs a numpy codebook in a
    task closure). Encode and reconstruction fuse into a single
    projection (x̂_i = mn_i + (⌊(x_i-mn_i)/sc_i⌋+0.5)·sc_i — the int
    code roundtrip is kept so distances are bit-identical to scoring
    the stored codes); the corpus side of the search join carries ONLY
    the reconstructed points; probes broadcast (same probe-batch bound
    as pq_adc_topk). The former spread() repartition is dropped for the
    same reason as pq_adc_topk — its serial-scoring rationale predates
    the Arrow distance kernel.
    """
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    recon = base.crossJoin(F.broadcast(sq_stats(base))).select(
        "vid", sq_recon_expr(F.col("vec"), F.col("mns"), F.col("scales")).alias("rv")
    )
    probes = base.filter(probe_filter) if probe_filter is not None else base
    pside = probes.select(
        F.col("vid").alias("query_id"),
        F.transform("vec", lambda x: x.cast("double")).alias("pv"),
    )
    adc = (
        recon.join(F.broadcast(pside))
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            sq_adc_dist_batch(F.col("pv"), F.col("rv")).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _sq8_codebooks(raw: DataFrame, n_centroids: int):
    """Both tiny driver-side codebooks — the n lowest-id seed vectors and
    the per-dim (mns, scales) stats — in ONE Spark job: the two subplans
    union into a single (tag, vid, payload array<double>) frame and one
    collect fetches n_centroids+1 rows. Values are bit-identical to
    collecting seed_codebook and the sq_stats row separately
    (float32→double→float32 round-trips exactly; min/max are
    partitioning-invariant);
    the fusion exists because each extra action costs a full job
    dispatch (~0.2-0.4s on the local floor, one scheduler round-trip per
    probe batch at scale)."""
    seeds = (
        raw.orderBy("vid")
        .limit(n_centroids)
        .select(
            F.lit("seed").alias("tag"),
            "vid",
            F.transform("vec", lambda x: x.cast("double")).alias("payload"),
        )
    )
    stats = sq_stats(raw).select(
        F.lit("stats").alias("tag"),
        F.lit(-1).cast("long").alias("vid"),
        F.concat("mns", "scales").alias("payload"),
    )
    rows = seeds.unionByName(stats).collect()
    seed_rows = sorted((r for r in rows if r["tag"] == "seed"), key=lambda r: r["vid"])
    stat_row = next(r for r in rows if r["tag"] == "stats")
    cvids = [int(r["vid"]) for r in seed_rows]
    cmat = np.array([r["payload"] for r in seed_rows], dtype=np.float32)
    mns = list(stat_row["payload"][:DIM])
    scales = list(stat_row["payload"][DIM:])
    return cvids, cmat, mns, scales


def _sq8_ivf_lists(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
):
    """Shared IVF-SQ8 list construction for the in-memory search and the
    persisted index build: (base, assigned, cvids, cmat, mns, scales).

    The fused codebook collect reads the UN-spread projection — seeds
    and per-dim min/max are partitioning-invariant, no need to pay the
    scoring stage's round-robin shuffle again. The inverted lists
    (centroid_id, vid, codes) are built in ONE pass: the coarse
    assignment is a projection alongside the codes (Arrow kernel +
    Column transform in the same scan), never a corpus-wide vid join
    between two derived frames (the original shape: one shuffle of the
    whole corpus + a second scan, ~1s slower at sf0.1 and a full
    repartition at 10^9 vectors). No spread() repartition either —
    same stale-rationale removal as pq_adc_topk/sq_int8_topk: the
    assignment/encode work is vectorized Arrow + codegen'd Columns,
    trivial on a one-split local fixture and already-parallel on
    many-way warehouse inputs."""
    raw = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    base = raw
    cvids, cmat, mns, scales = _sq8_codebooks(raw, n_centroids)
    with_cid = base.select(
        "vid",
        "vec",
        assign_ids_batch("vec", cvids, cmat)["assigns"][0].alias("centroid_id"),
    )
    assigned = sq_encode(with_cid, mns, scales, extra_cols=("centroid_id",))
    return base, assigned, cvids, cmat, mns, scales


def ivf_sq8_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    probe_filter: Column | None = None,
    index_cache_key=None,
) -> DataFrame:
    """IVF + SQ8 composition (V8) — the pruned counterpart of
    ``sq_int8_topk``, exactly as ``ivf_pq_topk`` prunes ``pq_adc_topk``:
    the IVF coarse quantizer restricts each probe to ``nprobe`` inverted
    lists of (vid, 64 int8 codes) BEFORE the reconstruction-distance
    scoring, so per-probe work drops from O(N) (the linear quantized scan
    flagged in SCALING.md) to O(N·nprobe/n_centroids) — with
    n_centroids ∝ √N the scored set stays flat as the corpus grows.
    This is FAISS's IVF_SQ8 index layout: 4× compression per list entry
    AND sublinear probes.

    Coarse centroids = the n_centroids lowest-id seed vectors (same
    deterministic, oracle-reproducible seeding as ivf_pq_topk; coarse
    assignment is the shuffle-free ``assign_ids_batch`` Arrow kernel).
    The SQ codebook is 2×DIM driver-side
    literals (collected in the fused _sq8_codebooks job); candidates join
    on centroid_id; probes broadcast (same probe-batch bound as
    pq_adc_topk).

    Output (query_id, neighbor_id, adc_dist) — top-k ascending per probe,
    neighbor-id tiebreak, self excluded; distances bit-identical to the
    exhaustive SQ8 scan on the surviving pairs (same fold, same doubles).
    """
    from open_data_lakehouse_demo_spark.sources.io import materialize, session_cached

    def build(cached: bool) -> tuple:
        base, assigned, *codebooks = _sq8_ivf_lists(df, id_col, vec_col, n_centroids)
        return (base, materialize(assigned) if cached else assigned, *codebooks)

    # Optional session-scoped index reuse (the ``ivf_index`` cache, same
    # contract as ivf_topk's; build_sq8_ivf_index_logged is the persisted form):
    # the encoded + coarse-assigned lists and the collected codebooks are
    # immutable for a given corpus — build once, search repeatedly. The
    # cached assigned table is materialized so warm searches read blocks
    # instead of re-running the encode/assign pass. The key composes in
    # n_centroids, which the structures bake in, so a same-corpus call
    # with a different list count can never silently reuse a mismatched
    # index (r9 review finding).
    base, assigned, cvids, cmat, mns, scales = (
        build(False) if index_cache_key is None else session_cached(
            df.sparkSession, "ivf_index", (index_cache_key, n_centroids),
            lambda: build(True),
        )
    )
    lists = _sq_recon(assigned, mns, scales, extra_cols=("centroid_id",))
    probes = base.filter(probe_filter) if probe_filter is not None else base
    probe_side = probes.select(
        F.col("vid").alias("query_id"),
        F.explode(assign_ids_batch("vec", cvids, cmat, nprobe)["assigns"]).alias(
            "centroid_id"
        ),
        F.transform("vec", lambda x: x.cast("double")).alias("pv"),
    )
    adc = (
        lists.join(F.broadcast(probe_side), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            sq_adc_dist_batch(F.col("pv"), F.col("rv")).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


# The SQ8 index meta row, in ONE place each way: build/search/append all
# go through these two helpers so a schema change (e.g. a version field)
# cannot leave the paths silently disagreeing (r9 review finding).
_SQ8_META_SCHEMA = (
    "mns ARRAY<DOUBLE>, scales ARRAY<DOUBLE>, "
    "cvids ARRAY<BIGINT>, cmat ARRAY<ARRAY<DOUBLE>>"
)


def _sq8_meta_df(spark, mns, scales, cvids, cmat) -> DataFrame:
    return spark.createDataFrame(
        [(mns, scales, [int(v) for v in cvids],
          [[float(x) for x in row] for row in cmat])],
        _SQ8_META_SCHEMA,
    )


def _sq8_unpack_meta(meta) -> tuple[list, list, list, np.ndarray]:
    return (
        list(meta["mns"]),
        list(meta["scales"]),
        [int(v) for v in meta["cvids"]],
        np.array([list(r) for r in meta["cmat"]], dtype=np.float32),
    )


def _search_sq8_lists(
    lists: DataFrame,
    meta,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    exclude_self: bool,
) -> DataFrame:
    """IVF-SQ8 search core over an already-loaded lists relation + meta
    row (search_sq8_ivf_index_logged). Scale shape: the meta row and the
    probed centroid ids are the only driver-side materializations
    (≤ n_centroids + a few KB, independent of corpus size); the probed
    ids become a literal IN filter on the lists' partition column, so
    only nprobe/n_centroids of the index files are read."""
    from open_data_lakehouse_demo_spark.sources.io import materialize

    mns, scales, cvids, cmat = _sq8_unpack_meta(meta)
    # materialized: the probe assignment (Arrow kernel + probe scan) is
    # consumed TWICE — by the probe_cids collect deriving the partition
    # filter, and by the broadcast side of the ADC join — and without a
    # reuse point Spark re-runs the whole encode lineage in the final
    # action (r9 review finding; same discipline as ivf_topk's assigned
    # table)
    probe_side = materialize(
        probes.select(
            F.col(id_col).alias("query_id"),
            F.explode(assign_ids_batch(vec_col, cvids, cmat, nprobe)["assigns"]).alias(
                "centroid_id"
            ),
            F.transform(vec_col, lambda x: x.cast("double")).alias("pv"),
        )
    )
    probe_cids = sorted(
        r["centroid_id"] for r in probe_side.select("centroid_id").distinct().collect()
    )
    lists = lists.filter(F.col("centroid_id").isin(probe_cids))
    recon = _sq_recon(lists, mns, scales, extra_cols=("centroid_id",))
    adc = recon.join(F.broadcast(probe_side), "centroid_id")
    if exclude_self:
        adc = adc.filter(F.col("vid") != F.col("query_id"))
    adc = adc.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        sq_adc_dist_batch(F.col("pv"), F.col("rv")).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def build_sq8_ivf_index_logged(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> int:
    """Persist the IVF-SQ8 index as a SNAPSHOT-VERSIONED logged table
    pair (sources/table_log.py): build once, search many — the workflow
    the per-query index construction in ``ivf_sq8_topk`` only simulates
    (at 10⁹ vectors the encode+assign pass is the expensive step) — plus
    the table-format contracts a production index store needs: atomic
    visibility of each maintenance batch, time-travel searches against
    any prior index version, exactly-once streaming appends, compaction.

      {path}/lists  logged table PARTITIONED BY centroid_id
                    (vid, codes, centroid_id); a search's nprobe lists
                    prune at FILE level via the manifest's partition
                    bounds + hive pruning;
      {path}/meta   logged 1-row table — the frozen SQ codebook and
                    coarse centroids (snapshot 0 forever: codebooks are
                    immutable once trained; retraining is a REBUILD, the
                    standard IVF maintenance contract).

    Returns the lists table's initial snapshot id (0)."""
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    _, assigned, cvids, cmat, mns, scales = _sq8_ivf_lists(
        df, id_col, vec_col, n_centroids
    )
    spark = df.sparkSession
    meta = _sq8_meta_df(spark, mns, scales, cvids, cmat)
    tl.create(spark, f"{path}/meta", meta)
    return tl.create(spark, f"{path}/lists", assigned, partition_by=["centroid_id"])


def append_sq8_ivf_index_logged(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: tuple[str, int] | None = None,
) -> int:
    """Incremental index maintenance: encode a NEW vector batch with the
    FROZEN codebooks (assign + SQ8, the same kernels as the build) and
    append it to the lists table as ONE atomic snapshot — per-batch work
    scales with the batch, searches see the old or the new index, never
    a mix, and ``txn=(writer, version)`` makes a replayed streaming
    micro-batch a no-op (exactly-once, the table_log.append contract).
    Returns the new lists snapshot id."""
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    meta = tl.read(spark, f"{path}/meta").first()
    mns, scales, cvids, cmat = _sq8_unpack_meta(meta)
    raw = new_df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    with_cid = raw.select(
        "vid",
        "vec",
        assign_ids_batch("vec", cvids, cmat)["assigns"][0].alias("centroid_id"),
    )
    assigned = sq_encode(with_cid, mns, scales, extra_cols=("centroid_id",))
    return tl.append(spark, f"{path}/lists", assigned, txn=txn)


def search_sq8_ivf_index_logged(
    spark,
    path: str,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
    snapshot: int | None = None,
) -> DataFrame:
    """Search a versioned IVF-SQ8 index at any snapshot (default latest):
    ``snapshot`` pins the lists manifest, so 'what did this query return
    before yesterday's ingest?' is a first-class, reproducible question.
    Bit-identical to ``ivf_sq8_topk`` over the same corpus and
    parameters: codes, codebook, coarse assignment, reconstruction and
    the Arrow scoring kernel are the same arithmetic — only WHERE the
    lists come from differs; the probed lists prune at file level via
    the pinned manifest's partition values."""
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    meta = tl.read(spark, f"{path}/meta").first()
    lists = tl.read(spark, f"{path}/lists", snapshot=snapshot)
    return _search_sq8_lists(lists, meta, probes, id_col, vec_col, k, nprobe, exclude_self)


def ivf_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    probe_filter: Column | None = None,
    index_cache_key=None,
) -> DataFrame:
    """IVF + PQ composition — the billion-vector full-corpus search path.

    Exhaustive ADC (pq_adc_topk) scores every encoded vector per probe:
    per-probe O(N). Composing the IVF coarse quantizer in front prunes
    the corpus side to the probe's ``nprobe`` inverted lists BEFORE the
    LUT join, so per-probe work is O(N·nprobe/n_centroids) — with
    n_centroids ∝ √N (the FAISS heuristic) the scored set stays flat as
    the corpus grows. This is the standard IVFPQ index layout: the
    inverted lists store (vid, 8 codes) — 8 small ints per vector.

    Both the coarse centroids and the PQ codes derive from the same
    NCODES lowest-id seed vectors (deterministic, oracle-reproducible;
    trained sub-codebooks would slot into the same literal kernels).
    The candidate join is an equi-join on centroid_id; probe LUTs
    broadcast (same probe-batch bound as pq_adc_topk).

    Output (query_id, neighbor_id, adc_dist) — top-k by ADC per probe,
    neighbor-id tiebreak, self excluded.
    """
    # plain (vid, vec) scan: no norm column or checkpoint is needed —
    # assign_ids_batch derives the fold norms inside the kernel.
    # No spread() either (r9): its serial-fold-scoring rationale predates
    # the Arrow kernels — same removal pq_adc_topk/_sq8_ivf_lists made
    # (the seed collect becomes a TakeOrdered on the scan, not on a
    # repartition, and local runs drop a round-robin exchange).
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    # one driver-side seed collect serves the coarse quantizer AND the PQ
    # sub-codebooks (both are NCODES-lowest-id constructions); every
    # per-vector stage below is then a shuffle-free Arrow kernel against
    # literals — coarse assign (assign_ids_batch), encode
    # (pq_codes_batch ≡ pq_encode),
    # probe LUTs (pq_lut_batch ≡ _probe_lut). The only shuffle left is
    # the centroid_id candidate equi-join itself.
    # Session-scoped index reuse (the ``ivf_index`` cache, same contract
    # as ivf_sq8_topk, n_centroids composed into the key): the seed
    # codebooks and the encoded inverted lists are immutable per corpus
    # — build once, search repeatedly; cached lists materialize so warm
    # searches read blocks instead of re-encoding.
    from open_data_lakehouse_demo_spark.sources.io import materialize, session_cached

    def build(cached: bool) -> tuple:
        cvids, cmat = seed_codebook(base, max(NCODES, n_centroids))
        cvids, cmat_coarse = cvids[:n_centroids], cmat[:n_centroids]
        pq_mat = cmat[:NCODES]

        # inverted lists: (centroid_id, vid, codes) — 8 small ints per vector
        lists = base.select(
            assign_ids_batch("vec", cvids, cmat_coarse)["assigns"][0].alias("centroid_id"),
            "vid",
            pq_codes_batch("vec", pq_mat).alias("codes"),
        )
        return (base, materialize(lists) if cached else lists, cvids, cmat_coarse, pq_mat)

    base, lists, cvids, cmat_coarse, pq_mat = (
        build(False) if index_cache_key is None else session_cached(
            df.sparkSession, "ivf_index", (index_cache_key, n_centroids),
            lambda: build(True),
        )
    )

    probes = base.filter(probe_filter) if probe_filter is not None else base
    # explode duplicates the already-computed LUT across the probe's
    # nprobe lists (array order = assignment rank, as the window ranked)
    probe_side = probes.select(
        F.col("vid").alias("query_id"),
        F.explode(assign_ids_batch("vec", cvids, cmat_coarse, nprobe)["assigns"]).alias(
            "centroid_id"
        ),
        pq_lut_batch("vec", pq_mat).alias("lut"),
    )
    adc = (
        lists.join(F.broadcast(probe_side), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.aggregate(
                F.sequence(F.lit(1), F.lit(M)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(
                    F.element_at(F.col("lut"), s),
                    F.element_at(F.col("codes"), s) + 1,
                ),
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")
