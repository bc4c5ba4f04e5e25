"""Query inventory — vector similarity suite (beyond-reference operators).

Registers operators/similarity.py over the ``embeddings`` testdata table.
Oracles replicate the exact fold-order arithmetic (see the portability
contract in operators/similarity.py), so comparisons are bit-exact.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.operators import similarity as sim
from open_data_lakehouse_demo_spark.plans.inventory import query, t
from open_data_lakehouse_demo_spark.sources.io import clear_session_cache, materialize, session_cached

_PROBE_MOD = 50  # probe set = vec_id % 50 == 0 (deterministic query batch)
_K = 5
_NEAR_DUP_THRESHOLD = 0.3


def _dot(x: str, y: str) -> str:
    """DuckDB sequential-fold dot product fragment (mirrors _dot_fold)."""
    return (
        f"list_reduce(list_transform(range(1, {sim.DIM + 1}), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), (a, b) -> a + b)"
    )


_BASE_SQL = f"""
base AS (
  SELECT vec_id AS vid, embedding AS vec, sqrt({_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
"""

_BRUTE_FORCE_ORACLE = f"""
WITH {_BASE_SQL},
probes AS (SELECT vid AS query_id, vec AS qvec, nrm AS qnrm FROM base WHERE vid % {_PROBE_MOD} = 0),
pairs AS (
  SELECT p.query_id, b.vid AS neighbor_id,
         {_dot('p.qvec', 'b.vec')} / (p.qnrm * b.nrm) AS cosine
  FROM probes p JOIN base b ON b.vid <> p.query_id
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {_K}
"""

_IVF_ORACLE = f"""
WITH {_BASE_SQL},
cents AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
scored AS (
  SELECT b.vid, b.vec, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
assign1 AS (
  SELECT centroid_id, vid, vec, nrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
passign AS (
  SELECT centroid_id, vid AS query_id, vec AS qvec, nrm AS qnrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         MAX({_dot('p.qvec', 'a.vec')} / (p.qnrm * a.nrm)) AS cosine
  FROM passign p JOIN assign1 a USING (centroid_id)
  WHERE a.vid <> p.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand
) WHERE rn <= {_K}
"""


def _bucket_sql(table: int) -> str:
    """DuckDB band-table bucket fragment (mirrors lsh_bucket/_hyperplane)."""
    bits = " + ".join(
        f"(CASE WHEN list_reduce(list_transform(range(1, {sim.DIM + 1}), "
        f"i -> CAST(vec[i] AS DOUBLE) * CAST((({sim.LCG_MUL} * "
        f"({(table * sim.BITS_PER_TABLE + j) * sim.DIM} + (i - 1)) + {sim.LCG_ADD}) "
        f"% {sim.LCG_MOD}) - {sim.LCG_SHIFT} AS DOUBLE)), (a, b) -> a + b) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(sim.BITS_PER_TABLE)
    )
    return f"SELECT vid, {table} AS table_id, CAST({bits} AS BIGINT) AS bucket FROM base"

_LSH_NEAR_DUP_ORACLE = f"""
WITH {_BASE_SQL},
buckets AS ({' UNION ALL '.join(_bucket_sql(t_) for t_ in range(sim.N_TABLES))}),
cands AS (
  SELECT DISTINCT x.vid AS vec_a, y.vid AS vec_b
  FROM buckets x JOIN buckets y
    ON x.table_id = y.table_id AND x.bucket = y.bucket AND x.vid < y.vid
)
SELECT c.vec_a, c.vec_b,
       {_dot('a.vec', 'b.vec')} / (a.nrm * b.nrm) AS cosine
FROM cands c JOIN base a ON c.vec_a = a.vid JOIN base b ON c.vec_b = b.vid
WHERE {_dot('a.vec', 'b.vec')} / (a.nrm * b.nrm) >= {_NEAR_DUP_THRESHOLD}
"""


@query(
    "cosine_topk_bruteforce",
    ("V1",),
    oracle=_BRUTE_FORCE_ORACLE,
    tags=("similarity",),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors per probe vector (probe batch broadcast
    against the streaming corpus — operators/similarity.py)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") % _PROBE_MOD == 0), k=_K
    )


@query(
    "cosine_topk_ivf",
    ("V2",),
    oracle=_IVF_ORACLE,
    tags=("similarity",),
)
def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-5: 16-list coarse quantizer, nprobe=2
    (operators/similarity.py — the 10^9-vector scale path)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb,
        k=_K,
        n_centroids=16,
        nprobe=2,
        probe_filter=F.col("vid") % _PROBE_MOD == 0,
    )


@query(
    "embedding_near_dup_lsh",
    ("V3", "DD5"),
    oracle=_LSH_NEAR_DUP_ORACLE,
    tags=("similarity", "dedup"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: sign-random-projection LSH candidates
    (4 tables × 16 bits — width chosen so random collisions stay
    output-sized at scale, see operators/similarity.py), exact-cosine
    verification ≥ 0.3."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.lsh_near_dup_pairs(emb, threshold=_NEAR_DUP_THRESHOLD)


def _ivf_kmeans_oracle(n_rounds: int) -> str:
    """FIXED-count Lloyd refinement unrolls into plain SQL: each round is
    the same assignment (fold-cosine argmax, centroid-id tiebreak) +
    per-element AVG re-centering CAST to REAL + empty-cluster carry
    (COALESCE), chained ``n_rounds`` times, then the standard IVF search
    against the final codebook. This is what promoted the 3-round
    trained-IVF query from rows-only to hash-checked in r7 — 'iterative'
    only rules out SQL when the round count is data-dependent. Shares
    kmeans1's f32-boundary flake analysis (per-round f32 casts absorb
    the engines' f64 summation-association differences except ~2^-29
    boundary landings, now ~n_rounds times the exposure)."""
    rounds = []
    for r in range(1, n_rounds + 1):
        prev = "c0" if r == 1 else f"cents{r - 1}"
        rounds.append(f"""
scored{r} AS (
  SELECT b.vid, b.vec, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN {prev} c
),
assign{r} AS (
  SELECT centroid_id, vid, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored{r}
  ) WHERE rn = 1
),
means{r} AS (
  SELECT centroid_id, i, CAST(AVG(CAST(vec[i] AS DOUBLE)) AS REAL) AS m
  FROM assign{r} CROSS JOIN range(1, {sim.DIM + 1}) t(i)
  GROUP BY centroid_id, i
),
newvecs{r} AS (
  SELECT centroid_id, list(m ORDER BY i) AS nvec FROM means{r} GROUP BY centroid_id
),
cents{r} AS (
  SELECT c.centroid_id,
         COALESCE(n.nvec, c.cvec) AS cvec,
         sqrt({_dot('COALESCE(n.nvec, c.cvec)', 'COALESCE(n.nvec, c.cvec)')}) AS cnrm
  FROM {prev} c LEFT JOIN newvecs{r} n USING (centroid_id)
)""".strip())
    final = f"cents{n_rounds}"
    return f"""
WITH {_BASE_SQL},
c0 AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
{",".join(rounds)},
fscored AS (
  SELECT b.vid, b.vec, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN {final} c
),
fassign AS (
  SELECT centroid_id, vid, vec, nrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM fscored
  ) WHERE rn = 1
),
passign AS (
  SELECT centroid_id, vid AS query_id, vec AS qvec, nrm AS qnrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM fscored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         MAX({_dot('p.qvec', 'a.vec')} / (p.qnrm * a.nrm)) AS cosine
  FROM passign p JOIN fassign a USING (centroid_id)
  WHERE a.vid <> p.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand
) WHERE rn <= {_K}
"""


@query(
    "cosine_topk_ivf_kmeans",
    ("V2",),
    oracle=_ivf_kmeans_oracle(3),
    tags=("similarity",),
)
def cosine_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat top-5 with a TRAINED codebook: 3 rounds of distributed
    Lloyd's k-means (operators/similarity.py _kmeans_train) replace the
    sampled lowest-id quantizer — the production IVF training step.
    Hash-checked since r7: a FIXED round count unrolls into plain SQL
    (_ivf_kmeans_oracle), so the full 3-round refinement gets the DuckDB
    differential too; centroid math additionally numpy-cross-checked in
    tests/test_similarity.py."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb,
        k=_K,
        n_centroids=16,
        nprobe=2,
        probe_filter=F.col("vid") % _PROBE_MOD == 0,
        # train INSIDE ivf_topk so one corpus scan feeds training and the
        # assignment pass; the trained index is session-cached (built
        # once, searched repeatedly)
        train_iterations=3,
        index_cache_key=(sf_dir, 3, 16, 2),
    )


# One full Lloyd round in SQL: init = 16 lowest-id vectors, assign every
# vector by fold-cosine argmax (NaN sorts greatest in both engines,
# centroid-id tiebreak), per-element AVG re-centering CAST to REAL (f32 —
# absorbs the engines' f64 summation-association differences), empty
# clusters keep their init centroid, then the standard IVF search against
# the retrained codebook.  Mirrors _kmeans_train(n_iterations=1) +
# the literal-path search in ivf_topk.
_IVF_KMEANS1_ORACLE = f"""
WITH {_BASE_SQL},
c0 AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
scored0 AS (
  SELECT b.vid, b.vec, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN c0 c
),
assign0 AS (
  SELECT centroid_id, vid, vec FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored0
  ) WHERE rn = 1
),
means AS (
  SELECT centroid_id, i, CAST(AVG(CAST(vec[i] AS DOUBLE)) AS REAL) AS m
  FROM assign0 CROSS JOIN range(1, {sim.DIM + 1}) t(i)
  GROUP BY centroid_id, i
),
newvecs AS (
  SELECT centroid_id, list(m ORDER BY i) AS nvec FROM means GROUP BY centroid_id
),
cents AS (
  SELECT c.centroid_id,
         COALESCE(n.nvec, c.cvec) AS cvec,
         sqrt({_dot('COALESCE(n.nvec, c.cvec)', 'COALESCE(n.nvec, c.cvec)')}) AS cnrm
  FROM c0 c LEFT JOIN newvecs n USING (centroid_id)
),
scored AS (
  SELECT b.vid, b.vec, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
assign1 AS (
  SELECT centroid_id, vid, vec, nrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
passign AS (
  SELECT centroid_id, vid AS query_id, vec AS qvec, nrm AS qnrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         MAX({_dot('p.qvec', 'a.vec')} / (p.qnrm * a.nrm)) AS cosine
  FROM passign p JOIN assign1 a USING (centroid_id)
  WHERE a.vid <> p.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand
) WHERE rn <= {_K}
"""


_RECALL_ORACLE = f"""
WITH bf AS ({_BRUTE_FORCE_ORACLE}),
ivf AS ({_IVF_ORACLE}),
hits AS (
  SELECT bf.query_id, COUNT(*) AS n
  FROM bf JOIN ivf ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
  GROUP BY 1
)
SELECT q.query_id, COALESCE(h.n, 0) AS n_hits,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / {_K} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN hits h USING (query_id)
"""


@query(
    "cosine_topk_ivf_kmeans1",
    ("V2",),
    oracle=_IVF_KMEANS1_ORACLE,
    tags=("similarity",),
)
def cosine_topk_ivf_kmeans1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF top-5 with EXACTLY one Lloyd re-centering round — the
    driver-verifiable twin of cosine_topk_ivf_kmeans: one round of
    assignment + per-element mean IS SQL-expressible, so the k-means
    update step itself gets a DuckDB hash check (multi-round refinement
    stays rows-only by nature).  The f32 cast of the re-centered
    codebook absorbs f64 summation-association differences between the
    engines' AVG implementations — except when a mean element lands
    exactly on an f32 rounding boundary (~2^-29 per element, ~2e-6 per
    run over the 16×64 codebook): a residual, quantified flake risk
    accepted for getting the update step under the hash gate at all."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb,
        k=_K,
        n_centroids=16,
        nprobe=2,
        probe_filter=F.col("vid") % _PROBE_MOD == 0,
        train_iterations=1,
        index_cache_key=(sf_dir, 1, 16, 2),
    )


_SWEEP_NPROBES = (1, 2, 4)
# The fixed level ann_recall_eval reads off the shared arm; it MUST be a
# swept level (the eval consumes that level's cum_{n} column), so editing
# _SWEEP_NPROBES can never silently change — or break — the eval.
_EVAL_NPROBE = 2
assert _EVAL_NPROBE in _SWEEP_NPROBES

clear_ivf_index_cache = partial(clear_session_cache, "ivf_index")


def _ann_ranked_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared recall-eval substrate: every probe×corpus cosine pair,
    annotated under ONE (cosine DESC, neighbor) window sort with
      bf_rn      — exact brute-force rank,
      pair_rank  — rank of the probe's inverted list that would admit the
                   pair (NULL = outside every swept list),
      cum_{np}   — running count of pairs admitted at nprobe=np (the IVF
                   top-k at level np is exactly the first K such pairs).
    Covers every level in _SWEEP_NPROBES, so a fixed-level eval is a
    predicate over the same table (member at nprobe=_EVAL_NPROBE ≡
    pair_rank <= _EVAL_NPROBE).

    This is the raw LINEAGE (one window pass over the pair fan-out) —
    plan-asserted by tools/gen_plans.py as `ann_ranked_pairs_arm`;
    consumers go through _ann_ranked_pairs, which materializes and caches
    it per (application, sf_dir).

    Assignment is the IVF operators' own: the 16-seed codebook
    (sim.seed_codebook) ranked by sim.rank_codebook — on the driver for
    the collected probe batch (each probe's top-max(_SWEEP_NPROBES)
    lists, and its fold norm), and by the sim.assign_ids_batch kernel in
    the same corpus projection as the pair fan-out (each neighbour's one
    list, assigns[0], and its fold norm). No assignment join, no argmax
    aggregate, no probe-side window.

    HONEST LIMIT (eval harness only): the probe set is corpus-proportional
    under the vid % _PROBE_MOD filter and rides the plan as literals —
    acceptable here because the brute-force ground-truth arm is ALREADY
    |probes|·n work, so the eval batch must be small for the measurement
    to be feasible at all; a production tuning run samples a fixed-size
    probe batch. The materialized table keeps only the 3+3 small rank
    columns — vectors and cosines are dropped before storage."""
    import numpy as np
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    raw = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    cvids, cmat = sim.seed_codebook(raw, 16)
    # bounded collect (same guard as brute_force_topk): the arm's probe
    # batch must stay driver-sized; fail loudly beyond the cap instead of
    # OOMing the driver
    p_rows = sorted(
        raw.filter(F.col("vid") % _PROBE_MOD == 0)
        .limit(sim._PROBE_COLLECT_CAP + 1)
        .collect(),
        key=lambda r: r["vid"],
    )
    if len(p_rows) > sim._PROBE_COLLECT_CAP:
        raise ValueError(
            f"ann ground-truth arm probe batch exceeds "
            f"{sim._PROBE_COLLECT_CAP} rows; sample a bounded probe batch "
            "for recall evaluation"
        )
    pmat32 = np.array([r["vec"] for r in p_rows], dtype=np.float32)
    ptop, pnrm = sim.rank_codebook(
        pmat32.astype(np.float64), cmat, max(_SWEEP_NPROBES)
    )
    qvids = F.lit([int(r["vid"]) for r in p_rows])
    qnrms = F.lit([float(x) for x in pnrm])  # ≡ the JVM norm() fold
    qlists = F.lit(np.array(cvids, dtype=np.int64)[ptop].tolist())
    # each corpus vector crosses the Arrow boundary once per kernel: its
    # P-wide exact-fold dot array against the probe matrix, and its list
    # id + fold norm; the pair rows are reconstituted JVM-side from the
    # literal probe arrays (division and ranking byte-identical to the
    # join form — probe_dots_batch / assign_ids_batch parity). The
    # assignment gets its own projection below the generator: beside
    # posexplode Spark evaluates it after the Generate, once per PAIR.
    pidx = F.col("pidx") + 1
    pos = F.array_position(F.element_at(qlists, pidx), F.col("ncid"))
    ann = (
        raw.select("vid", "vec", sim.assign_ids_batch("vec", cvids, cmat).alias("an"))
        .select(
            "vid",
            "an",
            F.posexplode(sim.probe_dots_batch("vec", pmat32)).alias("pidx", "dot"),
        )
        .select(
            F.element_at(qvids, pidx).alias("query_id"),
            F.col("vid").alias("neighbor_id"),
            (F.col("dot") / (F.element_at(qnrms, pidx) * F.col("an.nrm"))).alias("cosine"),
            "pidx",
            F.col("an.assigns")[0].alias("ncid"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # 1-based position of the neighbour's list among the probe's
        # lists; array_position's 0 (absent) must become NULL, or it
        # would pass every pair_rank <= np test
        .select(
            "query_id", "neighbor_id", "cosine",
            F.when(pos > 0, pos).cast("int").alias("pair_rank"),
        )
    )
    wo = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    cols = [
        "query_id",
        "pair_rank",
        F.row_number().over(wo).alias("bf_rn"),
    ] + [
        F.sum(F.when(F.col("pair_rank") <= np_, 1).otherwise(0))
        .over(wcum)
        .alias(f"cum_{np_}")
        for np_ in _SWEEP_NPROBES
    ]
    return ann.select(*cols)


def _ann_ranked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view of _ann_ranked_pairs_plan in the ``ann_ranked``
    session cache: ann_recall_eval and ann_recall_sweep consume the SAME
    ground-truth arm (the brute-force pair fan-out + one window sort is
    ~90% of either query's cost), so a session running both pays for it
    once. The one-time build is the dominant cost (~4.6s at sf0.1); each
    consumer read is then ~0.3s — recorded in BENCH_VS_DUCK.md so
    steady-state medians aren't read as cold cost."""
    return session_cached(
        spark, "ann_ranked", sf_dir,
        lambda: materialize(_ann_ranked_pairs_plan(spark, sf_dir)),
    )


@query(
    "ann_recall_eval",
    ("V4", "PIPE2"),
    oracle=_RECALL_ORACLE,
    tags=("similarity", "eval"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF scale path against the exact brute-force
    baseline, per probe — the eval harness every ANN deployment needs
    before trading recall for speed (nprobe/n_centroids tuning).

    Single-pass formulation over the SHARED annotated pair table
    (_ann_ranked_pairs — one (cosine DESC, neighbor) window computes the
    exact rank and every IVF-level rank simultaneously, reused by
    ann_recall_sweep): at nprobe=_EVAL_NPROBE a pair is list-admitted iff
    pair_rank <= _EVAL_NPROBE, the IVF top-k is the first K admitted
    pairs (cum_{_EVAL_NPROBE} <= K), and a hit is a pair inside both
    top-Ks — one groupBy, no second window sort and no top-k×top-k
    self-join. Both rankings share deterministic tiebreaks, so recall is
    exact and engine-portable."""
    ranked = _ann_ranked_pairs(spark, sf_dir)
    hits = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                (F.col("bf_rn") <= _K)
                & (F.col("pair_rank") <= _EVAL_NPROBE)
                & (F.col(f"cum_{_EVAL_NPROBE}") <= _K),
                1,
            ).otherwise(0)
        ).alias("n")
    )
    # probe list from the cheap filter, NOT a distinct over the ranked
    # lineage. Every probe has ≥1 pair on a >1-row corpus, but a probe
    # can have 0 HITS — keep the left join + coalesce.
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % _PROBE_MOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    return probes.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n", F.lit(0)).alias("n_hits"),
        (F.coalesce("n", F.lit(0)).cast("double") / _K).alias("recall_at_k"),
    )


def _sweep_oracle() -> str:
    cums = ",\n         ".join(
        f"SUM(CASE WHEN pair_rank <= {np} THEN 1 ELSE 0 END) OVER "
        f"(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_{np}"
        for np in _SWEEP_NPROBES
    )
    levels = " UNION ALL ".join(
        f"SELECT {np} AS nprobe, n_probes, "
        f"CAST(SUM(CASE WHEN bf_rn <= {_K} AND pair_rank <= {np} "
        f"AND cum_{np} <= {_K} THEN 1 ELSE 0 END) AS DOUBLE) "
        f"/ ({_K} * n_probes) AS mean_recall FROM ann GROUP BY n_probes"
        for np in _SWEEP_NPROBES
    )
    return f"""
WITH {_BASE_SQL},
probes AS (SELECT vid AS query_id, vec AS qvec, nrm AS qnrm FROM base WHERE vid % {_PROBE_MOD} = 0),
pairs AS (
  SELECT p.query_id, b.vid AS neighbor_id,
         {_dot('p.qvec', 'b.vec')} / (p.qnrm * b.nrm) AS cosine
  FROM probes p JOIN base b ON b.vid <> p.query_id
),
cents AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
scored AS (
  SELECT b.vid, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
corpus_cid AS (
  SELECT vid AS neighbor_id, centroid_id AS ncid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
probe_cids AS (
  SELECT vid AS query_id, centroid_id AS qcid, rn AS crank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= {max(_SWEEP_NPROBES)}
),
ann AS (
  SELECT query_id, neighbor_id, cosine, pair_rank,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS bf_rn,
         {cums},
         COUNT(DISTINCT query_id) OVER () AS n_probes
  FROM (
    SELECT x.query_id AS query_id, x.neighbor_id, x.cosine, pc.crank AS pair_rank
    FROM pairs x
    JOIN corpus_cid cc USING (neighbor_id)
    LEFT JOIN probe_cids pc ON pc.query_id = x.query_id AND pc.qcid = cc.ncid
  )
)
{levels}
"""


@query(
    "ann_recall_sweep",
    ("V4", "PIPE2"),
    oracle=_sweep_oracle(),
    tags=("similarity", "eval"),
)
def ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe tuning curve in ONE pair pass: every scored
    probe×corpus pair is annotated with the rank of the probe list that
    would admit it (pair_rank), and each sweep level's top-k membership
    falls out of a cumulative conditional count over the SAME
    (cosine DESC, neighbor) sort — one window sort serves the exact
    ranking and all nprobe levels simultaneously, instead of re-running
    an IVF plan per level.  Output: (nprobe, n_probes, mean_recall) —
    the curve an ANN deployment reads to pick its recall/latency point.

    Portability: hit counts are exact integers; mean_recall is one
    mirrored division.  Scale: the single pair fan-out is eval-arm-sized
    (brute-force ground truth is inherent to recall measurement); the
    window partitions by query_id — many small sorts, never global.
    The annotated table itself comes from _ann_ranked_pairs — built and
    materialized ONCE per (session, sf_dir) and shared with
    ann_recall_eval."""
    ann = _ann_ranked_pairs(spark, sf_dir)
    # ONE aggregation computes every sweep level's hit count plus the
    # probe count, then a stack() generator unpivots the 1-row result —
    # a per-level `ann.agg(...)` union would re-execute the pair-fanout
    # + window subtree once per level (4× here; measured 2.45s → the
    # fused form drops the three redundant passes).
    hit_cols = [
        F.sum(
            F.when(
                (F.col("bf_rn") <= _K)
                & (F.col("pair_rank") <= np_)
                & (F.col(f"cum_{np_}") <= _K),
                1,
            ).otherwise(0)
        ).alias(f"hits_{np_}")
        for np_ in _SWEEP_NPROBES
    ]
    one = ann.agg(*hit_cols, F.count_distinct("query_id").alias("n_probes"))
    stack_args = ", ".join(f"{np_}, hits_{np_}" for np_ in _SWEEP_NPROBES)
    return one.selectExpr(
        f"stack({len(_SWEEP_NPROBES)}, {stack_args}) AS (nprobe, hits)",
        "n_probes",
    ).select(
        "nprobe",
        "n_probes",
        (
            F.col("hits").cast("double") / (F.lit(_K) * F.col("n_probes"))
        ).alias("mean_recall"),
    )


# ---------------------------------------------------------------------------
# DD10 — SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

_SEMANTIC_THRESHOLD = 0.25

_SEMANTIC_DEDUP_ORACLE = f"""
WITH {_BASE_SQL},
cents AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
scored AS (
  SELECT b.vid, b.vec, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
assign1 AS (
  SELECT centroid_id, vid, vec, nrm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
dups AS (
  SELECT a.vid AS vid_a, b.vid AS vid_b,
         {_dot('a.vec', 'b.vec')} / (a.nrm * b.nrm) AS cosine
  FROM assign1 a JOIN assign1 b
    ON a.centroid_id = b.centroid_id AND a.vid < b.vid
  WHERE {_dot('a.vec', 'b.vec')} / (a.nrm * b.nrm) >= {_SEMANTIC_THRESHOLD}
)
SELECT vid_b AS removed_id, vid_a AS keeper_id, cosine AS cosine_to_keeper
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vid_b ORDER BY vid_a) AS rn FROM dups
) WHERE rn = 1
"""


@query(
    "semantic_dedup",
    ("DD10", "V2"),
    oracle=_SEMANTIC_DEDUP_ORACLE,
    tags=("similarity", "dedup"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-bounded exhaustive cosine dedup over embeddings —
    removed docs with their lowest-id keeper (operators/similarity.py)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_pairs(
        emb, n_clusters=16, threshold=_SEMANTIC_THRESHOLD
    )


# ---------------------------------------------------------------------------
# V5 — product quantization + ADC search
# ---------------------------------------------------------------------------

from open_data_lakehouse_demo_spark.operators import quantization as pq  # noqa: E402

# Shared PQ CTE block (assumes a `base` CTE with (vid, vec) in scope):
# codebook from the NCODES lowest-id seeds, subspace slices, argmin
# encoding, assembled code lists, and the per-probe LUT tables. Reused by
# both the exhaustive-ADC and the IVFPQ oracles — one source of truth for
# the fold arithmetic.
_PQ_CTES = f"""
seeds AS (
  SELECT vid, vec, CAST(ROW_NUMBER() OVER (ORDER BY vid) - 1 AS INT) AS code_id
  FROM base ORDER BY vid LIMIT {pq.NCODES}
),
subs AS (SELECT unnest(range(0, {pq.M})) AS s),
codebook AS (
  SELECT s.s, d.code_id,
         list_transform(range(1, {pq.SUB + 1}), i -> CAST(d.vec[s.s * {pq.SUB} + i] AS DOUBLE)) AS cs
  FROM seeds d, subs s
),
corpsub AS (
  SELECT b.vid, s.s,
         list_transform(range(1, {pq.SUB + 1}), i -> CAST(b.vec[s.s * {pq.SUB} + i] AS DOUBLE)) AS vs
  FROM base b, subs s
),
enc0 AS (
  SELECT c.vid, c.s, cb.code_id,
         list_reduce(list_transform(range(1, {pq.SUB + 1}),
                     i -> (c.vs[i] - cb.cs[i]) * (c.vs[i] - cb.cs[i])), (a, b) -> a + b) AS d2
  FROM corpsub c JOIN codebook cb ON c.s = cb.s
),
enc AS (
  SELECT vid, s, code_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, s ORDER BY d2, code_id) AS rn FROM enc0
  ) WHERE rn = 1
),
enc_codes AS (SELECT vid, list(code_id ORDER BY s) AS codes FROM enc GROUP BY 1),
plut0 AS (
  SELECT c.vid AS query_id, c.s, cb.code_id,
         list_reduce(list_transform(range(1, {pq.SUB + 1}),
                     i -> (c.vs[i] - cb.cs[i]) * (c.vs[i] - cb.cs[i])), (a, b) -> a + b) AS pd2
  FROM corpsub c JOIN codebook cb ON c.s = cb.s
  WHERE c.vid % {_PROBE_MOD} = 0
),
plut_s AS (SELECT query_id, s, list(pd2 ORDER BY code_id) AS rw FROM plut0 GROUP BY 1, 2),
plut AS (SELECT query_id, list(rw ORDER BY s) AS lut FROM plut_s GROUP BY 1)
"""

_PQ_ORACLE = f"""
WITH base AS (
  SELECT vec_id AS vid, embedding AS vec FROM embeddings
),
{_PQ_CTES},
adc AS (
  SELECT p.query_id, e.vid AS neighbor_id,
         list_reduce(list_transform(range(1, {pq.M + 1}),
                     s -> p.lut[s][e.codes[s] + 1]), (a, b) -> a + b) AS adc_dist
  FROM enc_codes e, plut p
  WHERE e.vid <> p.query_id
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_K}
"""


@query(
    "pq_adc_topk",
    ("V5",),
    oracle=_PQ_ORACLE,
    tags=("similarity",),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized approximate top-5 by asymmetric distance: 8
    subspaces × 16 codes (256 B vector → 8 codes), per-probe LUT
    broadcast against the encoded corpus (operators/quantization.py)."""
    emb = t(spark, sf_dir, "embeddings")
    return pq.pq_adc_topk(
        emb, k=_K, probe_filter=F.col("vid") % _PROBE_MOD == 0
    )


# ---------------------------------------------------------------------------
# V7 — int8 scalar quantization (SQ8) + asymmetric L2 search
# ---------------------------------------------------------------------------

_SQ_DIST = (
    f"(p.pv[i] - (s.mns[i] + (c.codes[i] + 0.5) * s.scales[i]))"
    f" * (p.pv[i] - (s.mns[i] + (c.codes[i] + 0.5) * s.scales[i]))"
)

_SQ_ORACLE = f"""
WITH base AS (
  SELECT vec_id AS vid, embedding AS vec FROM embeddings
),
dims AS (SELECT unnest(range(1, {pq.DIM + 1})) AS d),
stats AS (
  SELECT d, MIN(CAST(vec[d] AS DOUBLE)) AS mn,
         (MAX(CAST(vec[d] AS DOUBLE)) - MIN(CAST(vec[d] AS DOUBLE))) / {float(pq.SQ_LEVELS)} AS sc
  FROM base, dims GROUP BY d
),
sarr AS (
  SELECT list(mn ORDER BY d) AS mns, list(sc ORDER BY d) AS scales FROM stats
),
codes AS (
  SELECT b.vid,
         list_transform(range(1, {pq.DIM + 1}), i ->
           CASE WHEN s.scales[i] = 0 THEN 0
                ELSE LEAST({pq.SQ_LEVELS},
                           CAST(floor((CAST(b.vec[i] AS DOUBLE) - s.mns[i]) / s.scales[i]) AS INT))
           END) AS codes
  FROM base b, sarr s
),
probes AS (
  SELECT vid AS query_id,
         list_transform(range(1, {pq.DIM + 1}), i -> CAST(vec[i] AS DOUBLE)) AS pv
  FROM base WHERE vid % {_PROBE_MOD} = 0
),
adc AS (
  SELECT p.query_id, c.vid AS neighbor_id,
         list_reduce(list_transform(range(1, {pq.DIM + 1}), i -> {_SQ_DIST}),
                     (a, b) -> a + b) AS adc_dist
  FROM probes p, codes c, sarr s
  WHERE c.vid <> p.query_id
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_K}
"""


@query(
    "sq_int8_topk",
    ("V7",),
    oracle=_SQ_ORACLE,
    tags=("similarity",),
)
def sq_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized (SQ8) approximate top-5: per-dim min/max
    stats (one broadcastable 2×64-double row) quantize the corpus to
    0..255 codes; probes score reconstructed points asymmetrically
    (operators/quantization.py sq_int8_topk) — the 4×-compression
    middle rung between flat search (V1) and PQ (V5)."""
    emb = t(spark, sf_dir, "embeddings")
    return pq.sq_int8_topk(emb, k=_K, probe_filter=F.col("vid") % _PROBE_MOD == 0)


# ---------------------------------------------------------------------------
# V6 — IVF + PQ composition (pruned ADC search)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2

_IVF_PQ_ORACLE = f"""
WITH {_BASE_SQL},
cents AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
cscored AS (
  SELECT b.vid, b.vec, b.nrm, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
assign1 AS (
  SELECT centroid_id, vid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM cscored
  ) WHERE rn = 1
),
passign AS (
  SELECT centroid_id, vid AS query_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM cscored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= {_IVFPQ_NPROBE}
),
{_PQ_CTES.strip()},
adc AS (
  SELECT p.query_id, e.vid AS neighbor_id,
         list_reduce(list_transform(range(1, {pq.M + 1}),
                     s -> l.lut[s][e.codes[s] + 1]), (a, b) -> a + b) AS adc_dist
  FROM enc_codes e
  JOIN assign1 a ON e.vid = a.vid
  JOIN passign p ON a.centroid_id = p.centroid_id AND e.vid <> p.query_id
  JOIN plut l ON l.query_id = p.query_id
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_K}
"""


@query(
    "ivf_pq_topk",
    ("V6", "V2", "V5"),
    oracle=_IVF_PQ_ORACLE,
    tags=("similarity",),
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: coarse 16-list quantizer prunes the corpus to nprobe=2
    inverted lists of (vid, 8 codes), then ADC-scores only those — the
    flat-per-probe-cost composition that searches 10^9 vectors
    (operators/quantization.py ivf_pq_topk)."""
    emb = t(spark, sf_dir, "embeddings")
    return pq.ivf_pq_topk(
        emb, k=_K, n_centroids=16, nprobe=_IVFPQ_NPROBE,
        probe_filter=F.col("vid") % _PROBE_MOD == 0,
        index_cache_key=("pq", sf_dir, 16),
    )


# ---------------------------------------------------------------------------
# V8 — IVF + SQ8 composition (pruned reconstruction-distance search)
# ---------------------------------------------------------------------------

_IVF_SQ8_NPROBE = 2

# IVFPQ's coarse quantizer (cents/assign1/passign — cosine assignment over
# the 16 lowest-id seeds, centroid-id tiebreak) composed in front of the
# SQ8 oracle's stats/codes/reconstruction-distance CTEs: each probe scores
# ONLY the vids whose list is among its nprobe coarse lists, with the same
# seedless left-to-right fold distance as _SQ_ORACLE — bit-identical to
# the exhaustive scan on every surviving pair.
_IVF_SQ8_ORACLE = f"""
WITH {_BASE_SQL},
cents AS (SELECT vid AS centroid_id, vec AS cvec, nrm AS cnrm FROM base ORDER BY vid LIMIT 16),
cscored AS (
  SELECT b.vid, c.centroid_id,
         {_dot('b.vec', 'c.cvec')} / (b.nrm * c.cnrm) AS ccos
  FROM base b CROSS JOIN cents c
),
assign1 AS (
  SELECT centroid_id, vid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM cscored
  ) WHERE rn = 1
),
passign AS (
  SELECT centroid_id, vid AS query_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
    FROM cscored WHERE vid % {_PROBE_MOD} = 0
  ) WHERE rn <= {_IVF_SQ8_NPROBE}
),
dims AS (SELECT unnest(range(1, {pq.DIM + 1})) AS d),
stats AS (
  SELECT d, MIN(CAST(vec[d] AS DOUBLE)) AS mn,
         (MAX(CAST(vec[d] AS DOUBLE)) - MIN(CAST(vec[d] AS DOUBLE))) / {float(pq.SQ_LEVELS)} AS sc
  FROM base, dims GROUP BY d
),
sarr AS (
  SELECT list(mn ORDER BY d) AS mns, list(sc ORDER BY d) AS scales FROM stats
),
codes AS (
  SELECT b.vid,
         list_transform(range(1, {pq.DIM + 1}), i ->
           CASE WHEN s.scales[i] = 0 THEN 0
                ELSE LEAST({pq.SQ_LEVELS},
                           CAST(floor((CAST(b.vec[i] AS DOUBLE) - s.mns[i]) / s.scales[i]) AS INT))
           END) AS codes
  FROM base b, sarr s
),
probes AS (
  SELECT vid AS query_id,
         list_transform(range(1, {pq.DIM + 1}), i -> CAST(vec[i] AS DOUBLE)) AS pv
  FROM base WHERE vid % {_PROBE_MOD} = 0
),
adc AS (
  SELECT p.query_id, c.vid AS neighbor_id,
         list_reduce(list_transform(range(1, {pq.DIM + 1}), i -> {_SQ_DIST}),
                     (a, b) -> a + b) AS adc_dist
  FROM probes p
  JOIN passign pa ON pa.query_id = p.query_id
  JOIN assign1 a ON a.centroid_id = pa.centroid_id
  JOIN codes c ON c.vid = a.vid AND c.vid <> p.query_id
  CROSS JOIN sarr s
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_K}
"""


@query(
    "ivf_sq8_topk",
    ("V8", "V7", "V2"),
    oracle=_IVF_SQ8_ORACLE,
    tags=("similarity",),
)
def ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 (FAISS IVF_SQ8 layout): the coarse 16-list quantizer prunes
    the corpus to nprobe=2 inverted lists of (vid, 64 int8 codes) BEFORE
    the SQ8 reconstruction-distance fold — per-probe work drops from the
    linear scan flagged for sq_int8_topk to O(N·nprobe/n_centroids),
    distances bit-identical to the exhaustive scan on surviving pairs
    (operators/quantization.py ivf_sq8_topk)."""
    emb = t(spark, sf_dir, "embeddings")
    return pq.ivf_sq8_topk(
        emb, k=_K, n_centroids=16, nprobe=_IVF_SQ8_NPROBE,
        probe_filter=F.col("vid") % _PROBE_MOD == 0,
        index_cache_key=("sq8", sf_dir, 16),
    )
