"""Similarity operator tests: known-answer numpy cross-check + oracle parity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.operators import similarity as sim
from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from open_data_lakehouse_demo_spark.sources import io
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_matches_oracle


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, sim.DIM)).astype(np.float32)
    vecs[1] = vecs[0] + rng.normal(scale=0.01, size=sim.DIM).astype(np.float32)  # near-dup of 0
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    return df, vecs.astype(np.float64)


def _numpy_topk(vecs: np.ndarray, probe_ids, k: int):
    Vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = Vn @ Vn.T
    out = {}
    for q in probe_ids:
        order = sorted(
            (i for i in range(len(vecs)) if i != q),
            key=lambda i: (-S[q, i], i),
        )
        out[q] = order[:k]
    return out


def test_brute_force_matches_numpy(emb_df):
    df, vecs = emb_df
    probes = df.filter(F.col("vec_id") < 3)
    got = sim.brute_force_topk(df, probes, k=4).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], -r["cosine"], r["neighbor_id"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    expected = _numpy_topk(vecs, [0, 1, 2], 4)
    assert by_q == expected
    assert by_q[0][0] == 1  # the planted near-dup is rank-1


def test_ivf_recall_at_least_half(emb_df):
    """nprobe=2 of 8 lists on random data: exact rank-1 must mostly survive."""
    df, vecs = emb_df
    got = sim.ivf_topk(
        df, k=4, n_centroids=8, nprobe=2, probe_filter=F.col("vid") < 10
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], -r["cosine"], r["neighbor_id"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    exact = _numpy_topk(vecs, range(10), 1)
    hits = sum(1 for q in range(10) if q in by_q and exact[q][0] in by_q[q])
    assert hits >= 5
    assert by_q[0][0] == 1  # near-identical pair lands in the same list


def test_lsh_near_dup_finds_planted_pair(emb_df):
    df, _ = emb_df
    pairs = {(r["vec_a"], r["vec_b"]) for r in sim.lsh_near_dup_pairs(df, threshold=0.9).collect()}
    assert (0, 1) in pairs


@pytest.mark.parametrize(
    "name", ["cosine_topk_bruteforce", "cosine_topk_ivf", "embedding_near_dup_lsh"]
)
def test_similarity_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    assert q.oracle is not None
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, name)


def _bits(x: float) -> bytes:
    import struct

    return struct.pack("<d", x)


def test_dot_udf_parity(spark):
    """dot_batch must be BIT-identical to the _dot_fold expression on real
    and adversarial inputs (cancellation, huge/tiny magnitudes, zeros) —
    the oracle-parity proof rests on this equivalence."""
    rng = np.random.default_rng(11)
    vs = rng.normal(size=(64, sim.DIM)).astype(np.float32)
    vs[0] = np.tile(np.array([1e30, -1e30], dtype=np.float32), sim.DIM // 2)
    vs[1] = np.full(sim.DIM, 1e-30, dtype=np.float32)
    vs[2] = 0.0
    vs[3, ::2] = 1e18  # partial huge values against normals
    vs[4] = np.full(sim.DIM, -1.0, dtype=np.float32)  # all-negative …
    rows = [
        (int(i), [float(x) for x in vs[i]], [float(x) for x in vs[(i * 7 + 3) % len(vs)]])
        for i in range(len(vs))
    ]
    # … against the zero vector: every product is -0.0, so the fold's 0.0
    # seed yields +0.0 while a bare accumulate yields -0.0 — the one
    # signed-zero case where the batch path needs its `+ 0.0` normalization
    rows.append((len(vs), [float(x) for x in vs[4]], [0.0] * sim.DIM))
    df = spark.createDataFrame(rows, "i BIGINT, a ARRAY<FLOAT>, b ARRAY<FLOAT>")
    got = df.select(
        sim.dot_batch(F.col("a"), F.col("b")).alias("u"),
        sim._dot_fold(F.col("a"), F.col("b")).alias("e"),
    ).collect()
    assert len(got) == len(vs) + 1
    for r in got:
        assert _bits(r["u"]) == _bits(r["e"]), (r["u"], r["e"])


def test_sq_adc_batch_parity(spark):
    """sq_adc_dist_batch must be BIT-identical to the _sq_adc_dist fold
    on real and adversarial reconstructed pairs — unlike dot_batch the
    per-dim ops here are inexact (full-precision doubles), so the proof
    is op-for-op IEEE replication, and this test is the evidence."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq

    rng = np.random.default_rng(17)
    vs = rng.normal(size=(64, pq.DIM))
    vs[0] = np.tile([1e30, -1e30], pq.DIM // 2)  # catastrophic cancellation
    vs[1] = 1e-300  # subnormal-adjacent squares
    vs[2] = 0.0
    vs[3, ::2] = 1e18
    rows = [
        (int(i), [float(x) for x in vs[i]], [float(x) for x in vs[(i * 5 + 1) % len(vs)]])
        for i in range(len(vs))
    ]
    rows.append((len(vs), [0.0] * pq.DIM, [0.0] * pq.DIM))  # all-zero diffs
    df = spark.createDataFrame(rows, "i BIGINT, pv ARRAY<DOUBLE>, rv ARRAY<DOUBLE>")
    got = df.select(
        pq.sq_adc_dist_batch(F.col("pv"), F.col("rv")).alias("u"),
        pq._sq_adc_dist().alias("e"),
    ).collect()
    assert len(got) == len(vs) + 1
    for r in got:
        assert _bits(r["u"]) == _bits(r["e"]), (r["u"], r["e"])


def test_bucket_udf_parity(spark):
    """lsh_buckets_batch must reproduce the lsh_bucket expression fold
    bit-for-bit (sign decisions on exact-product dots)."""
    rng = np.random.default_rng(13)
    vs = rng.normal(size=(48, sim.DIM)).astype(np.float32)
    vs[0] = 0.0
    vs[1] = np.full(sim.DIM, -1e-20, dtype=np.float32)
    rows = [(int(i), [float(x) for x in vs[i]]) for i in range(len(vs))]
    df = spark.createDataFrame(rows, "i BIGINT, vec ARRAY<FLOAT>")
    got = df.select(
        sim.lsh_buckets_batch("vec").alias("bb"),
        F.array(*[sim.lsh_bucket(F.col("vec"), t) for t in range(sim.N_TABLES)]).alias("be"),
    ).collect()
    for r in got:
        assert list(r["bb"]) == list(r["be"])


def _sql_ranking(base, cents, n):
    """Test-local reference for centroid assignment: the rule every oracle
    encodes — CROSS JOIN the codebook, fold cosine (sim.cosine; NULL on a
    zero norm), ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC,
    centroid_id) — as {vid: (ids best first)}."""
    c = cents.select(
        F.col("vid").alias("centroid_id"), F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )
    base.crossJoin(c).select(
        "vid", "centroid_id",
        sim.cosine(F.col("vec"), F.col("cvec"), F.col("nrm"), F.col("cnrm")).alias("ccos"),
    ).createOrReplaceTempView("ref_scored")
    rows = base.sparkSession.sql(
        f"""SELECT vid, centroid_id, rn FROM (
              SELECT vid, centroid_id, ROW_NUMBER() OVER (
                PARTITION BY vid ORDER BY ccos DESC, centroid_id) AS rn
              FROM ref_scored) WHERE rn <= {n}"""
    ).collect()
    out = {}
    for r in sorted(rows, key=lambda r: (r["vid"], r["rn"])):
        out.setdefault(r["vid"], []).append(r["centroid_id"])
    return {v: tuple(ids) for v, ids in out.items()}


@pytest.mark.parametrize(
    "corpus,n_cent,n_assign",
    [("fixture", 4, 2), ("fixture", 3, 5), ("fixture", 1, 2),
     ("zero", 4, 1), ("zero", 4, 2)],
)
def test_assign_ids_batch_matches_sql_ranking(spark, emb_df, corpus, n_cent, n_assign):
    """The one assignment kernel against the SQL ranking every oracle
    encodes: assigns equal the reference ranking (including nprobe > C,
    C = 1, and a zero vector whose NULL/-inf cosines rank last), nrm is
    BIT-equal to the norm() expression fold (downstream cosine hashes
    depend on it), every list holds min(n, C) distinct codebook ids, and
    the zero vector falls through to the lowest centroid id."""
    if corpus == "fixture":
        df, _ = emb_df
    else:
        rng = np.random.default_rng(7)
        vs = rng.normal(size=(12, sim.DIM)).astype(np.float32)
        vs[3] = 0.0  # zero vector: NULL cosine vs every centroid
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in vs[i]]) for i in range(len(vs))],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
    base = df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"),
        sim.norm(F.col("embedding")).alias("nrm"),
    )
    vids, mat = sim.seed_codebook(base, n_cent)
    got = {
        r["vid"]: (tuple(r["an"]["assigns"]), r["an"]["nrm"], r["nrm"])
        for r in base.select(
            "vid", "nrm", sim.assign_ids_batch("vec", vids, mat, n_assign).alias("an")
        ).collect()
    }
    ref = _sql_ranking(base, base.orderBy("vid").limit(n_cent), n_assign)
    assert {v: a for v, (a, _, _) in got.items()} == ref
    assert all(_bits(kn) == _bits(fn) for _, kn, fn in got.values())
    want = min(n_assign, n_cent)
    assert all(
        len(a) == want and len(set(a)) == want and set(a) <= set(vids)
        for a, _, _ in got.values()
    )
    if corpus == "zero":
        assert got[3][0][0] == min(vids)  # all-NULL/-inf row -> lowest id


def test_kmeans_train_matches_numpy_lloyd(emb_df):
    """3 Lloyd rounds on the 40-vector fixture must match a numpy
    reference (same deterministic init, same cosine assignment rule)."""
    df, vecs = emb_df  # vecs: float64 copy of the float32 fixture
    k, iters = 4, 3
    raw = df.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    vids, mat = sim._kmeans_train(raw, k, iters)
    got = {int(v): mat[i].astype(np.float64) for i, v in enumerate(vids)}
    # numpy reference
    cents = {i: vecs[i].copy() for i in range(k)}
    for _ in range(iters):
        cn = {i: c / np.linalg.norm(c) for i, c in cents.items()}
        assign = {}
        for vid in range(len(vecs)):
            v = vecs[vid] / np.linalg.norm(vecs[vid])
            # cosine desc, centroid-id asc tiebreak — the oracles' rule
            best = max(cn, key=lambda i: (float(v @ cn[i]), -i))
            assign.setdefault(best, []).append(vid)
        for i in range(k):
            if assign.get(i):
                # float32 mean like the engine's cast-to-float centroid
                cents[i] = np.mean(
                    [vecs[j] for j in assign[i]], axis=0
                ).astype(np.float32).astype(np.float64)
    assert set(got) == set(range(k))
    for i in range(k):
        np.testing.assert_allclose(got[i], cents[i], rtol=1e-5, atol=1e-6)


def test_ivf_kmeans_recall_not_worse_than_sampled(emb_df):
    """Trained codebook must not lose recall vs the sampled codebook on
    the fixture (the whole point of training)."""
    df, vecs = emb_df
    probes = df.filter(F.col("vec_id") < 10)
    exact = _numpy_topk(vecs, range(10), k=3)

    def recall(topk_df):
        by_q = {}
        for r in topk_df.collect():
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        hits = sum(
            1 for q in range(10) if set(exact[q]) & set(by_q.get(q, []))
        )
        return hits

    sampled = sim.ivf_topk(df, k=3, n_centroids=4, nprobe=1,
                           probe_filter=F.col("vid") < 10)
    trained = sim.ivf_topk(
        df, k=3, n_centroids=4, nprobe=1, probe_filter=F.col("vid") < 10,
        train_iterations=3,
    )
    assert recall(trained) >= recall(sampled) - 1  # allow one-probe jitter


def test_semantic_dedup_oracle_parity(spark, duck):
    from tests.oracle_utils import assert_matches_oracle

    q = QUERIES["semantic_dedup"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "semantic_dedup")


def test_semantic_dedup_keep_first_semantics(spark):
    """Every removal points at a strictly lower id, at/above threshold,
    and each vector is removed at most once (one keeper per removed)."""
    from open_data_lakehouse_demo_spark.plans.inventory_vectors import (
        _SEMANTIC_THRESHOLD,
    )

    rows = QUERIES["semantic_dedup"].spark(spark, SF_DIR).collect()
    assert rows
    removed = [r["removed_id"] for r in rows]
    assert len(removed) == len(set(removed))
    for r in rows:
        assert r["keeper_id"] < r["removed_id"]
        assert r["cosine_to_keeper"] >= _SEMANTIC_THRESHOLD


def test_semantic_dedup_assignment_param_matches_internal_build(spark, tmp_path):
    """The production SemDeDup shape (r10): a PERSISTED cluster-assignment
    table passed via ``assignment`` — written by its named producer, the
    ivf_ingest_stream sink, with the same seed codebook — must yield
    byte-identical removals to the internal assign path (same contract
    family as the scrub ``index`` and minhash ``sets`` params)."""
    from open_data_lakehouse_demo_spark.operators import similarity as sim
    from open_data_lakehouse_demo_spark.sources.io import read_parquet
    from open_data_lakehouse_demo_spark.streaming import ingest

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet").limit(300)
    raw = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    vids, mat = sim.seed_codebook(raw, 16)
    want = sorted(
        (r["removed_id"], r["keeper_id"], round(r["cosine_to_keeper"], 9))
        for r in sim.semantic_dedup_pairs(
            emb, "vec_id", "embedding", n_clusters=16, threshold=0.25
        ).collect()
    )
    assert want
    # persist the assignment once (the usual pipeline shape), read back
    apath = str(tmp_path / "assignment")
    ingest.ivf_ingest_stream(emb, vids, mat).write.parquet(apath)
    got = sorted(
        (r["removed_id"], r["keeper_id"], round(r["cosine_to_keeper"], 9))
        for r in sim.semantic_dedup_pairs(
            emb, "vec_id", "embedding", assignment=spark.read.parquet(apath)
        ).collect()
    )
    assert got == want


def test_pq_adc_oracle_parity(spark, duck):
    q = QUERIES["pq_adc_topk"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "pq_adc_topk")


def test_pq_encoding_shape_and_recall(spark):
    """Codes are M ints in [0, NCODES); ADC top-5 recalls ground-truth
    L2 neighbors far above chance (PQ is approximate, not random)."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    codes = pq.pq_encode(base, pq.pq_codebook(base)).collect()
    assert len(codes) == base.count()
    for r in codes[:20]:
        assert len(r["codes"]) == pq.M
        assert all(0 <= c < pq.NCODES for c in r["codes"])

    got = QUERIES["pq_adc_topk"].spark(spark, SF_DIR).collect()
    approx = {}
    for r in got:
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    # exact L2 ground truth via numpy
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = total = 0
    for qid, nbrs in approx.items():
        qv = mat[ids == qid][0]
        d2 = ((mat - qv) ** 2).sum(axis=1)
        d2[ids == qid] = np.inf
        truth = set(ids[np.argsort(d2, kind="stable")[:5]].tolist())
        hits += len(nbrs & truth)
        total += 5
    recall = hits / total
    # chance level for 5-of-499 is ~1%; even an UNTRAINED sampled codebook
    # on near-isotropic synthetic vectors should sit several times above
    # chance (measured 0.14 at sf0.01 — trained codebooks go higher)
    assert recall >= 0.05, f"PQ recall {recall:.2f} below sanity floor"


def test_ivf_pq_oracle_parity(spark, duck):
    q = QUERIES["ivf_pq_topk"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "ivf_pq_topk")


def test_ivf_pq_subset_of_exhaustive_adc(spark):
    """IVFPQ scores a SUBSET of the exhaustive-ADC candidates (the probe's
    nprobe lists), so each returned distance must also appear in the
    exhaustive ADC scoring and can never beat its top-1."""
    ex = QUERIES["pq_adc_topk"].spark(spark, SF_DIR).collect()
    iv = QUERIES["ivf_pq_topk"].spark(spark, SF_DIR).collect()
    assert iv
    best_ex = {}
    for r in ex:
        d = best_ex.get(r["query_id"])
        best_ex[r["query_id"]] = min(d, r["adc_dist"]) if d is not None else r["adc_dist"]
    for r in iv:
        assert r["adc_dist"] >= best_ex[r["query_id"]] - 1e-12


def test_pq_batch_kernels_match_relational_twins(spark):
    """pq_codes_batch / pq_lut_batch (Arrow kernels over the driver-side
    seed codebook) are bit-identical to the relational pq_encode /
    _probe_lut plans — the parity that lets the search queries run the
    kernel path while the DuckDB oracle mirrors the relational one."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    _, mat32 = sim.seed_codebook(base, pq.NCODES)

    rel_codes = {r["vid"]: list(r["codes"]) for r in
                 pq.pq_encode(base, pq.pq_codebook(base)).collect()}
    batch_codes = {r["vid"]: list(r["codes"]) for r in
                   base.select("vid", pq.pq_codes_batch("vec", mat32).alias("codes")).collect()}
    assert rel_codes == batch_codes

    probes = base.filter(F.col("vid") % 50 == 0)
    psubs = probes.select(
        F.col("vid").alias("query_id"), F.explode(pq.sub_slices(F.col("vec"))).alias("sc")
    ).select("query_id", F.col("sc.s").alias("s"), F.col("sc.vs").alias("vs"))
    plut0 = psubs.join(F.broadcast(pq.pq_codebook(base)), "s").select(
        "query_id", "s", "code_id", pq.l2sq_fold(F.col("vs"), F.col("cs")).alias("pd2")
    )
    rel_lut = {r["query_id"]: [list(row) for row in r["lut"]]
               for r in pq._probe_lut(plut0).collect()}
    batch_lut = {r["query_id"]: [list(row) for row in r["lut"]]
                 for r in probes.select(
                     F.col("vid").alias("query_id"),
                     pq.pq_lut_batch("vec", mat32).alias("lut")).collect()}
    # exact float equality on purpose: the kernels claim BIT parity
    assert rel_lut == batch_lut


def test_ivf_sq8_oracle_parity(spark, duck):
    q = QUERIES["ivf_sq8_topk"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "ivf_sq8_topk")


def test_ivf_sq8_equals_exhaustive_at_full_nprobe(spark):
    """With nprobe = n_centroids every inverted list is probed, so the
    pruned search degenerates to the exhaustive SQ8 scan — results must be
    BIT-identical (same codes, same stats row, same fold distance, same
    (adc_dist, neighbor_id) ranking)."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    flt = F.col("vid") % 50 == 0
    ex = sorted(map(tuple, pq.sq_int8_topk(emb, k=5, probe_filter=flt).collect()))
    iv = sorted(map(tuple, pq.ivf_sq8_topk(
        emb, k=5, n_centroids=16, nprobe=16, probe_filter=flt).collect()))
    assert ex == iv  # exact float equality on purpose: bit parity claimed


def test_ivf_sq8_subset_of_exhaustive_at_small_nprobe(spark):
    """At nprobe=2 the pruned search scores a SUBSET of the exhaustive
    candidates: every returned (query, neighbor) pair must carry the
    bit-identical distance the exhaustive scan assigns it, and can never
    beat the exhaustive top-1."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    flt = F.col("vid") % 50 == 0
    # exhaustive distances over ALL pairs (k large enough to cover the
    # fixture corpus) so every pruned pair has a reference distance
    n = emb.count()
    ex = {(r["query_id"], r["neighbor_id"]): r["adc_dist"]
          for r in pq.sq_int8_topk(emb, k=n, probe_filter=flt).collect()}
    iv = QUERIES["ivf_sq8_topk"].spark(spark, SF_DIR).collect()
    assert iv
    best_ex = {}
    for (q, _), d in ex.items():
        best_ex[q] = min(best_ex.get(q, d), d)
    for r in iv:
        assert ex[(r["query_id"], r["neighbor_id"])] == r["adc_dist"]
        assert r["adc_dist"] >= best_ex[r["query_id"]]


@pytest.mark.parametrize("name", sorted(io.SESSION_CACHES))
def test_session_cache_contract(spark, monkeypatch, name):
    """Every declared session cache honours one contract: a hit returns
    the SAME object (no second build), None is a cached value, a miss at
    the name's cap resets that name only, the clear hook drops only the
    names it is given, another application's entries are never served,
    and an undeclared name raises."""
    other = "spread" if name == "scan" else "scan"

    def counts(n):
        s = io.session_cache_stats()[n]
        return s["hits"], s["misses"]

    def never():
        pytest.fail("a cached entry was rebuilt")

    io.clear_session_cache(name, other)
    value = object()
    assert io.session_cached(spark, name, "k", lambda: value) is value
    assert io.session_cached(spark, name, "k", never) is value  # hit
    io.session_cached(spark, other, "warm", lambda: "w")

    hits, misses = counts(name)
    assert io.session_cached(spark, name, "none", lambda: None) is None
    assert io.session_cached(spark, name, "none", never) is None
    assert counts(name) == (hits + 1, misses + 1)

    # cap: once full, a MISS resets the name instead of growing it
    for i in range(io.SESSION_CACHES[name] - 2):
        io.session_cached(spark, name, i, lambda: i)
    io.session_cached(spark, name, "new", object)  # miss at cap → reset → insert
    assert io.session_cached(spark, name, "new", never) is not None
    hits, misses = counts(name)
    io.session_cached(spark, name, "k", object)  # evicted by the reset
    assert counts(name) == (hits, misses + 1)
    assert io.session_cached(spark, other, "warm", never) == "w"

    io.clear_session_cache(name)  # leaves the other name warm
    assert io.session_cached(spark, name, "new", lambda: "rebuilt") == "rebuilt"
    assert io.session_cached(spark, other, "warm", never) == "w"

    # a different application never sees this one's entries
    monkeypatch.setattr(io, "_application_id", lambda _spark: "another-app")
    assert io.session_cached(spark, other, "warm", lambda: "x") == "x"
    monkeypatch.undo()
    assert io.session_cached(spark, other, "warm", lambda: "y") == "y"

    with pytest.raises(KeyError):
        io.session_cached(spark, "undeclared", "k", object)
    with pytest.raises(KeyError):
        io.clear_session_cache("undeclared")
    io.clear_session_cache(name, other)


def test_session_cache_threads_lose_no_update(spark):
    """Concurrent callers on one name: every call counts as exactly one
    hit or miss, and every caller gets its key's value."""
    import sys
    import threading

    io.clear_session_cache("spread")
    before = io.session_cache_stats()["spread"]
    calls, wrong = 2000, []

    def worker():
        for i in range(calls):
            key = ("stress", i % 50)
            if io.session_cached(spark, "spread", key, lambda: key) != key:
                wrong.append(key)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    after = io.session_cache_stats()["spread"]
    assert not wrong
    assert (after["hits"] + after["misses"]) - (before["hits"] + before["misses"]) == 16 * calls
    io.clear_session_cache("spread")


def test_ann_recall_eval_consistent_with_sweep_level(spark):
    """ann_recall_eval is the fixed-level (_EVAL_NPROBE) read of the same
    shared arm the sweep reads: the mean of its per-probe recalls must
    equal the sweep's mean_recall at that level exactly (identical
    integer hit counts over the identical materialized table)."""
    from open_data_lakehouse_demo_spark.plans import inventory_vectors as iv

    ev = QUERIES["ann_recall_eval"].spark(spark, SF_DIR).collect()
    sw = {r["nprobe"]: r for r in QUERIES["ann_recall_sweep"].spark(spark, SF_DIR).collect()}
    assert iv._EVAL_NPROBE in sw
    row = sw[iv._EVAL_NPROBE]
    assert row["n_probes"] == len(ev)
    assert sum(r["n_hits"] for r in ev) == round(
        row["mean_recall"] * row["n_probes"] * 5
    )


def test_persisted_sq8_ivf_index_matches_inmemory(spark, tmp_path):
    """build_sq8_ivf_index_logged + search_sq8_ivf_index_logged must be
    BIT-identical to ivf_sq8_topk over the same corpus/params (same codes,
    codebook, coarse assignment, scoring kernel — only the list source
    differs), and the lists scan must be PARTITION-pruned to the probed
    centroids."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "sq8ivf")
    pq.build_sq8_ivf_index_logged(emb, idx, n_centroids=16)

    probes = emb.filter(F.col("vec_id") % 50 == 0)
    got = pq.search_sq8_ivf_index_logged(spark, idx, probes, k=5, nprobe=2)
    want = pq.ivf_sq8_topk(
        emb, k=5, n_centroids=16, nprobe=2,
        probe_filter=F.col("vid") % 50 == 0,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning: the probed-id IN filter sits on the partition
    # column, so the scan reads only those centroid directories
    import glob
    raw = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    probe_cids = {
        r["cid"] for r in probes.select(
            F.explode(
                sim.assign_ids_batch("embedding", *sim.seed_codebook(raw, 16), 2)["assigns"]
            ).alias("cid")
        ).distinct().collect()
    }
    all_parts = len(glob.glob(f"{idx}/lists/data/centroid_id=*"))
    lists = tl.read(spark, f"{idx}/lists").filter(
        F.col("centroid_id").isin(sorted(probe_cids))
    )
    files_read = {
        r["f"] for r in lists.select(F.input_file_name().alias("f")).distinct().collect()
    }
    dirs_read = {f.rsplit("/", 2)[-2] for f in files_read}
    assert len(dirs_read) == len(probe_cids) < all_parts


def test_persisted_index_search_external_probes(spark, tmp_path):
    """Probes need not come from the corpus: search with synthetic query
    vectors and exclude_self=False returns k neighbors per probe."""
    import numpy as np

    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "sq8ivf2")
    pq.build_sq8_ivf_index_logged(emb, idx, n_centroids=8)
    rng = np.random.default_rng(5)
    qs = spark.createDataFrame(
        [(int(1_000_000 + i), [float(x) for x in rng.normal(size=pq.DIM)])
         for i in range(7)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    out = pq.search_sq8_ivf_index_logged(
        spark, idx, qs, k=3, nprobe=2, exclude_self=False)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["adc_dist"])
    assert set(by_q) == {1_000_000 + i for i in range(7)}
    for dists in by_q.values():
        assert len(dists) == 3 and dists == sorted(dists)


def test_versioned_sq8_index_time_travel_and_incremental_append(spark, tmp_path):
    """IVF-SQ8 index as a snapshot-versioned logged table (r7): the
    logged build searches bit-identically to the in-memory operator;
    an incremental append (frozen codebooks) lands as ONE atomic
    snapshot whose vectors are searchable; and a snapshot-pinned search
    reproduces exactly the pre-append results — the 'what did this
    query return before yesterday's ingest' question as a first-class
    read."""
    from open_data_lakehouse_demo_spark.operators import quantization as pq
    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    idx = str(tmp_path / "vidx")
    s0 = pq.build_sq8_ivf_index_logged(old, idx, n_centroids=16)

    # probes drawn from the indexed corpus so the in-memory operator
    # (whose probe_filter selects from its own corpus) sees the same set
    probes = old.filter(F.col("vec_id") % 50 == 0)
    got0 = pq.search_sq8_ivf_index_logged(spark, idx, probes, k=5, nprobe=2)
    rows0 = sorted(map(tuple, got0.collect()))
    # bit-identical to the in-memory operator over the same corpus
    want0 = pq.ivf_sq8_topk(
        old, k=5, n_centroids=16, nprobe=2,
        probe_filter=F.col("vid") % 50 == 0,
    )
    assert rows0 == sorted(map(tuple, want0.collect()))

    # incremental append: new batch encoded with the FROZEN codebooks
    s1 = pq.append_sq8_ivf_index_logged(spark, idx, batch, txn=("ingest", 0))
    assert s1 == s0 + 1
    # replayed micro-batch: exactly-once no-op
    assert pq.append_sq8_ivf_index_logged(spark, idx, batch, txn=("ingest", 0)) == s1

    # latest search sees the appended vectors
    got1 = sorted(map(tuple, pq.search_sq8_ivf_index_logged(spark, idx, probes, k=5, nprobe=2).collect()))
    new_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert any(t[1] in new_ids for t in got1), "appended vectors must be searchable"
    # time travel: the pinned pre-append search is unchanged
    got0_again = sorted(map(tuple, pq.search_sq8_ivf_index_logged(
        spark, idx, probes, k=5, nprobe=2, snapshot=s0).collect()))
    assert got0_again == rows0
    assert [h["operation"] for h in tl.history(f"{idx}/lists")] == ["create", "append"]


def test_ivf_index_cache_key_includes_search_params(spark):
    """r9 review: the cached trained index bakes in nprobe — a
    same-corpus-key call with a different nprobe must NOT silently reuse
    it (recall would stay at the old nprobe level)."""
    from open_data_lakehouse_demo_spark.operators import similarity as sim
    from open_data_lakehouse_demo_spark.sources.io import read_parquet
    from tests.conftest import SF_DIR

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet").limit(300)
    io.clear_session_cache("ivf_index")
    misses0 = io.session_cache_stats()["ivf_index"]["misses"]

    def misses():
        return io.session_cache_stats()["ivf_index"]["misses"] - misses0

    r1 = sim.ivf_topk(emb, k=3, n_centroids=16, nprobe=1, train_iterations=1,
                      index_cache_key="corpus")
    n1 = r1.count()
    assert misses() == 1
    r2 = sim.ivf_topk(emb, k=3, n_centroids=16, nprobe=4, train_iterations=1,
                      index_cache_key="corpus")
    assert misses() == 2  # second entry built — no silent reuse
    assert n1 <= r2.count()  # more probes never shrink the result
    # Direct proof nprobe took effect (r9 ADVICE: the old disjunction was
    # satisfied by monotone counts alone): probing EVERY list (nprobe =
    # n_centroids, BOTH pinned to 16 here so the premise can't silently
    # break if the default changes — r10 review) is exhaustive, so it
    # must equal brute force exactly — a silently-reused nprobe=1 index
    # here would miss every cross-list neighbor. Deterministic data +
    # deterministic training make the strict pairs1 != pairs_all gap
    # stable.
    r_all = sim.ivf_topk(emb, k=3, n_centroids=16, nprobe=16, train_iterations=1,
                         index_cache_key="corpus")
    assert misses() == 3
    pairs_all = {(r["query_id"], r["neighbor_id"]) for r in r_all.collect()}
    bf = sim.brute_force_topk(emb, emb, k=3)
    pairs_bf = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    assert pairs_all == pairs_bf
    pairs1 = {(r["query_id"], r["neighbor_id"]) for r in r1.collect()}
    assert pairs1 != pairs_all  # 1-probe search provably missed neighbors
    io.clear_session_cache("ivf_index")


def test_sq_code_clamps_both_ends(spark):
    """r9 review: appending with a FROZEN codebook can see values below
    the training min — codes must clamp to 0..255 at both ends (the old
    code stored negative codes, outside the int8-style contract)."""
    from open_data_lakehouse_demo_spark.operators import quantization as q

    base = spark.createDataFrame(
        [(1, [0.5] * 64), (2, [1.5] * 64)], "vid long, vec array<float>"
    )
    # frozen stats trained elsewhere: mn=1.0, step=0.01 per dim
    out = q.sq_encode(base, [1.0] * 64, [0.01] * 64).collect()
    codes = {r["vid"]: r["codes"] for r in out}
    assert all(c == 0 for c in codes[1])    # below training min → clamp 0
    assert all(0 <= c <= 255 for c in codes[2])


def test_kmeans_train_empty_corpus_raises_cleanly(spark):
    """r9 review: an empty corpus must fail with a clear ValueError, not
    an IndexError deep in the local numpy path."""
    import pytest as _pytest

    from open_data_lakehouse_demo_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    base = empty.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    with _pytest.raises(ValueError, match="non-empty"):
        sim._kmeans_train(base, 8, 1)


def test_probe_collect_cap_raises_loudly(emb_df, monkeypatch):
    """r14 guard (VERDICT r13 #5): the driver-side probe collect in
    brute_force_topk is correct only for query-batch-sized probe sides;
    an oversized batch must fail loudly, not OOM the driver. The cap is
    monkeypatched tiny so the test never materializes a big batch."""
    df, _ = emb_df
    monkeypatch.setattr(sim, "_PROBE_COLLECT_CAP", 3)
    probes = df.filter(F.col("vec_id") < 4)  # 4 probes > cap of 3
    with pytest.raises(ValueError, match="probe batch exceeds 3"):
        sim.brute_force_topk(df, probes, k=2)
    # at the cap it still works (bounded CollectLimit path)
    ok = sim.brute_force_topk(df, df.filter(F.col("vec_id") < 3), k=2)
    assert ok.count() == 6


def test_ivf_topk_small_codebook_and_empty_int_ids(emb_df):
    """The sampled-codebook arm with nprobe above the codebook size probes
    every list (here: exact top-k), and an empty corpus keeps the id
    column's own type, so both results share one schema."""
    df, vecs = emb_df
    ints = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    got = sim.ivf_topk(ints, k=2, n_centroids=3, nprobe=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], -r["cosine"], r["neighbor_id"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == _numpy_topk(vecs[:6], range(6), 2)
    full = sim.ivf_topk(ints, k=2, n_centroids=3, nprobe=5)
    empty = sim.ivf_topk(ints.limit(0), k=2, n_centroids=3, nprobe=5)
    assert empty.collect() == []
    assert empty.schema == full.schema
    # brute force: both id columns take the id column's type, whether or
    # not the probe set is empty
    for corpus, id_type in [(ints, "int"), (df, "bigint")]:
        full = sim.brute_force_topk(corpus, corpus.filter(F.col("vec_id") < 2), k=2)
        empty = sim.brute_force_topk(corpus, corpus.limit(0), k=2)
        assert full.count() == 4 and empty.collect() == []
        assert empty.schema == full.schema
        assert [f.dataType.simpleString() for f in full.schema.fields] == [
            id_type, id_type, "double"
        ]


@pytest.mark.parametrize(
    "run",
    [
        lambda df: sim.brute_force_topk(df, df, k=2),
        lambda df: sim.ivf_topk(df, k=2, n_centroids=2),
        lambda df: sim.semantic_dedup_pairs(df, n_clusters=2),
    ],
    ids=["brute_force_topk", "ivf_topk", "semantic_dedup_pairs"],
)
def test_string_ids_fail_before_any_job(spark, emb_df, run):
    """A STRING id column is rejected by name and type when the plan is
    built — not as an int() error after a Spark job has run."""
    df, _ = emb_df
    strs = df.select(F.concat(F.lit("a"), "vec_id").alias("vec_id"), "embedding")
    sc = spark.sparkContext
    sc.setJobGroup("string-ids", "no job may run")
    try:
        with pytest.raises(ValueError, match="'vec_id' has type string"):
            run(strs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("string-ids") == []


def test_kmeans_distributed_rounds_match_local(emb_df, monkeypatch):
    """r14: the distributed Lloyd rounds (mapInArrow partials) must agree
    with the driver-local path on the same corpus — cap monkeypatched to
    0 so the 40-vector fixture takes the distributed branch. Centroid
    means may differ from the local path only by f64 association order,
    absorbed by the per-round f32 cast except on ~2^-29 boundary
    landings (the documented _LOCAL_TRAIN_CAP tolerance class), so
    allclose at f32 resolution is the correct assertion."""
    df, _ = emb_df
    base = df.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    vids_l, mat_l = sim._kmeans_train(base, 4, 2)
    monkeypatch.setattr(sim, "_LOCAL_TRAIN_CAP", 0)
    vids_d, mat_d = sim._kmeans_train(base, 4, 2)
    assert vids_d == vids_l
    np.testing.assert_allclose(mat_d, mat_l, rtol=1e-6, atol=1e-7)
