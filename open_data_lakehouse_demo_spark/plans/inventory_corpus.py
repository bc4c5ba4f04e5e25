"""Query inventory — end-to-end corpus curation (composite LLM-pipeline op).

``curated_corpus`` chains the dedup + quality stages the way a real
training-data materialization job does:

  1. exact dedup        keep min doc_id per identical text (operators/dedup)
  2. near-dup removal   MinHash-LSH verified pairs ≥ 0.8 Jaccard → greedy
                        drop the higher doc_id of every pair (deterministic,
                        single-pass; FULL cluster resolution is the separate
                        dup_clusters query below — iterative connected
                        components, oracle-checked via a recursive CTE)
  3. quality filter     keep quality_band != 'low' (functions/text)

Output = surviving docs with their quality features — exactly what a
downstream tokenizer shard would consume. At 100 TB each stage is the
shuffle documented in its own module; the chain adds no new shuffle beyond
a broadcast-able drop-list semi-join (near-dup pairs are rare by
definition, so the drop list is tiny relative to the corpus).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.functions import text as tx
from open_data_lakehouse_demo_spark.operators import dedup
from open_data_lakehouse_demo_spark.sources.io import clear_session_cache, materialize, session_cached, spread
from open_data_lakehouse_demo_spark.plans.inventory import query, t
from open_data_lakehouse_demo_spark.plans.inventory_docs import (
    _JACCARD_THRESHOLD,
    _SHINGLE_SETS_SQL,
    _VERIFY_SQL,
    MINHASH_CANDS_SQL,
)
from open_data_lakehouse_demo_spark.plans.inventory_text import (
    _ALPHA_SQL,
    _STOP_SQL,
)

_CURATED_ORACLE = f"""
WITH canonical AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
{_SHINGLE_SETS_SQL},
{MINHASH_CANDS_SQL},
verified AS ({_VERIFY_SQL}),
drop_list AS (
  SELECT DISTINCT doc_b AS doc_id FROM verified WHERE jaccard >= {_JACCARD_THRESHOLD}
),
survivors AS (
  SELECT c.doc_id FROM canonical c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM drop_list)
),
feat AS (
  SELECT d.doc_id, d.source, d.lang,
    CAST(len(tk.tk) AS BIGINT) AS ws_tokens,
    CAST({_STOP_SQL.replace('tk', 'tk.tk')} AS BIGINT) AS stop_cnt,
    CAST({_ALPHA_SQL.replace('text', 'd.text')} AS BIGINT) AS alpha_cnt,
    CAST(length(d.text) AS BIGINT) AS n_chars_m
  FROM documents d
  JOIN survivors s ON d.doc_id = s.doc_id
  JOIN toks tk ON tk.doc = d.doc_id
)
SELECT doc_id, source, lang, ws_tokens,
  CAST(stop_cnt AS DOUBLE) / ws_tokens AS stopword_ratio,
  CAST(alpha_cnt AS DOUBLE) / n_chars_m AS alpha_ratio
FROM feat
WHERE NOT (CAST(alpha_cnt AS DOUBLE) / n_chars_m < 0.4 OR ws_tokens < 5)
"""


@query(
    "curated_corpus",
    ("DD1", "DD3", "TX1", "PIPE1"),
    oracle=_CURATED_ORACLE,
    tags=("dedup", "text", "pipeline"),
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: exact dedup → MinHash-LSH near-dup drop
    → quality filter; returns surviving docs + quality features."""
    docs = t(spark, sf_dir, "documents")

    canonical = dedup.exact_dedup(docs, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    near_dups = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD
    )
    drop_list = near_dups.select(F.col("doc_b").alias("doc_id")).distinct()

    survivors = canonical.join(F.broadcast(drop_list), "doc_id", "left_anti")

    text_c = F.col("text")
    ws = tx.ws_token_count(text_c)
    nchars = F.length(text_c).cast("bigint")
    stop_ratio = tx.stopword_count(text_c).cast("double") / ws
    alpha_ratio = tx.alpha_count(text_c).cast("double") / nchars
    feat = docs.join(survivors, "doc_id", "left_semi").select(
        "doc_id",
        "source",
        "lang",
        ws.alias("ws_tokens"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
    )
    # quality gate == "band != low" (tx.quality_band's low rule inverted)
    return feat.filter(
        ~((F.col("alpha_ratio") < 0.4) | (F.col("ws_tokens") < 5))
    )


# Per-language sampling rates (percent): downsample the dominant language,
# keep more of the rare ones — the standard corpus-rebalancing step.
# Single source of truth; the oracle SQL is generated from this dict.
_STRAT_RATES = {"en": 10, "de": 40, "es": 40, "fr": 40, "zh": 80}
_STRAT_DEFAULT_RATE = 20

_STRAT_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRAT_RATES.items())
    + f" ELSE {_STRAT_DEFAULT_RATE} END"
)

_STRAT_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || lang), 1, 8)) AS BIGINT)
      % 100 < ({_STRAT_CASE_SQL})
"""


@query(
    "stratified_sample_docs",
    ("PIPE2",),
    oracle=_STRAT_ORACLE,
    tags=("pipeline", "sampling"),
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates applied
    via a portable content hash (first 8 md5 hex chars of doc_id#lang).

    Unlike df.sample(), the decision is a pure function of the row — fully
    reproducible across engines, retries and repartitioning, and usable as
    a JOIN-free filter. Scale shape: map-side only, zero shuffle; the
    predicate survives column pruning (reads doc_id/lang/source only)."""
    docs = t(spark, sf_dir, "documents")
    rate = F.lit(_STRAT_DEFAULT_RATE)
    for k, v in reversed(_STRAT_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    h = dedup.token_hash(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("lang"))
    )
    return docs.filter((h % 100) < rate).select("doc_id", "lang", "source")


# Benchmark membership: deterministic id-hash split (every 97th doc acts
# as the held-out eval set the corpus must not leak).
_BENCH_MOD = 97
_DECON_N = 8  # 8-gram overlap, the common decontamination window
# max eval-shingle hashes compiled into an InSet literal before the
# query falls back to the broadcast semi-join twin (dedup.decontaminate)
_DECON_INSET_MAX = 100_000

clear_decon_eval_cache = partial(clear_session_cache, "decon_eval")


_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), shs8 AS (
  SELECT doc,
    list_distinct(list_transform(
      list_transform(range(1, greatest(len(tk) - {_DECON_N - 1}, 1) + 1),
                     i -> array_to_string(tk[i:i+{_DECON_N - 1}], ' ')),
      s -> CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT))) AS sh
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(sh) AS h FROM shs8 WHERE doc % {_BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT s.doc
  FROM shs8 s, unnest(s.sh) AS u(h)
  WHERE s.doc % {_BENCH_MOD} <> 0 AND h IN (SELECT h FROM bench)
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % {_BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc FROM contaminated)
"""


@query(
    "benchmark_decontaminate",
    ("PIPE3", "DD2"),
    oracle=_DECON_ORACLE,
    tags=("pipeline", "dedup"),
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing any 8-gram
    shingle with the held-out benchmark split (doc_id % 97 == 0) — the
    eval-leakage hygiene step every pretraining corpus needs.

    r8 shape — the bloom_decontaminate single-scan discipline applied to
    the exact path (this was the last CPU-bound query over the 2× DuckDB
    gate, 2.11×): the benchmark shingle-hash set collects to the driver
    in one tiny job (the eval suite is ~1% of docs here and FIXED-SIZE
    in production — an eval n-gram set ships with the job) and compiles
    into an InSet predicate, so the corpus pays exactly ONE
    whole-stage-codegen pass: explode shingles → one md5 per shingle →
    InSet probe → output-sized distinct of contaminated ids → AQE-sized
    anti-join. No benchmark-side second scan, no broadcast-build round.
    Built as SQL text for the same Py4J-cost reason as the bloom probe.

    BOUNDED-EVAL CONTRACT: the literal set is the right shape while the
    eval suite is job-shippable (≲10^5 shingles). For unbounded eval
    relations use operators/dedup.py decontaminate — the broadcast
    semi-join twin with identical semantics (kept, tested, and the shape
    this query had through r7)."""
    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)

    def eval_hashes() -> list[int] | None:
        bench_sh = (
            docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
            .select(
                F.explode(
                    dedup.shingle_hash_set(F.col("text"), _DECON_N)
                ).alias("h")
            )
            .distinct()
        )
        # BOUNDED-EVAL CONTRACT enforced BEFORE any driver-side collect
        # (the guard would be useless after it): a cap-bounded probe job
        # decides the path, so an oversized eval split never ships its
        # hash set to the driver at all — it takes the broadcast
        # semi-join twin with identical semantics instead. The oversized
        # verdict is cached as None too — the cap-probe job (full
        # eval-split shingle explode + distinct) is most expensive
        # exactly when the eval set is oversized, so re-running it per
        # invocation on top of the semi-join would repeat driver-visible
        # cost every call (r9 ADVICE finding).
        if bench_sh.limit(_DECON_INSET_MAX + 1).count() > _DECON_INSET_MAX:
            return None
        return sorted(r["h"] for r in bench_sh.collect())

    bench_hashes = session_cached(spark, "decon_eval", sf_dir, eval_hashes)
    if bench_hashes is None:
        bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        return dedup.decontaminate(
            corpus, bench, "doc_id", "text", n=_DECON_N
        ).select("doc_id", "lang", "source")

    if not bench_hashes:
        # empty eval split (tiny/empty fixture): nothing can be
        # contaminated — and `h IN ()` would be a SQL parse error
        return corpus.select("doc_id", "lang", "source")

    n_sh = _DECON_N - 1
    shingles_sql = (
        f"transform(sequence(0, greatest(size(tk) - {n_sh}, 1) - 1), "
        f"i -> concat_ws(' ', slice(tk, i + 1, {_DECON_N})))"
    )
    in_sql = ",".join(str(h) + "L" for h in bench_hashes)
    contaminated = (
        spread(corpus)
        .selectExpr("doc_id", r"filter(split(trim(text), '\\s+'), t -> t != '') AS tk")
        .selectExpr("doc_id", f"explode({shingles_sql}) AS s")
        .selectExpr(
            "doc_id",
            # same 32-bit md5-prefix hash as the oracle's sh CTE, so any
            # collision false-flags identically on both engines
            "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) AS h",
        )
        .filter(f"h IN ({in_sql})")
        .select("doc_id")
        .distinct()
    )
    # contaminated is output-sized but corpus-bounded under heavy overlap
    # — no broadcast hint; AQE broadcasts it when it lands small
    return corpus.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# PIPE8 — Bloom-filter decontamination (the constant-memory sketch path)
# ---------------------------------------------------------------------------

# Fixed-size eval suite: a Bloom filter is sized to its member set, so the
# benchmark split is CAPPED (~5 docs / ~240 shingles at any sf ≥ 0.01) the
# way a real eval suite stays constant while the corpus under filter grows.
_BLOOM_BENCH_CAP = 485

clear_bloom_eval_cache = partial(clear_session_cache, "bloom_eval")


_BLOOM_HASH = (
    "CAST(('0x' || substring(md5('bloom:' || s), 1 + 8 * j, 8)) "
    f"AS BIGINT) % {dedup.BLOOM_M}"
)

_BLOOM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), shs AS (
  SELECT doc,
    list_transform(range(1, greatest(len(tk) - {_DECON_N - 1}, 1) + 1),
                   i -> array_to_string(tk[i:i+{_DECON_N - 1}], ' ')) AS sh
  FROM toks
), members AS (
  SELECT DISTINCT unnest(sh) AS s FROM shs
  WHERE doc % {_BENCH_MOD} = 0 AND doc <= {_BLOOM_BENCH_CAP}
), mbits AS (
  SELECT {_BLOOM_HASH} AS bit
  FROM members, (SELECT unnest(range(0, {dedup.BLOOM_K})) AS j)
), sketch AS (
  SELECT bit // {dedup.BLOOM_BITS_PER_WORD} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(bit % {dedup.BLOOM_BITS_PER_WORD} AS INT)) AS bits
  FROM mbits GROUP BY 1
), csh AS (
  SELECT DISTINCT doc, unnest(sh) AS s FROM shs WHERE doc % {_BENCH_MOD} <> 0
), cbits AS (
  SELECT doc, s, {_BLOOM_HASH} AS bit
  FROM (SELECT doc, s, unnest(range(0, {dedup.BLOOM_K})) AS j FROM csh)
), chk AS (
  SELECT c.doc, c.s,
         COUNT(*) FILTER (
           WHERE k.bits IS NOT NULL
             AND (k.bits & (CAST(1 AS BIGINT) << CAST(c.bit % {dedup.BLOOM_BITS_PER_WORD} AS INT))) <> 0
         ) AS nset
  FROM cbits c LEFT JOIN sketch k ON c.bit // {dedup.BLOOM_BITS_PER_WORD} = k.word
  GROUP BY 1, 2
), bloomhits AS (
  SELECT DISTINCT doc FROM chk WHERE nset = {dedup.BLOOM_K}
), hsh AS (
  -- exact-audit hash = the FIRST 32-bit slice of the SAME salted digest
  -- the bloom bits use, so the engine pays ONE md5 per corpus shingle
  SELECT doc,
         list_distinct(list_transform(sh, s -> CAST(('0x' || substring(md5('bloom:' || s), 1, 8)) AS BIGINT))) AS hs
  FROM shs
), bench AS (
  SELECT DISTINCT unnest(hs) AS h FROM hsh
  WHERE doc % {_BENCH_MOD} = 0 AND doc <= {_BLOOM_BENCH_CAP}
), exact AS (
  SELECT DISTINCT f.doc FROM hsh f, unnest(f.hs) AS u(h)
  WHERE f.doc % {_BENCH_MOD} <> 0 AND h IN (SELECT h FROM bench)
)
SELECT b.doc AS doc_id, (e.doc IS NULL) AS false_positive
FROM bloomhits b LEFT JOIN exact e ON b.doc = e.doc
ORDER BY doc_id
"""


@query(
    "bloom_decontaminate",
    ("PIPE8", "A10"),
    oracle=_BLOOM_ORACLE,
    tags=("pipeline", "sketch"),
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination membership via a PORTABLE Bloom filter (124×62-bit
    words, k=4 hash slices of one md5 digest — operators/dedup.py
    bloom_sketch_local): benchmark 8-gram shingles OR-fold on the driver
    into one dense word list embedded as an array literal; the corpus
    probe is a map-side explode + whole-stage-codegen bloom_contains_sql
    filter against that literal — the ONLY full-corpus shuffle is the
    flagged doc-id distinct, which is output-sized (contaminated docs + the FP
    trickle), the way a 100 TB scan consults an eval-set filter.  (An
    F.exists HOF over each doc's shingle array has the same semantics
    with zero shuffle but evaluates interpreted — measured 6× slower;
    an output-sized reduce is the better trade.)  The exact
    hashed-shingle audit arm (benchmark_decontaminate's semantics) runs
    ONLY over the flagged docs: Bloom error is one-sided (a true member
    shingle always has all K bits set), so exact hits are a subset of
    bloom hits and the emitted rows — bloom-hit docs with
    `false_positive` = no exact hit — are identical whether the exact
    probe scans the whole corpus or just the flagged slice.  That turns
    the audit from a second full-corpus md5-per-shingle pass (the r6
    shape, the one CPU-bound query over the 2× DuckDB gate) into a
    broadcast-semi-join-sized postscript; false_positive still
    quantifies the m/k-driven FP rate, driver-visible like the CMS
    overestimate audit."""
    docs = t(spark, sf_dir, "documents")
    benchmark = docs.filter(
        (F.col("doc_id") % _BENCH_MOD == 0) & (F.col("doc_id") <= _BLOOM_BENCH_CAP)
    )
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)

    # The eval suite is CONSTANT-SIZE by construction (~240 shingles —
    # _BLOOM_BENCH_CAP docstring), so its shingle strings collect to the
    # driver in one tiny job and BOTH membership structures build in
    # pure Python: the Bloom bitmap embeds as a 124-long array LITERAL
    # (dedup.bloom_sketch_local — bit-identical to the SQL sketch) and
    # the exact audit hashes compile into an InSet predicate. This is
    # what a production decontaminator does at 100 TB: the fixed eval
    # n-gram set ships with the job; only the corpus is data. Cached
    # per sf_dir in the ``bloom_eval`` session cache, so re-constructions
    # (bench reruns) skip the collect job.
    def eval_structures() -> tuple[list[int], list[int]]:
        member_shingles = [
            r["s"]
            for r in benchmark.select(
                F.explode(
                    dedup.word_shingles(dedup.tokenize("text"), _DECON_N)
                ).alias("s")
            )
            .distinct()
            .collect()
        ]
        return (
            dedup.bloom_sketch_local(member_shingles),
            sorted({dedup.token_hash_local("bloom:" + s) for s in member_shingles}),
        )

    sketch_words, bench_hashes = session_cached(
        spark, "bloom_eval", sf_dir, eval_structures
    )
    if not bench_hashes:
        # empty eval split: no member shingles → nothing flags (and the
        # IN-list / bloom conjuncts below would not even parse)
        return corpus.select(
            "doc_id", F.lit(False).alias("false_positive")
        ).limit(0)

    # ONE corpus pass computes both flags per shingle — no crossJoin, no
    # broadcast-build rounds, no second scan (each of those cost a
    # sequential job in the r6 shape, which is why it sat at 2.17× the
    # DuckDB gate). The only shuffle is the flagged-rows groupBy
    # (output-sized: contaminated docs + the FP trickle). exact-only
    # rows (a 32-bit hash collision outside the bloom set) survive the
    # prefilter so the audit max matches the oracle exactly.
    # spread(): the local fixture arrives as ONE parquet split, which
    # would serialize the HOF shingle construction (measured 4-5s serial
    # vs sub-second wide — the same reason _doc_shingle_sets spreads).
    # digest projected ONCE per shingle — FilterExec would recompute an
    # inlined md5 in each of the K bit conjuncts (bloom_contains_sql doc).
    # The whole probe builds as SQL text (selectExpr): the 124-word
    # bitmap literal, 240-hash IN list and K bloom conjuncts would cost
    # hundreds of Py4J round trips as Column objects (~0.8s/construction
    # measured — comparable to the execution itself); one parse of a
    # 5 KB string is ~free. Same fix as the simhash block expression.
    n_sh = _DECON_N - 1
    shingles_sql = (
        f"transform(sequence(0, greatest(size(tk) - {n_sh}, 1) - 1), "
        f"i -> concat_ws(' ', slice(tk, i + 1, {_DECON_N})))"
    )
    in_sql = ",".join(str(h) + "L" for h in bench_hashes)
    probe = (
        spread(corpus)
        .selectExpr("doc_id", r"filter(split(trim(text), '\\s+'), t -> t != '') AS tk")
        .selectExpr("doc_id", f"explode({shingles_sql}) AS s")
        .selectExpr("doc_id", "md5(concat('bloom:', s)) AS dig")
        .selectExpr(
            "doc_id",
            f"{dedup.bloom_contains_sql(sketch_words)} AS bloom_hit",
            # exact-audit hash = the first 32-bit slice of the SAME
            # digest the bloom bits slice (oracle hsh matches), so each
            # shingle pays exactly one md5; IN compiles to an InSet
            # lookup against the ~240 literal eval hashes
            f"cast(conv(substring(dig, 1, 8), 16, 10) as bigint) IN ({in_sql})"
            " AS exact_hit",
        )
        .filter(F.col("bloom_hit") | F.col("exact_hit"))
    )
    flags = probe.groupBy("doc_id").agg(
        F.max("bloom_hit").alias("bloom_hit"), F.max("exact_hit").alias("exact_hit")
    )
    return (
        flags.filter("bloom_hit")
        .select("doc_id", (~F.col("exact_hit")).alias("false_positive"))
        .orderBy("doc_id")
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
{_SHINGLE_SETS_SQL.lstrip()},
{MINHASH_CANDS_SQL.lstrip()},
verified AS ({_VERIFY_SQL}),
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {_JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS node, least(a, MIN(b)) AS component
FROM reach GROUP BY a
"""


@query(
    "dup_clusters",
    ("DD6", "DD3"),
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "iterative"),
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup CLUSTER resolution: MinHash-verified pairs → connected
    components via iterative label propagation (operators/dedup.py
    connected_components). Pairwise dedup only sees a-b and b-c; cluster
    canonicalization (keep min doc per component) needs the transitive
    closure — the one genuinely iterative algorithm in the pipeline. The
    oracle is DuckDB's recursive CTE over the same verified pairs, so even
    the iterative path is hash-checked, not rows-only."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    return dedup.connected_components(pairs)


_SHARDS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM toks
)
SELECT doc_id, n_tokens, cum_tokens,
       CAST((cum_tokens - n_tokens) // 20000 AS INT) AS shard
FROM cum
"""


@query(
    "token_shard_assignment",
    ("PIPE4",),
    oracle=_SHARDS_ORACLE,
    tags=("pipeline",),
)
def token_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget output sharding (operators/sharding.py): global
    prefix-sum of per-doc token counts in doc_id order → ~20k-token
    shards — the tokenizer-shard materialization step of a training-data
    pipeline.

    The Spark plan is the two-phase PARALLEL prefix sum (range partition →
    per-partition totals → broadcast offsets → within-partition windows);
    the oracle is the equivalent single-window SQL — identical values,
    wildly different scalability (the naive form is a one-partition sort).
    """
    from open_data_lakehouse_demo_spark.functions.text import ws_token_count
    from open_data_lakehouse_demo_spark.operators.sharding import assign_token_shards

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("n_tokens")
    )
    return assign_token_shards(docs, "doc_id", "n_tokens", target_tokens=20000)


_CANON_ORACLE = f"""
WITH RECURSIVE
{_SHINGLE_SETS_SQL.lstrip()},
{MINHASH_CANDS_SQL.lstrip()},
verified AS ({_VERIFY_SQL}),
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {_JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS node, least(a, MIN(b)) AS component FROM reach GROUP BY a
),
sized AS (
  SELECT c.node, c.component, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
canon AS (
  SELECT component, node AS canonical_doc FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY component ORDER BY n_chars DESC, node
    ) AS rn FROM sized
  ) WHERE rn = 1
)
SELECT s.node AS doc_id, s.component, s.n_chars, c.canonical_doc,
       s.node = c.canonical_doc AS is_canonical
FROM sized s JOIN canon c USING (component)
"""


@query(
    "dup_cluster_canonical",
    ("DD6", "DD7"),
    oracle=_CANON_ORACLE,
    tags=("dedup", "iterative"),
)
def dup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonicalization of near-dup clusters: connected
    components over MinHash-verified pairs, then each cluster elects one
    representative by content length (ties -> lowest doc_id) — the
    decision step that turns cluster resolution into an actionable dedup
    (keep is_canonical, drop the rest).  Pairwise dedup drops an arbitrary
    side of each pair; cluster-canonical keeps the BEST member of the
    whole transitive group — the policy real curation pipelines use
    (operators/dedup.py canonical_per_component).

    Oracle: the dup_clusters recursive CTE extended with the same argmax,
    so the full iterate-then-choose path stays hash-checked."""
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    comps = dedup.connected_components(pairs)
    return dedup.canonical_per_component(
        comps, docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars")),
        "doc_id", "n_chars",
    )


# Target LANGUAGE mixture of the output corpus (shares sum to 1) — the
# "upsample English, cap the rest" rebalancing every multilingual training
# mix specifies. Single source of truth; the oracle SQL mirrors it.
_MIX_SHARES = {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.1, "zh": 0.05}

_MIX_CASE_SQL = (
    "CASE lang " + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_SHARES.items()) + " END"
)

_MIX_ORACLE = f"""
WITH by_lang AS (
  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS tok FROM documents GROUP BY 1
),
shares AS (
  SELECT lang, tok, {_MIX_CASE_SQL} AS share FROM by_lang
),
cap AS (SELECT MIN(CAST(tok AS DOUBLE) / share) AS t FROM shares),
rates AS (
  SELECT lang, share * (SELECT t FROM cap) / tok AS rate FROM shares
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars, r.rate
FROM documents d JOIN rates r USING (lang)
WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 8)) AS BIGINT) AS DOUBLE)
      / 4294967296.0 < r.rate
"""


@query(
    "source_mixture_sample",
    ("PIPE5",),
    oracle=_MIX_ORACLE,
    tags=("pipeline", "sampling"),
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mixture resampler: hit a TARGET language mix exactly,
    keeping as much data as feasible.  The max corpus size T satisfying
    every share is min over langs of tokens_l / share_l (the binding
    language keeps 100%); each language then keeps rate_l =
    share_l * T / tokens_l of its tokens via the deterministic id-hash
    sampler — the standard mixture-weights materialization step between
    curation and tokenization.

    Languages OUTSIDE the target mix get a NULL share → NULL rate → the
    keep predicate is false, i.e. they are dropped entirely (share 0) —
    the behavior a mixture spec implies, and identical in the oracle's
    CASE-without-ELSE.

    Engine-portable: per-language token totals are exact integer sums;
    T and the rates are single mirrored double divisions; the keep
    decision is a pure hash function of the row (reproducible across
    engines, retries, repartitioning).  Scale shape: one language-sized
    aggregate (broadcast back), then a map-side filter — zero fact-table
    shuffles."""
    docs = t(spark, sf_dir, "documents")
    share = None
    for k, v in _MIX_SHARES.items():
        share = (
            F.when(F.col("lang") == k, F.lit(v))
            if share is None
            else share.when(F.col("lang") == k, F.lit(v))
        )
    by_lang = docs.groupBy("lang").agg(F.sum("n_chars").cast("long").alias("tok"))
    shares = by_lang.select("lang", "tok", share.alias("share"))
    cap = shares.agg(F.min(F.col("tok").cast("double") / F.col("share")).alias("t"))
    rates = shares.crossJoin(F.broadcast(cap)).select(
        "lang", (F.col("share") * F.col("t") / F.col("tok")).alias("rate")
    )
    h = dedup.token_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#mix")))
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(h.cast("double") / F.lit(4294967296.0) < F.col("rate"))
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"), "rate")
    )


_SUBSTR_K = 4        # shingle width (tokens)
_SUBSTR_MIN_RUN = 4  # min consecutive shared shingles (span ≥ k+min_run-1 tokens)
_SUBSTR_DF_CAP = 20

clear_substr_index_cache = partial(clear_session_cache, "substr_index")
clear_scrub_result_cache = partial(clear_session_cache, "scrub_result")


def _substr_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped positioned-hash table (dedup.positioned_hash_index)
    shared by the ExactSubstr REPORT (shared_substring_spans) and ACTION
    (scrub) queries: the tokenize+shingle+hash+df-cap pass is ~3/4 of
    either query's cost, so a session running both pays it once — the
    table a production ExactSubstr pass persists between its index and
    join stages."""
    return session_cached(
        spark, "substr_index", (sf_dir, _SUBSTR_K, _SUBSTR_DF_CAP),
        lambda: dedup.positioned_hash_index(
            t(spark, sf_dir, "documents"), "doc_id", "text",
            k=_SUBSTR_K, max_df=_SUBSTR_DF_CAP,
        ),
    )


def _scrub_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus scrub output (doc_id, clean_text, n_spans,
    n_tokens_removed): map-side application of the session-cached
    MERGED-INTERVAL relation (dedup.shared_span_intervals: doc, iv array,
    n_spans — span-mass-sized, only affected docs appear). The three
    consumers (scrub_duplicated_spans and the two r9 canaries) pay the
    islands→merge shuffle once per session and each re-run only the
    map-side text reconstruction; the text itself is never pinned.
    Sharing also sharpens the canary bisect: all three derive from ONE
    interval computation, so digest-green + full-red in a driver round
    can only be the handling of the long clean_text values."""
    intervals = session_cached(
        spark, "scrub_result",
        (sf_dir, _SUBSTR_K, _SUBSTR_MIN_RUN, _SUBSTR_DF_CAP),
        lambda: materialize(
            dedup.shared_span_intervals(
                t(spark, sf_dir, "documents"), "doc_id", "text",
                k=_SUBSTR_K, min_run=_SUBSTR_MIN_RUN, max_df=_SUBSTR_DF_CAP,
                index=_substr_index(spark, sf_dir),
            )
        ),
    )
    return dedup.apply_scrub_intervals(
        t(spark, sf_dir, "documents"), intervals, "doc_id", "text",
    )


# The tokens → positioned 32-bit shingle hashes → df-cap →
# inverted-index co-occurrences chain shared by EVERY ExactSubstr
# oracle (the report and the whole ACTION family). One constant, so the
# report's driver-proven-green chain and the scrub family's chain
# cannot drift apart by a one-sided edit (r9 review finding).
_SUBSTR_CAND_CTES = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substring(md5(array_to_string(tk[i:i+{_SUBSTR_K - 1}], ' ')), 1, 8)) AS BIGINT) AS h
  FROM toks, unnest(range(1, greatest(len(tk) - {_SUBSTR_K - 1}, 0) + 1)) t(i)
  WHERE len(tk) >= {_SUBSTR_K}
),
dfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY h),
shc AS (SELECT s.* FROM sh s JOIN dfreq USING (h) WHERE dfreq.d <= {_SUBSTR_DF_CAP}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM shc a JOIN shc b USING (h)
  WHERE a.doc_id < b.doc_id
)"""

_SUBSTR_ORACLE = _SUBSTR_CAND_CTES + rf""",
islands AS (
  SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_len FROM (
    SELECT doc_a, doc_b, diag, pa,
           pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
    FROM cand
  ) GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b, MAX(run_len) AS max_run,
       MAX(run_len) + {_SUBSTR_K - 1} AS span_tokens
FROM islands GROUP BY doc_a, doc_b
HAVING MAX(run_len) >= {_SUBSTR_MIN_RUN}
"""


@query(
    "shared_substring_spans",
    ("DD8",),
    oracle=_SUBSTR_ORACLE,
    tags=("dedup",),
)
def shared_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring spans between document pairs (ExactSubstr
    dedup signal, Lee et al. 2021): longest run of consecutive shared
    4-token shingles per pair, found relationally — inverted-index
    co-occurrences grouped by alignment diagonal, runs via one
    gaps-and-islands window (operators/dedup.py shared_substring_runs).
    Catches copy-paste overlap between documents that whole-doc Jaccard
    misses when the rest of the text differs."""
    docs = t(spark, sf_dir, "documents")
    return dedup.shared_substring_runs(
        docs, "doc_id", "text",
        k=_SUBSTR_K, min_run=_SUBSTR_MIN_RUN, max_df=_SUBSTR_DF_CAP,
        index=_substr_index(spark, sf_dir),
    )


# Shared oracle CTE chain for the ExactSubstr ACTION family:
# _SUBSTR_CAND_CTES (the SAME constant the report's driver-proven-green
# oracle is built from — shared by construction, no drift possible) →
# diagonal islands ≥ min_run → doc_b token intervals → per-doc merged
# intervals (miv). Three consumers append different tails below (full
# scrub, and the two r9 bisecting canaries).
_MIV_CTES = _SUBSTR_CAND_CTES + rf""",
runs AS (
  SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_len, MIN(pa) AS pa0 FROM (
    SELECT doc_a, doc_b, diag, pa,
           pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island
    FROM cand
  ) GROUP BY doc_a, doc_b, diag, island
  HAVING COUNT(*) >= {_SUBSTR_MIN_RUN}
),
iv AS (
  SELECT doc_b AS doc, pa0 - diag AS s,
         pa0 - diag + run_len + {_SUBSTR_K - 2} AS e
  FROM runs
),
miv AS (
  SELECT doc, MIN(s) AS s, MAX(e) AS e FROM (
    SELECT doc, s, e,
           SUM(ng) OVER (PARTITION BY doc ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT doc, s, e,
        CASE WHEN MAX(e) OVER (PARTITION BY doc ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR s > MAX(e) OVER (PARTITION BY doc ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS ng
      FROM iv)
  ) GROUP BY doc, grp
)
"""

# Scrub tail, rewritten r9 for driver portability (VERDICT r8 item #1):
# the r7/r8 tail was red in the driver for two consecutive rounds while
# green in every local configuration, and it was the ONLY oracle in the
# inventory using a correlated NOT EXISTS, string_agg(... ORDER BY ...),
# or single-element list indexing tk[i] — the most version-sensitive
# constructs in play. This tail eliminates all three: per-doc merged
# intervals collect to a list (order-irrelevant — it is only probed for
# coverage) and an index-aware list_filter keeps tokens outside every
# interval, so token order comes from the token array itself, never from
# an ordered aggregate or a re-sorted explode. It mirrors the Spark plan
# (operators/dedup.py _scrub_apply: sort_array(collect_list(struct)) +
# indexed F.filter/F.exists) construct-for-construct. COALESCE because
# array_to_string([]) is NULL where concat_ws gives '' (fully-scrubbed
# docs). tests/test_inventory_oracle.py::test_scrub_oracle_rewrite_equiv
# pins this tail ≡ the legacy r7/r8 tail under local DuckDB.
_SCRUB_ORACLE = _MIV_CTES + """,
mivl AS (
  SELECT doc, list({'s': s, 'e': e}) AS ivs,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS removed
  FROM miv GROUP BY doc
),
scrubbed AS (
  SELECT t.doc_id,
         COALESCE(array_to_string(
           list_filter(t.tk, (x, i) ->
             len(list_filter(m.ivs, v -> i >= v.s AND i <= v.e)) = 0),
           ' '), '') AS clean,
         m.n_spans, m.removed
  FROM toks t JOIN mivl m ON t.doc_id = m.doc
)
SELECT d.doc_id,
  CASE WHEN sc.doc_id IS NULL THEN d.text ELSE sc.clean END AS clean_text,
  CAST(COALESCE(sc.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(sc.removed, 0) AS BIGINT) AS n_tokens_removed
FROM documents d
LEFT JOIN scrubbed sc ON d.doc_id = sc.doc_id
"""


@query(
    "scrub_duplicated_spans",
    ("DD8", "PIPE1"),
    oracle=_SCRUB_ORACLE,
    tags=("dedup", "pipeline"),
)
def scrub_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr dedup ACTION (operators/dedup.py
    scrub_shared_spans): shared_substring_spans only REPORTS copy-paste
    spans; this removes them — keep-first policy, duplicated token
    intervals cut from the higher-id document, overlapping/adjacent
    intervals merged, docs shrink but never vanish (Lee et al.
    2107.06499 §4's published behavior). Every input doc comes back:
    (doc_id, clean_text, n_spans, n_tokens_removed).

    r9: reads the session's materialized scrub result (_scrub_result),
    shared with the scrub_spans_meta / scrub_text_digest canaries —
    one scrub pass, three consumers (same policy as the positioned-hash
    index the pass itself consumes)."""
    return _scrub_result(spark, sf_dir)


# Oracle = the full-corpus scrub restricted to the batch: keep-first is
# id-based, so a batch doc's merged intervals are identical whether the
# partner side is called "index" or "full corpus" (the operator's
# equivalence contract).
_SCRUB_INCR_ORACLE = f"""
SELECT * FROM (
{_SCRUB_ORACLE}
) WHERE doc_id % 10 = 0
"""


@query(
    "incremental_scrub_batch",
    ("DD8", "DD9", "PIPE1"),
    oracle=_SCRUB_INCR_ORACLE,
    tags=("dedup", "pipeline"),
)
def incremental_scrub_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr scrub (operators/dedup.py
    scrub_batch_incremental): scrub ONLY the newly-ingested batch
    (doc_id % 10 == 0, the incremental_near_dups split) against the full
    corpus — the steady-state ingest shape where the accumulated corpus
    is never rewritten and new docs lose their copy-pasted spans to
    first writers. One-sided positional join (index side full, batch
    side 10%), sharing the session's cached positioned-hash index with
    the report and full-scrub queries — one index, three consumers."""
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.scrub_batch_incremental(
        corpus, batch, "doc_id", "text",
        k=_SUBSTR_K, min_run=_SUBSTR_MIN_RUN, max_df=_SUBSTR_DF_CAP,
        index=_substr_index(spark, sf_dir),
    )


# --- r9 bisecting canaries (VERDICT r8 item #2) -----------------------------
# scrub_duplicated_spans was hash-red in the driver for two consecutive
# rounds while green in every local reproduction. These two queries split
# its output channel so a further red round localizes itself:
#   meta green + digest green + full red → driver-side canonicalization of
#     long string values;
#   meta green + digest red             → text-reconstruction divergence;
#   meta red                            → interval/window logic divergence
#     in the driver's DuckDB.
# The meta oracle uses ONLY constructs the driver has proven green (the
# shared_substring_spans chain + LEFT JOIN/COALESCE); the digest oracle
# adds the rewritten reconstruction but hashes a 32-char md5 instead of
# shipping the full text through the compare.

_SCRUB_META_ORACLE = _MIV_CTES + """,
spanstats AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
                     CAST(SUM(e - s + 1) AS BIGINT) AS removed
              FROM miv GROUP BY doc)
SELECT d.doc_id,
  CAST(COALESCE(ss.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(ss.removed, 0) AS BIGINT) AS n_tokens_removed
FROM documents d
LEFT JOIN spanstats ss ON d.doc_id = ss.doc
"""


@query(
    "scrub_spans_meta",
    ("DD8",),
    oracle=_SCRUB_META_ORACLE,
    tags=("dedup",),
)
def scrub_spans_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr scrub, intervals only — (doc_id, n_spans,
    n_tokens_removed) with no text column. Canary A for the
    scrub_duplicated_spans driver divergence: exercises the full
    detection + interval-merge pipeline through an oracle built solely
    from constructs the driver has proven green, so a red row here means
    the interval logic itself diverges (not text handling). Projects the
    session's shared scrub result — the same rows the full query ships,
    by construction."""
    return _scrub_result(spark, sf_dir).select(
        "doc_id", "n_spans", "n_tokens_removed"
    )


_SCRUB_DIGEST_ORACLE = f"""
SELECT doc_id, md5(clean_text) AS clean_md5 FROM (
{_SCRUB_ORACLE}
)
"""


@query(
    "scrub_text_digest",
    ("DD8",),
    oracle=_SCRUB_DIGEST_ORACLE,
    tags=("dedup",),
)
def scrub_text_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr scrub, text as digest — (doc_id, md5(clean_text)).
    Canary B for the scrub_duplicated_spans driver divergence: same
    reconstruction as the full query, but the value crossing the
    driver's hash compare is a fixed 32-char hex digest, removing long
    string canonicalization from the channel. Green here + red on the
    full query isolates the divergence to value canonicalization —
    sharpened by projecting the session's shared scrub result: the
    digested rows ARE the full query's rows, one computation."""
    return _scrub_result(spark, sf_dir).select(
        "doc_id", F.md5(F.col("clean_text")).alias("clean_md5")
    )


_PACK_SEQ_LEN = 2048

_PACK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM toks
)
SELECT doc_id, n_tokens, cum_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_SEQ_LEN} AS BIGINT) AS first_example,
       CAST((cum_tokens - 1) // {_PACK_SEQ_LEN} AS BIGINT) AS last_example,
       CAST((cum_tokens - n_tokens) % {_PACK_SEQ_LEN} AS BIGINT) AS offset_in_example,
       (cum_tokens - n_tokens) // {_PACK_SEQ_LEN} <> (cum_tokens - 1) // {_PACK_SEQ_LEN}
         AS crosses_boundary
FROM cum
"""


@query(
    "packed_example_assignment",
    ("PIPE6",),
    oracle=_PACK_ORACLE,
    tags=("pipeline",),
)
def packed_example_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/sharding.py
    assign_packed_examples): global prefix-sum of token counts in doc_id
    order cut into 2048-token training examples — each doc's first/last
    example ids, in-example offset, and boundary-crossing flag, i.e. the
    routing table a tokenizer job needs to emit packed sequences with
    per-doc attention-mask resets.  Same two-phase parallel prefix sum as
    token_shard_assignment; the oracle is the equivalent single-window
    cumsum."""
    from open_data_lakehouse_demo_spark.functions.text import ws_token_count
    from open_data_lakehouse_demo_spark.operators.sharding import (
        assign_packed_examples,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("n_tokens")
    )
    return assign_packed_examples(docs, "doc_id", "n_tokens", seq_len=_PACK_SEQ_LEN)


_BATCH_MOD = 10  # batch = doc_id % 10 == 0 (10% "newly ingested" docs)

# Oracle = the FULL-corpus minhash pair set restricted to pairs touching
# the batch — the equivalence the incremental operator guarantees.
_INCR_ORACLE = f"""
WITH {_SHINGLE_SETS_SQL},
{MINHASH_CANDS_SQL},
verified AS ({_VERIFY_SQL})
SELECT * FROM verified
WHERE jaccard >= {_JACCARD_THRESHOLD}
  AND (doc_a % {_BATCH_MOD} = 0 OR doc_b % {_BATCH_MOD} = 0)
"""


@query(
    "incremental_near_dups",
    ("DD9", "DD3"),
    oracle=_INCR_ORACLE,
    tags=("dedup", "pipeline"),
)
def incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a newly-ingested batch (doc_id % 10 == 0)
    against the indexed corpus (operators/dedup.py
    minhash_lsh_pairs_incremental): per-batch work scales with the batch,
    not the corpus — the continuous-ingestion shape.  Oracle = the
    full-corpus MinHash pair set restricted to pairs touching the batch,
    i.e. the exact-equivalence contract the incremental path guarantees."""
    docs = t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % _BATCH_MOD == 0)
    old = docs.filter(F.col("doc_id") % _BATCH_MOD != 0)
    return dedup.minhash_lsh_pairs_incremental(
        old, new, "doc_id", "text", n=3, threshold=_JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# PIPE7 — deterministic salted train/val/test split
# ---------------------------------------------------------------------------
#
# The split every training-data materialization ends with: a stable,
# engine-independent hash split (NOT sample()/rand(), which are
# partitioning- and engine-dependent). h = 60-bit md5 of 'split:'||doc_id
# (the salt namespaces this split against every other md5 use in the
# repo), bucket = h % 100 → <80 train, <90 val, else test. Re-running on
# a grown corpus never reassigns an existing document — the property that
# keeps eval sets uncontaminated across dataset refreshes.

_SPLIT_ORACLE = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS bkt
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
FROM h
"""


@query("hash_split_assignment", ("PIPE7",), oracle=_SPLIT_ORACLE, tags=("pipeline",))
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/val/test split (80/10/10).

    Scale shape: map-only — one whole-stage-codegen scan computes the md5
    bucket and the CASE label; no shuffle, no state. Downstream writers
    partition by the split column (sources/io.write_parquet clustered
    mode), so the split costs one scan regardless of corpus size, and the
    assignment of any document is reproducible from its id alone on any
    engine with md5 (the portable-hash contract shared with the HLL and
    CMS sketches)."""
    docs = t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    bkt = h % 100
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# PIPE9 — overlapping token-window RAG chunking (driver-visible query)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP

_CHUNKS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
),
meta AS (
  SELECT doc_id, tk,
         1 + CAST(floor((greatest(len(tk) - {_CHUNK_TOKENS}, 0)
                         + {_CHUNK_STRIDE - 1}) / {_CHUNK_STRIDE}) AS INT) AS n_chunks
  FROM toks
),
ids AS (SELECT doc_id, tk, unnest(range(0, n_chunks)) AS cid FROM meta)
SELECT doc_id,
       CAST(cid AS INT) AS chunk_id,
       CAST(len(tk[(cid*{_CHUNK_STRIDE} + 1):(cid*{_CHUNK_STRIDE} + {_CHUNK_TOKENS})]) AS INT)
         AS n_tokens,
       array_to_string(tk[(cid*{_CHUNK_STRIDE} + 1):(cid*{_CHUNK_STRIDE} + {_CHUNK_TOKENS})], ' ')
         AS chunk_text
FROM ids
"""


@query("doc_chunks", ("PIPE9",), oracle=_CHUNKS_ORACLE, tags=("pipeline",))
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingestion chunking: every document split into overlapping
    64-token windows with 16-token overlap (operators/chunking.py) —
    one (doc_id, chunk_id) row per window, ready for the embed step.

    Scale shape: map-only — tokenization, window arithmetic and slicing
    are Column expressions in one codegen scan; the fan-out is a Generate
    (explode), never a shuffle. The window math is pure integer
    arithmetic, so the DuckDB oracle reproduces it exactly."""
    from open_data_lakehouse_demo_spark.operators.chunking import chunk_documents

    docs = t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )
