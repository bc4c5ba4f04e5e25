"""Curated-corpus composite pipeline: oracle parity + stage semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
from open_data_lakehouse_demo_spark.sources.io import session_cached
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_matches_oracle


def test_curated_corpus_oracle_parity(spark, duck):
    q = QUERIES["curated_corpus"]
    assert q.oracle is not None
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "curated_corpus")


def test_curated_corpus_drops_near_dups(spark):
    out = QUERIES["curated_corpus"].spark(spark, SF_DIR)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    pairs = QUERIES["minhash_lsh_dups"].spark(spark, SF_DIR).collect()
    assert len(pairs) > 0  # fixture actually contains near-dups
    for p in pairs:
        assert p["doc_b"] not in kept  # higher id of every verified pair dropped
    # survivors respect the quality gate
    bad = out.filter((F.col("alpha_ratio") < 0.4) | (F.col("ws_tokens") < 5)).count()
    assert bad == 0


def test_token_shard_assignment_matches_oracle_and_budget(spark, duck):
    """Two-phase parallel prefix sum must equal the single-window oracle;
    every shard except the last must reach the token budget."""
    from tests.oracle_utils import assert_matches_oracle

    q = QUERIES["token_shard_assignment"]
    sdf = q.spark(spark, SF_DIR)
    assert_matches_oracle(sdf, duck, q.oracle, "token_shard_assignment")
    rows = sorted(sdf.collect(), key=lambda r: r["doc_id"])
    # prefix sums strictly increase and shards are monotone non-decreasing
    for a, b in zip(rows, rows[1:]):
        assert b["cum_tokens"] == a["cum_tokens"] + b["n_tokens"]
        assert b["shard"] >= a["shard"]
    last_cum: dict[int, int] = {}
    for r in rows:  # rows are in doc_id order
        last_cum[r["shard"]] = r["cum_tokens"]
    last = max(last_cum)
    for s, cum in last_cum.items():
        if s != last:
            # a shard only closes once the running total reaches the next
            # budget boundary (follows from shard = prefix_before DIV T:
            # the next occupied shard s' ≥ s+1 opens at prefix ≥ (s+1)·T)
            assert cum >= (s + 1) * 20000, (s, cum)


def test_token_shard_assignment_invariant_to_partitioning(spark):
    """The two-phase prefix sum must give identical results no matter how
    many range partitions the cuts land in (1, 3, 17) — the property that
    makes the parallel form safe to substitute for the single window."""
    from open_data_lakehouse_demo_spark.operators.sharding import assign_token_shards

    rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    results = []
    for n in (1, 3, 17):
        got = sorted(
            tuple(r)
            for r in assign_token_shards(
                df, "doc_id", "n_tokens", target_tokens=700, n_partitions=n
            ).collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_mixture_sample_water_filling_semantics(spark):
    """Hand-computed water-filling: the binding language keeps ~everything
    (rate 1.0), others downsample to the target proportions; languages
    outside the mix are dropped entirely."""
    from open_data_lakehouse_demo_spark.plans.inventory_corpus import _MIX_SHARES

    # en:zh token mass 10:1 but targets 0.5:0.05 -> caps at 10000/0.5 vs
    # 1000/0.05 = 20000 each... make zh binding: give zh plenty
    rows = []
    did = 0
    for lang, n_docs, tokens_per_doc in (("en", 40, 100), ("zh", 30, 100), ("xx", 5, 100)):
        for _ in range(n_docs):
            rows.append((did, "w " * tokens_per_doc, lang, "s", tokens_per_doc))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    import open_data_lakehouse_demo_spark.plans.inventory_corpus as corpus_mod
    from open_data_lakehouse_demo_spark.operators import dedup as dedup_mod
    from pyspark.sql import functions as F

    # replicate the query body over this frame (the registered query reads
    # parquet; the operator logic is what we exercise)
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
    got = {r["lang"]: r["rate"] for r in rates.collect() if r["rate"] is not None}
    # caps: en 4000/0.5 = 8000; zh 3000/0.05 = 60000 -> T = 8000 (en binds)
    assert abs(got["en"] - 1.0) < 1e-12          # binding language keeps all
    assert abs(got["zh"] - 8000 * 0.05 / 3000) < 1e-12  # 0.1333...
    assert "xx" not in got                        # outside the mix -> dropped
    h = dedup_mod.token_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#mix")))
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .filter(h.cast("double") / F.lit(4294967296.0) < F.col("rate"))
    )
    kept_langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert "xx" not in kept_langs
    assert kept.filter(F.col("lang") == "en").count() == 40  # rate 1.0 keeps all


def test_hash_split_assignment_oracle_parity(spark, duck):
    q = QUERIES["hash_split_assignment"]
    assert_matches_oracle(q.spark(spark, SF_DIR), duck, q.oracle, "hash_split_assignment")


def test_hash_split_stable_under_corpus_growth(spark):
    """A document's split never changes when the corpus around it does —
    the decontamination-across-refreshes property of a salted hash split."""
    q = QUERIES["hash_split_assignment"]
    full = {r["doc_id"]: r["split"] for r in q.spark(spark, SF_DIR).collect()}
    small = {
        r["doc_id"]: r["split"]
        for r in q.spark(spark, "/root/testdata/sf0.001").collect()
    }
    assert small  # non-empty subset corpus
    for doc_id, split in small.items():
        if doc_id in full:
            assert full[doc_id] == split
    # all three splits materialize and ratios are plausibly 80/10/10
    from collections import Counter

    cnt = Counter(full.values())
    assert set(cnt) == {"train", "val", "test"}
    assert cnt["train"] > cnt["val"] and cnt["train"] > cnt["test"]


def test_decontaminate_empty_eval_split(spark, tmp_path):
    """ADVICE r8: a fixture whose eval split (doc_id % 97 == 0) is empty
    must return the corpus unchanged, not throw a SQL parse error from
    an empty IN-list — for both the exact InSet path and the bloom
    variant's flag query (which correctly flags nothing)."""
    import open_data_lakehouse_demo_spark.plans.inventory_corpus as ic

    docs = spark.createDataFrame(
        [(i, "en", "web", "alpha beta gamma delta " * 5) for i in (1, 2, 3, 98)],
        "doc_id long, lang string, source string, text string",
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    out = QUERIES["benchmark_decontaminate"].spark(spark, sf)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3, 98]
    bloom = QUERIES["bloom_decontaminate"].spark(spark, sf)
    assert bloom.count() == 0
    ic.clear_decon_eval_cache()
    ic.clear_bloom_eval_cache()


def test_decontaminate_inset_cap_falls_back_to_semi_join(spark, monkeypatch):
    """Past the job-shippable literal-count cap the exact path must
    switch to the broadcast semi-join twin — same rows either way."""
    import open_data_lakehouse_demo_spark.plans.inventory_corpus as ic

    q = QUERIES["benchmark_decontaminate"]
    want = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    ic.clear_decon_eval_cache()
    monkeypatch.setattr(ic, "_DECON_INSET_MAX", 1)
    got = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    # the oversized verdict memoizes (None sentinel, r9 ADVICE): the
    # expensive cap-probe job must not re-run on every invocation
    cached = session_cached(spark, "decon_eval", SF_DIR,
                            lambda: pytest.fail("verdict not cached"))
    assert cached is None
    again = sorted(tuple(r) for r in q.spark(spark, SF_DIR).collect())
    ic.clear_decon_eval_cache()
    assert got == want
    assert again == want  # sentinel-hit path returns the same semi-join rows
