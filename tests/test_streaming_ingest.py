"""Streaming ingestion twins (streaming/ingest.py) vs their batch oracle.

Per the module's design rule, every transformation must produce
row-identical output run over the same input as a batch DataFrame and
as a real file-source StreamingQuery — these tests drive both
executions. Dedup additionally exercises cross-micro-batch state
(duplicate arriving in a LATER file drop is suppressed).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.sources.io import read_parquet
from open_data_lakehouse_demo_spark.streaming import ingest
from tests.conftest import SF_DIR


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _run_stream(spark, src_dir, schema, transform, out_name, tmp_path):
    """Drive transform over a file-source stream; return the sink rows."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out_dir = str(tmp_path / f"{out_name}_sink")
    cp = str(tmp_path / f"{out_name}_cp")
    q = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


@pytest.fixture()
def docs_src(spark, tmp_path):
    """A 200-doc slice of the documents fixture, staged as a stream source."""
    src = str(tmp_path / "docs_src")
    read_parquet(spark, f"{SF_DIR}/documents.parquet").limit(200).coalesce(
        1
    ).write.parquet(src)
    return src


def test_curation_features_stream_matches_batch(spark, tmp_path, docs_src):
    batch = spark.read.parquet(docs_src)
    expected = _rows(ingest.curation_features(batch))
    got = _rows(
        _run_stream(
            spark, docs_src, batch.schema, ingest.curation_features,
            "curation", tmp_path,
        )
    )
    assert got == expected
    assert len(got) == 200


def test_chunking_at_ingest_matches_batch(spark, tmp_path, docs_src):
    """chunk_documents is a stateless Column+Generate program, so RAG
    chunking runs at ingest unchanged — same rows as the batch pass."""
    from open_data_lakehouse_demo_spark.operators.chunking import chunk_documents

    batch = spark.read.parquet(docs_src).withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    expected = _rows(chunk_documents(batch, chunk_tokens=64, overlap=16))
    got = _rows(
        _run_stream(
            spark,
            docs_src,
            spark.read.parquet(docs_src).schema,
            lambda s: chunk_documents(
                s.withColumn("text", F.coalesce(F.col("text"), F.lit(""))),
                chunk_tokens=64,
                overlap=16,
            ),
            "chunks",
            tmp_path,
        )
    )
    assert got == expected


def test_dedup_exact_stream_suppresses_cross_batch_duplicates(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    cols = ["doc_id", "text", "ingest_ts"]
    batch1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "2025-01-01 10:00:00"),
            (2, "delta epsilon", "2025-01-01 10:00:10"),
            (3, "alpha beta gamma", "2025-01-01 10:00:20"),  # in-batch dup of 1
        ],
        cols,
    ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    batch1.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch1.schema)
        .parquet(src)
        .withColumn("content_md5", F.md5(F.col("text")))
    )
    out_dir = str(tmp_path / "dedup_sink")
    cp = str(tmp_path / "dedup_cp")
    q = (
        ingest.dedup_exact_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        batch2 = spark.createDataFrame(
            [
                (4, "delta epsilon", "2025-01-01 10:01:00"),  # cross-batch dup of 2
                (5, "zeta eta theta", "2025-01-01 10:01:10"),  # new
            ],
            cols,
        ).withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
        batch2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(out_dir)
    # one row per distinct content; in-batch AND cross-batch dups dropped
    kept_texts = sorted(r["text"] for r in out.collect())
    assert kept_texts == ["alpha beta gamma", "delta epsilon", "zeta eta theta"]
    # first arrival wins: doc 4 (dup of 2) never reaches the sink
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 5]


def test_ivf_ingest_stream_matches_batch_assignment(spark, tmp_path):
    from open_data_lakehouse_demo_spark.operators import similarity as sim

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    src = str(tmp_path / "vec_src")
    emb.limit(300).coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)

    base = batch.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
    vids, mat = sim._kmeans_train(base, 8, 1)

    expected = _rows(ingest.ivf_ingest_stream(batch, vids, mat))

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out_dir = str(tmp_path / "ivf_sink")
    cp = str(tmp_path / "ivf_cp")
    q = (
        ingest.ivf_ingest_stream(stream, vids, mat)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .partitionBy("centroid_id")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(out_dir)
    assert _rows(out) == expected
    # the inverted lists ARE the directory layout
    parts = [d for d in os.listdir(out_dir) if d.startswith("centroid_id=")]
    assert len(parts) == out.select("centroid_id").distinct().count()
    # every list id is one of the trained codebook's centroids
    assigned = {r["centroid_id"] for r in out.select("centroid_id").distinct().collect()}
    assert assigned <= set(vids)


def test_scrub_ingest_pipeline_exactly_once(spark, tmp_path):
    """Scrub-at-ingest (streaming/ingest.py scrub_ingest_handler): two
    micro-batches through a real foreachBatch stream — the curated table
    must equal the FULL-corpus batch scrub (monotonic ids make per-batch
    incremental scrubs compose to exactly that), and a replayed
    micro-batch must be a no-op on both logged tables."""
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.streaming.ingest import (
        init_scrub_ingest,
        scrub_ingest_handler,
    )

    span = " ".join(f"s{i}" for i in range(10))
    b1 = [
        (1, "alpha beta gamma " + span + " delta epsilon"),
        (2, "plain first-wave text with no overlap at all"),
    ]
    b2 = [
        (10, "second wave copy " + span + " trailing tokens"),
        (11, "fresh unrelated material nothing shared anywhere"),
    ]
    schema = "doc_id BIGINT, text STRING"
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two separate files + maxFilesPerTrigger=1 → two micro-batches
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f1.parquet")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f2.parquet")

    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    init_scrub_ingest(spark, idx, clean, spark.createDataFrame([], schema))
    handler = scrub_ingest_handler(spark, idx, clean)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*.parquet")
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(b1 + b2, schema)
    want = sorted(
        tuple(r)
        for r in dedup.scrub_shared_spans(all_docs, "doc_id", "text").collect()
    )
    got = sorted(tuple(r) for r in tl.read(spark, clean).collect())
    assert got == want  # per-batch scrubs composed to the full-corpus scrub
    assert {r[0] for r in got} == {1, 2, 10, 11}

    # replay the last micro-batch: both appends are txn no-ops
    s_idx, s_clean = tl._list_snapshots(idx)[-1], tl._list_snapshots(clean)[-1]
    handler(spark.createDataFrame(b2, schema), 1)
    assert tl._list_snapshots(idx)[-1] == s_idx
    assert tl._list_snapshots(clean)[-1] == s_clean
    assert sorted(tuple(r) for r in tl.read(spark, clean).collect()) == want


def test_scrub_ingest_matches_incremental_scrub_per_batch(spark, tmp_path):
    """VERDICT r8 item #6: tie the T13 scrub-at-ingest handler to the
    ORACLE-CHECKED surface the way the T2/T3 twins do — each micro-batch's
    appended clean rows must equal dedup.scrub_batch_incremental (the
    incremental_scrub_batch query's operator) run with corpus = all
    earlier batches and batch = this micro-batch, under monotonic ids.
    Includes an IN-batch partner pair (both sides arriving in one
    micro-batch) and a cross-batch partner, so both index sources (the
    logged prior batches + the batch's fresh hashes) are exercised."""
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.streaming.ingest import (
        init_scrub_ingest,
        scrub_ingest_handler,
    )

    span = " ".join(f"s{i}" for i in range(10))
    span2 = " ".join(f"t{i}" for i in range(9))
    span3 = " ".join(f"u{i}" for i in range(8))
    batches = [
        [
            (1, "alpha beta gamma " + span + " delta epsilon"),
            (2, "first wave " + span2 + " no other overlap"),
        ],
        [
            (10, "second wave copy " + span + " trailing tokens"),
            # in-batch partners: span3 is new this batch and 11 < 12,
            # so 12 loses its copy to 11 within ONE micro-batch
            (11, "left partner " + span3 + " tail left"),
            (12, "right partner " + span3 + " tail right"),
        ],
        [
            (20, "third wave hits both " + span + " and " + span2 + " here"),
            (21, "nothing shared in the third wave closer"),
        ],
    ]
    schema = "doc_id BIGINT, text STRING"
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )

    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    init_scrub_ingest(spark, idx, clean, spark.createDataFrame([], schema))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*.parquet")
        .writeStream.foreachBatch(scrub_ingest_handler(spark, idx, clean))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # one clean-table snapshot per micro-batch (plus the empty create)
    snaps = tl._list_snapshots(clean)
    assert len(snaps) == len(batches) + 1
    for i, b in enumerate(batches):
        after = {r[0]: tuple(r) for r in tl.read(spark, clean, snaps[i + 1]).collect()}
        before = set(tl.read(spark, clean, snaps[i]).select("doc_id").toPandas()["doc_id"])
        delta = sorted(v for k, v in after.items() if k not in before)
        corpus = spark.createDataFrame(
            sum(batches[:i], []) or [], schema
        )
        batch = spark.createDataFrame(b, schema)
        want = sorted(
            tuple(r)
            for r in dedup.scrub_batch_incremental(
                corpus, batch, "doc_id", "text"
            ).collect()
        )
        assert delta == want, f"micro-batch {i} diverged from incremental scrub"
    # sanity: the in-batch keep-first actually cut something (doc 12),
    # and the cross-batch partner cut doc 10 and doc 20
    final = {r["doc_id"]: r["n_tokens_removed"] for r in tl.read(spark, clean).collect()}
    assert final[12] > 0 and final[11] == 0
    assert final[10] > 0 and final[20] > 0


def test_minhash_ingest_drops_near_dups_exactly_once(spark, tmp_path):
    """Near-dup-dedup-at-ingest (streaming/ingest.py
    minhash_ingest_handler): three micro-batches through a real
    foreachBatch stream — each batch's curated delta must equal the
    documented keep-first policy applied to
    dedup.minhash_lsh_pairs_incremental (the incremental_near_dups
    query's ORACLE-CHECKED operator) with corpus = all earlier FULL
    batches; a doc duplicating an already-DROPPED doc still drops (the
    index-the-full-batch contract); and a replayed micro-batch is a
    no-op on all three logged tables."""
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl
    from open_data_lakehouse_demo_spark.streaming.ingest import (
        init_minhash_ingest,
        minhash_ingest_handler,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today tail0"
    s2 = ("another very long sentence describing adaptive query execution "
          "behavior in great detail for this deduplication ingest test case")
    batches = [
        [(1, base),
         (2, "completely different content about spark shuffle partitions and joins")],
        [(10, base),          # cross-batch dup of 1 → dropped
         (11, s2),            # new cluster seed → kept
         (12, s2 + " extra")],  # in-batch near-dup of 11 → dropped
        [(20, base),          # dups BOTH 1 (kept) and 10 (dropped) → dropped
         (21, "nothing shared in the third wave closer at all today")],
    ]
    schema = "doc_id BIGINT, text STRING"
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{src}/f{i}.parquet")

    idx, curated = str(tmp_path / "mh_idx"), str(tmp_path / "curated")
    init_minhash_ingest(spark, idx, curated, spark.createDataFrame([], schema))
    handler = minhash_ingest_handler(spark, idx, curated)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*.parquet")
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the headline: dropped docs stay indexed, so 20 drops via 10 even
    # though 10 itself was dropped — curated is exactly the keep-first set
    assert sorted(
        r["doc_id"] for r in tl.read(spark, curated).collect()
    ) == [1, 2, 11, 21]

    # per-batch deltas == the policy twin over the oracle-checked operator
    snaps = tl._list_snapshots(curated)
    assert len(snaps) == len(batches) + 1
    for i, b in enumerate(batches):
        after = {r[0] for r in tl.read(spark, curated, snaps[i + 1]).collect()}
        before = {r[0] for r in tl.read(spark, curated, snaps[i]).collect()}
        corpus = spark.createDataFrame(sum(batches[:i], []) or [], schema)
        batch = spark.createDataFrame(b, schema)
        pairs = dedup.minhash_lsh_pairs_incremental(
            corpus, batch, "doc_id", "text", n=3, threshold=0.8
        ).collect()
        drop = {r["doc_b"] for r in pairs}
        want = {d for d, _ in b if d not in drop}
        assert after - before == want, f"micro-batch {i} diverged from policy twin"

    # replay the last micro-batch: txn no-ops on curated AND both index tables
    marks = [tl._list_snapshots(p)[-1]
             for p in (curated, f"{idx}/sets", f"{idx}/bands")]
    handler(spark.createDataFrame(batches[-1], schema), 2)
    assert [tl._list_snapshots(p)[-1]
            for p in (curated, f"{idx}/sets", f"{idx}/bands")] == marks
    assert sorted(r["doc_id"] for r in tl.read(spark, curated).collect()) == [1, 2, 11, 21]
