"""Streaming ingestion: curation-at-ingest for an LLM data pipeline.

The batch inventory curates a RESTING corpus (text_quality_profile,
language_id, doc_fingerprints, exact_dedup_docs, cosine_topk_ivf*);
this module is the same curation applied WHILE the corpus arrives —
the shape a production pipeline actually runs, where scoring, language
routing, in-flight dedup and index maintenance happen once per
document at ingest instead of as full-corpus rescans later.

Design rule: every transformation here is either a stateless Column
program or a watermark-bounded stateful operator, so it runs
UNCHANGED over a batch DataFrame and a streaming DataFrame — the
batch run IS the oracle. tests/test_streaming_ingest.py drives each
one through a real file-source StreamingQuery and asserts
row-identical output vs the batch execution on the same input
(SURVEY §5.4's twin contract, same as streaming/rollups.py).

Scale shape at 100 TB/day ingest:
  - curation_features / chunking: map-only, whole-stage codegen, no
    state, no shuffle — scales with source parallelism.
  - dedup_exact_stream: state is one key per DISTINCT fingerprint
    inside the watermark horizon (bounded, RocksDB-spillable), not
    corpus-lifetime — in-flight dedup bounds state; corpus-lifetime
    exact dedup remains the batch job (exact_dedup_docs) or the
    Bloom-gated incremental path (incremental_near_dups' pattern).
  - ivf_ingest_stream: the codebook is a driver-side literal (C×DIM
    floats — same HONEST LIMIT as operators/similarity.assign_ids_batch);
    assignment and the vector norm are one Arrow-batched projection per
    micro-batch and the sink partitions by centroid_id, so the inverted
    lists ARE the directory layout and a later search job prunes lists
    by path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_data_lakehouse_demo_spark.functions import text as tx


def curation_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document ingest-time curation record: quality features,
    language route, exact-content fingerprint, token budget.

    Stateless Column program — the streaming twin of the batch
    text_quality_profile + language_id + md5 arm of doc_fingerprints
    (plans/inventory_text.py), sharing the same functions/text.py
    builders so the two executions are expression-identical. Ratio
    columns are NULL for token-free docs, exactly as in the batch
    twin."""
    text_c: Column = F.coalesce(F.col(text_col), F.lit(""))
    ws = tx.ws_token_count(text_c)
    nchars = F.length(text_c).cast("bigint")
    stop_ratio = tx.stopword_count(text_c).cast("double") / ws
    alpha_ratio = tx.alpha_count(text_c).cast("double") / nchars
    return docs.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        tx.est_token_count(text_c).alias("est_tokens"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        tx.quality_band(stop_ratio, alpha_ratio, ws).alias("quality_band"),
        tx.predicted_lang(text_c).alias("predicted_lang"),
        F.md5(text_c).alias("content_md5"),
    )


def dedup_exact_stream(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    fp_col: str = "content_md5",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins exact dedup over the ingest stream.

    dropDuplicatesWithinWatermark keys state by ``fp_col`` and expires
    each key one watermark horizon after its event time — bounded
    state, the only sound contract for an unbounded corpus (a plain
    dropDuplicates would grow state forever). Duplicates farther apart
    than the horizon are the batch job's problem (exact_dedup_docs),
    the standard two-tier dedup split."""
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [fp_col]
    )


def ivf_ingest_stream(
    vecs: DataFrame,
    vids: list[int],
    mat,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign arriving vectors to their IVF inverted list at ingest.

    (centroid_id, vid, vec, nrm) per input vector from ONE pass of the
    kernel the batch search corpus side runs
    (operators/similarity.assign_ids_batch: top-1 list id and the fold
    norm, bit-identical to ``norm()`` — see the parity argument there),
    so a search job over the partitioned sink and the batch ivf_topk
    over the same rows consult identical lists and norms. Write with
    ``.partitionBy("centroid_id")`` to make the inverted lists the
    directory layout."""
    from open_data_lakehouse_demo_spark.operators import similarity as sim

    return vecs.select(
        sim.assign_ids_batch(vec_col, vids, mat).alias("an"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
    ).select(F.col("an.assigns")[0].alias("centroid_id"), "vid", "vec", "an.nrm")


def init_scrub_ingest(spark, index_path: str, clean_path: str, like: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = 4) -> None:
    """Create the two logged tables scrub-at-ingest maintains: the
    positioned-hash index (empty snapshot 0) and the curated clean-docs
    table (scrub output schema). ``like`` supplies the document schema
    (any DataFrame with id/text columns; no rows are read). ``k`` is
    forwarded for symmetry with scrub_ingest_handler — the (doc, pos, h)
    index schema itself is k-independent, but init and handler should
    be configured from the same value."""
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    empty = like.limit(0)
    tl.create(spark, index_path, dedup._positioned_hashes(empty, id_col, text_col, k))
    tl.create(
        spark, clean_path,
        dedup.scrub_batch_incremental(empty, empty, id_col, text_col, k=k),
    )


def scrub_ingest_handler(spark, index_path: str, clean_path: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 4, min_run: int = 4, max_df: int = 20,
                         writer: str = "scrub-ingest"):
    """foreachBatch handler for EXACTLY-ONCE ExactSubstr curation at
    ingest: each micro-batch is scrubbed against the accumulated logged
    index (operators/dedup.py scrub_batch_logged), the clean rows land in
    the curated table, and the batch's positioned hashes append to the
    index — BOTH appends carry txn=(writer, batch_id), so a replayed
    micro-batch after a crash is a no-op on whichever append already
    committed.

    Crash-replay determinism is exactly scrub_batch_logged's
    order-independence contract: the scrub computes the batch's hashes
    fresh and anti-joins its ids out of the index read, so recomputing a
    batch whose index append DID survive the crash yields the identical
    clean rows the first attempt produced (tested). Combined with the
    id-based keep-first policy and monotonic ingest ids, the curated
    table converges to the same rows a full-corpus batch scrub would
    emit — per-batch cost, never a corpus rewrite.

    Wire with ``docs_stream.writeStream.foreachBatch(handler)`` (see
    streaming/job.py run_pipeline for the trigger/checkpoint wiring).

    RETIREMENT CAVEAT: the two appends are separate commits sharing one
    txn id. A crash BETWEEN them leaves the curated table containing a
    batch whose hashes are absent from the index — convergence relies on
    the checkpointed stream actually REPLAYING that micro-batch (the
    replay's clean append no-ops, the index append completes). A stream
    retired for good after such a crash permanently misses that batch's
    spans for future partners; restart the stream (even with no new
    input) before retiring it.
    """
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        clean = dedup.scrub_batch_logged(
            spark, index_path, batch_df, id_col, text_col,
            k=k, min_run=min_run, max_df=max_df,
        )
        tl.append(spark, clean_path, clean, txn=(writer, batch_id))
        dedup.append_substr_index_logged(
            spark, index_path, batch_df, id_col, text_col, k=k,
            txn=(writer, batch_id),
        )

    return handle


def init_minhash_ingest(spark, index_path: str, curated_path: str,
                        like: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3) -> None:
    """Create the tables near-dup-dedup-at-ingest maintains: the logged
    MinHash index pair (operators/dedup.py build_minhash_index_logged —
    {index_path}/sets + {index_path}/bands, both empty snapshot 0) and
    the curated unique-docs table (the input document schema verbatim).
    ``like`` supplies the schema (no rows are read); ``n`` is forwarded
    for symmetry with minhash_ingest_handler — init and handler should
    be configured from the same value."""
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    dedup.build_minhash_index_logged(
        like.limit(0), index_path, id_col, text_col, n=n
    )
    tl.create(spark, curated_path, like.limit(0))


def minhash_ingest_handler(spark, index_path: str, curated_path: str,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 3, threshold: float = 0.8,
                           writer: str = "minhash-ingest"):
    """foreachBatch handler for EXACTLY-ONCE near-dup dedup at ingest —
    the MinHash sibling of scrub_ingest_handler, closing the
    curation-at-ingest set (exact dedup: dedup_exact_stream; span scrub:
    scrub_ingest_handler; near-dup drop: here). Each micro-batch:

      1. pairs = near_dups_batch_logged(batch vs accumulated index) —
         EXACTLY the full-corpus MinHash pair set restricted to pairs
         touching the batch (operators/dedup.py contract);
      2. batch docs appearing as the HIGHER id of any pair are dropped
         (keep-first by id — the doc_a side is an already-kept corpus
         doc or an earlier batch doc); survivors append to the curated
         table;
      3. the FULL batch (survivors and drops) appends to the index.

    Indexing drops keeps the detection contract exact — future batches
    dedup against the same full corpus the batch inventory's
    incremental_near_dups sees, not a thresholded subset (Jaccard at a
    threshold is not transitive, so dedup-against-survivors-only could
    miss a pair the full-corpus run reports). The cost is index rows
    for dropped docs — linear, and reclaimable by a periodic rebuild
    from the curated table where the weaker contract is acceptable.

    POLICY NOTE: the per-batch keep-first drop is the streaming-feasible
    greedy — within one batch, a doc drops if ANY smaller-id partner
    pairs with it, even when that partner itself dropped (pairwise, not
    connected-components + keep-best like the batch dup_cluster_canonical
    job; a doc dropped here is near-identical to SOME kept-or-dropped
    smaller id, and chains bottom out at a kept cluster minimum).

    PRECONDITION — MONOTONIC INGEST IDS (same as scrub_ingest_handler):
    keep-first is id-based, and already-curated docs are immutable. A
    batch doc with a SMALLER id than its indexed partner produces a pair
    whose doc_b is the OLD doc — which cannot be retro-dropped — so BOTH
    members survive in the curated table (r10 review). Under backfill /
    multi-source ingest where ids don't grow monotonically, run the
    batch dedup jobs (dup_cluster_canonical) over the curated table to
    reconcile, or derive ingest ids from a monotonic sequence.

    Exactly-once: three commits per batch — curated append, then the
    index pair's sets+bands appends — all carrying txn=(writer,
    batch_id), each idempotent PER TABLE, and the near-dup query is
    order-independent (anti-join on batch ids), so a replayed
    micro-batch recomputes the identical drop set and no-ops whichever
    commits already landed. Same RETIREMENT CAVEAT as
    scrub_ingest_handler: a crash between commits needs the stream
    restarted (replay heals) before being retired for good.

    Wire with ``docs_stream.writeStream.foreachBatch(handler)``.
    """
    from open_data_lakehouse_demo_spark.operators import dedup
    from open_data_lakehouse_demo_spark.sources import table_log as tl

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from open_data_lakehouse_demo_spark.sources.io import materialize

        # shingle hashing is the CPU hot spot — pay it ONCE per batch
        # and feed both the dedup query and the index appends (r10
        # review: the query and append each re-hashed the batch)
        sets = materialize(
            dedup._doc_shingle_sets(batch_df, id_col, text_col, n)
        )
        pairs = dedup.near_dups_batch_logged(
            spark, index_path, batch_df, id_col, text_col,
            n=n, threshold=threshold, sets=sets,
        )
        drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        survivors = batch_df.join(drop, id_col, "left_anti")
        tl.append(spark, curated_path, survivors, txn=(writer, batch_id))
        dedup.append_minhash_index_logged(
            spark, index_path, batch_df, id_col, text_col, n=n,
            txn=(writer, batch_id), sets=sets,
        )

    return handle
