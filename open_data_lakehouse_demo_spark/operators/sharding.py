"""Token-budget output sharding — distributed prefix sum (PIPE4).

The last step of a curation pipeline: split the corpus into shard files of
~``target_tokens`` each, in a stable document order, so downstream
tokenizer/training jobs stream balanced inputs. Shard id is a function of
the GLOBAL running token count — a prefix sum over the whole corpus —
which naive Spark expresses as a single-partition window (the classic
scale-killer: every row through one task).

Here it's the textbook two-phase parallel prefix sum instead:

  1. range-repartition by the order key (partition i holds strictly
     smaller keys than partition i+1);
  2. per-partition token totals → a PARTITION-COUNT-sized table; its
     running sum (computed on that tiny table) is each partition's global
     offset, broadcast back;
  3. within-partition running sums are an ordinary distributed window
     (partitioned BY the range partition), plus the offset.

The result is bit-identical to the single-partition window — the oracle
SQL IS the plain `SUM() OVER (ORDER BY …)` — but every stage is
partition-parallel and the only driver-sized data is one row per
partition. Range boundaries come from sampling and may vary run to run;
the final prefix sums are invariant to where the cuts land, so the output
is deterministic anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_token_shards(
    docs: DataFrame,
    order_col: str,
    tokens_col: str,
    target_tokens: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Add ``shard`` = global-prefix-sum(tokens) div target, ordered by
    ``order_col``. Output: (order_col, tokens_col, cum_tokens, shard).

    A document's shard is decided by the tokens BEFORE it (so the first
    document of every shard starts the budget), matching the oracle's
    ``(cum - tokens) // target``.

    PRECONDITION: ``order_col`` must be UNIQUE (a document id).  With
    duplicate keys the within-partition ROWS-frame running sum — and the
    plain ``SUM() OVER (ORDER BY …)`` oracle — are both tie-order-
    nondeterministic, so the "bit-identical to the single-partition
    window" claim only holds for a total order; and a caller joining
    shards back on ``order_col`` would multiply rows under dups. Callers
    with a non-unique sort key should concat a unique suffix (e.g.
    ``concat(sort_key, '#', doc_id)``) before calling.
    """
    from open_data_lakehouse_demo_spark.sources.io import materialize

    spark = docs.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    # r13 (guide §1.2/§2.4 — don't run the expensive pass twice): the
    # range exchange SAMPLES its child to pick boundaries, and that
    # sketch pass executes the full upstream lineage (scan + tokenize at
    # the call sites) once before the shuffle map stage executes it
    # again. Checkpointing the narrow (order, tokens) projection first
    # makes the lineage run ONCE; the sampler and the shuffle both read
    # the materialized numeric blocks. At 100 TB that is one full text
    # scan instead of two, for a checkpoint of ~16 B/doc.
    narrow = materialize(docs.select(order_col, tokens_col))
    ranged = narrow.repartitionByRange(n_parts, F.col(order_col))
    # MUST materialize: both the offsets aggregate and the final join read
    # this frame, and correctness requires both branches to see the SAME
    # sampled range boundaries / partition ids. Relying on ReuseExchange to
    # dedupe the shuffle is fragile (it breaks on any plan divergence);
    # the checkpoint pins one physical partitioning for both consumers.
    with_pid = materialize(ranged.withColumn("_pid", F.spark_partition_id()))
    # tiny: one row per partition; running sum = global offset per pid.
    # partitionBy(lit(0)) ≡ an unpartitioned window over this ≤n_parts-row
    # relation (one constant key ⇒ one partition, same order, same frame)
    # but keeps the plan's partition spec non-empty, silencing the
    # "No Partition Defined" WindowExec warning that is vacuous here —
    # the input is bounded by the partition count, never by the corpus.
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.sum(tokens_col).alias("_ptotal"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_ptotal").over(
                    Window.partitionBy(F.lit(0)).orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    win = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "cum_tokens",
            (F.col("_offset") + F.sum(tokens_col).over(win)).cast("bigint"),
        )
        .withColumn(
            "shard",
            F.expr(
                f"CAST((cum_tokens - {tokens_col}) DIV {int(target_tokens)} AS INT)"
            ),
        )
        .select(order_col, tokens_col, "cum_tokens", "shard")
    )


def assign_packed_examples(
    docs: DataFrame,
    order_col: str,
    tokens_col: str,
    seq_len: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk example assignment (GPT-style pretraining packing):
    documents are concatenated in ``order_col`` order and cut into
    fixed-``seq_len`` training examples; each document learns which
    example(s) its tokens land in.

    Derived entirely from the same two-phase distributed prefix sum as
    ``assign_token_shards`` (the global running token count), so it
    inherits that operator's scalability and its ``order_col`` UNIQUENESS
    precondition.  Output per doc:
      first_example  = (cum - tokens) // seq_len   (0-based)
      last_example   = (cum - 1)      // seq_len
      offset_in_example = (cum - tokens) % seq_len
      crosses_boundary  = first_example != last_example
    — exactly what a tokenizer job needs to route each document's tokens
    into packed sequences (and to decide attention-mask resets at doc
    boundaries).  PRECONDITION: every doc has tokens ≥ 1 (a 0-token doc
    would compute last = first - 1 from the cum-1 arithmetic — filter
    empties upstream, as any tokenizer pipeline does).
    """
    assigned = assign_token_shards(
        docs, order_col, tokens_col, target_tokens=seq_len, n_partitions=n_partitions
    )
    first = F.expr(f"CAST((cum_tokens - {tokens_col}) DIV {int(seq_len)} AS BIGINT)")
    last = F.expr(f"CAST((cum_tokens - 1) DIV {int(seq_len)} AS BIGINT)")
    return assigned.select(
        order_col,
        tokens_col,
        "cum_tokens",
        first.alias("first_example"),
        last.alias("last_example"),
        F.expr(f"CAST((cum_tokens - {tokens_col}) % {int(seq_len)} AS BIGINT)").alias(
            "offset_in_example"
        ),
        (first != last).alias("crosses_boundary"),
    )


def global_row_number(
    df: DataFrame,
    order_cols,
    rank_col: str = "rank",
    n_partitions: int | None = None,
) -> DataFrame:
    """Global ROW_NUMBER() over a TOTAL order without the single-partition
    window — the ranking twin of ``assign_token_shards``'s two-phase
    prefix sum:

      1. range-repartition by the order expressions (partition i holds
         strictly smaller sort keys than partition i+1);
      2. per-partition row counts → a partition-count-sized table whose
         running sum is each partition's global rank offset (broadcast);
      3. within-partition ``row_number`` (an ordinary distributed window,
         partitioned BY the range partition) + the offset.

    Bit-identical to ``ROW_NUMBER() OVER (ORDER BY …)`` when the order is
    total (include a unique tiebreak column); every stage is
    partition-parallel and the only driver-sized data is one row per
    partition. ``order_cols`` accepts sort expressions (``.desc()`` etc.)
    — they feed both the range partitioner and the in-partition window.
    Adds ``rank_col`` (1-based bigint).

    WIDTH EXPECTATION (r13 ADVICE): the input is checkpointed TWICE for
    the session lifetime (pre-shuffle for the range sampler, post-shuffle
    to pin one partitioning for both consumers), so ``df`` should be a
    NARROW relation — an aggregate or a (keys, order columns) projection,
    never raw fact rows (materialize()'s own contract). A caller ranking
    a wide relation should rank a (surrogate key, order cols) projection
    and join the payload back by the key."""
    from open_data_lakehouse_demo_spark.sources.io import materialize

    spark = df.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    # Checkpoint BEFORE the range exchange: its boundary-sampling pass
    # would otherwise execute the caller's lineage (typically a fact
    # aggregate) a second time (see assign_token_shards).
    src = materialize(df)
    ranged = src.repartitionByRange(n_parts, *order_cols)
    # materialize: the offsets aggregate and the final join must see the
    # SAME sampled range boundaries (see assign_token_shards)
    with_pid = materialize(ranged.withColumn("_pid", F.spark_partition_id()))
    # partitionBy(lit(0)): see assign_token_shards — identical semantics
    # over the bounded per-partition-count relation, no vacuous warning
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.count("*").alias("_pcount"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_pcount").over(
                    Window.partitionBy(F.lit(0)).orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    win = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            (F.col("_offset") + F.row_number().over(win)).cast("bigint"),
        )
        .drop("_pid", "_offset")
    )

