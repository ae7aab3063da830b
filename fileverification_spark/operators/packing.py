"""Sequence packing — GPT-style fixed-budget chunking of a corpus.

Pretraining pipelines concatenate documents in a deterministic order and
cut the token stream every ``budget`` tokens; each document therefore
has a global token OFFSET and a starting CHUNK id. The offset is a
global prefix sum — the textbook "needs a total order" operation that
naive DataFrame code writes as one window over an empty partitionBy,
collapsing 100 TB onto a single task.

This module computes it as a two-phase distributed prefix sum instead:

 1. range-repartition by ``doc_id`` (P ordered partitions);
 2. per-partition token totals — P rows — to the driver, exclusive-scan
    them there (P is thousands, not billions), broadcast the per-
    partition BASE offsets back;
 3. window cumsum WITHIN each partition only (partitionBy pid), plus the
    partition's base.

Every stage is bounded: the only full-data shuffle is the range
repartition, the driver sees P rows, and no partition ever holds more
than its range slice. The result is partition-count invariant (asserted
in tests at P=2 vs P=7): offsets depend only on doc_id order, never on
where the range boundaries fall.

Reference parity: FileVerification's sequential log fold assigns each
record its position in one deterministic stream (FV/Logger.cs:22-28
ordered Lines buffer); pack_offsets is that position assignment done
distributively over tokens instead of log lines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fileverification_spark.functions import text as TX
from fileverification_spark.session import local_relation


def pack_offsets(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tok, offset, chunk_id): global token offset of each doc
    in the id-ordered concatenated stream, and the id of the
    ``budget``-token training chunk its first token lands in."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    n_tok = tokens if tokens is not None else TX.token_count(F.col("text"))
    d = docs.select(
        F.col(id_col).alias("doc_id"), n_tok.cast("bigint").alias("n_tok")
    )
    spark = d.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    # pid is derived from data-dependent range boundaries; stage the
    # partitioned relation so the totals pass and the cumsum pass see the
    # SAME physical partitioning (and the scan isn't paid twice)
    d = d.repartitionByRange(p, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    d = d.localCheckpoint(eager=False) if (
        spark.sparkContext.getCheckpointDir() is None
    ) else d.checkpoint(eager=False)

    totals = sorted(
        d.groupBy("pid").agg(F.sum("n_tok").alias("tot")).collect(),
        key=lambda r: r["pid"],
    )
    base, acc = [], 0
    for r in totals:  # exclusive scan over P partition totals (driver-tiny)
        base.append((r["pid"], acc))
        acc += r["tot"]
    bases = F.broadcast(
        local_relation(spark, base, "pid int, base bigint")
    )

    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(bases, "pid")
        .select(
            "doc_id",
            "n_tok",
            (F.col("base") + F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
            .alias("offset"),
        )
        .withColumn("chunk_id", F.expr(f"offset div {int(budget)}"))
    )


def sql_pack_offsets(inner_rel: str, budget: int,
                     tokens_expr: str | None = None) -> str:
    """DuckDB oracle: the same result via the naive single global window
    (fine at oracle scale, the exact thing the distributed form avoids)."""
    te = tokens_expr or f"len({TX.sql_tokens('text')})"
    # CAST the window sum back to BIGINT: DuckDB sums BIGINT into
    # HUGEINT, which the driver canon would read as float64 and
    # hash-mismatch Spark's int64
    # "offset" is a reserved word in DuckDB (the OFFSET clause) — it must
    # be quoted here, while staying the bare column name the Spark side
    # produces
    return f"""
SELECT doc_id, n_tok, "offset", "offset" // {int(budget)} AS chunk_id
FROM (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS BIGINT) AS "offset"
  FROM (SELECT doc_id, CAST({te} AS BIGINT) AS n_tok FROM {inner_rel})
)"""
