"""Distributed dense global sequence (no single-partition window).

``row_number() OVER (ORDER BY ...)`` with no partitioning collapses to one
task — unusable at 10^10 rows. The classic two-pass replacement:

  1. range-repartition + sort within partitions on the order key
     (one shuffle, fully parallel — this is what ORDER BY compiles to),
  2. count rows per physical partition (cheap scan),
  3. prefix-sum the counts on the driver (P integers),
  4. a JVM projection adds ``offset[pid] + local position``, both read
     from ``monotonically_increasing_id()`` (partition index in bits 33
     and up, the row's position in the partition in the low 33 bits).

Deterministic for a deterministic input because range partitioning and the
in-partition sort both key on the total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS_BITS = 33  # monotonically_increasing_id's per-partition position width


def global_sequence(
    df: DataFrame, order_cols: list[str], seq_col: str = "seq", num_partitions: int | None = None
) -> DataFrame:
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    d = d.sortWithinPartitions(*order_cols)
    # the id is nondeterministic: checkpoint so the count and the numbering
    # read the same ids; the count's job materializes the checkpoint
    d = d.withColumn("_id", F.monotonically_increasing_id()).localCheckpoint(eager=False)
    pid = F.shiftright("_id", _POS_BITS).cast("int")
    counts = dict(d.groupBy(pid.alias("pid")).count().collect())
    if max(counts.values(), default=0) >= 1 << _POS_BITS:
        raise ValueError(
            f"a partition reached 2^{_POS_BITS} rows, the limit of monotonically_increasing_id"
        )
    offsets = [0]
    for p in range(max(counts, default=0)):
        offsets.append(offsets[-1] + counts.get(p, 0))
    seq = F.element_at(F.array(*[F.lit(o).cast("long") for o in offsets]), pid + 1) + (
        F.col("_id").bitwiseAND(F.lit((1 << _POS_BITS) - 1))
    )
    return d.withColumn(seq_col, seq).drop("_id")
