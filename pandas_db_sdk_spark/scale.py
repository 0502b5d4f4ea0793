"""Global-order and skew operators — the 100 TB toolbox.

``global_row_index``, ``exact_ntile`` and ``global_cumsum`` compute global
order statistics without routing every row through one window task;
``skew_report`` diagnoses key skew before a join or aggregation (AQE's
skew-join splitting, which session.py turns on, handles most runtime skew
automatically). All are pure DataFrame compositions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def global_row_index(
    df: DataFrame,
    order_by: Sequence[str],
    index_col: str = "row_index",
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic 1-based global row number in ``order_by`` order WITHOUT
    a single-partition window (pandas ``reset_index`` / ``RANK()`` over the
    whole table).

    A bare ``row_number().OVER (ORDER BY …)`` funnels the entire dataset
    through ONE task — the classic 100 TB cliff. This does it in three
    bounded steps: range-repartition on the order keys (each partition owns
    a contiguous key range), rank within partitions, then add per-partition
    offsets computed from a partition-count table that is `n_partitions`
    rows — the only data that ever converges. Requires ``order_by`` to be a
    total order (include a unique tiebreak column) for a deterministic
    result.
    """
    from pyspark.sql import Window

    from pyspark import StorageLevel
    from pyspark.sql import Column

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    cols = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    # persist pins ONE range-partitioner sampling: the rank branch and the
    # offset branch below both read this materialization. Without it each
    # action re-samples boundaries independently and partition assignments
    # diverge between the two branches — indexes duplicate/skip. (Repeated
    # invocations dedupe through Spark's CacheManager plan matching.)
    ranged = (
        df.repartitionByRange(n_partitions, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w_in = Window.partitionBy("__pid").orderBy(*cols)
    ranked = ranged.withColumn("__rn", F.row_number().over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .count()
        .withColumn("__offset", F.coalesce(F.sum("count").over(w_off), F.lit(0)))
        .select("__pid", "__offset")
    )
    return (
        ranked.join(F.broadcast(offsets), "__pid")
        .withColumn(index_col, (F.col("__rn") + F.col("__offset")).cast("long"))
        .drop("__pid", "__rn", "__offset")
    )


def exact_ntile(
    df: DataFrame,
    order_by: Sequence,
    n: int,
    bucket_col: str = "bucket",
    max_single_task_rows: int | None = 2_000_000,
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL ``ntile(n)`` membership WITHOUT an unbounded
    single-partition window (VERDICT r5 #7 — x26's documented scale path,
    promoted to code).

    Two tiers, the ``pq_topk`` treatment: when the frame fits one window
    task (``count() <= max_single_task_rows``) this IS ``F.ntile`` over a
    global window — cheapest at small cardinality and bit-identical to the
    SQL oracle. Above the bound (or with ``max_single_task_rows=None``)
    it composes :func:`global_row_index` (range repartition + per-partition
    rank + broadcast offsets — no task ever sees more than its key range)
    with closed-form bucket arithmetic: for N rows, q = N div n, r = N mod
    n, the first r buckets take q+1 rows — exactly SQL ntile's split —
    so membership needs only the row index and a 1-row total broadcast to
    compute, never a global sort on one task. Requires ``order_by`` to be
    a total order (unique tiebreak) for a deterministic result.
    """
    from pyspark.sql import Window

    if max_single_task_rows is not None and df.count() <= max_single_task_rows:
        return df.withColumn(
            bucket_col, F.ntile(n).over(Window.orderBy(*order_by))
        )
    idx = global_row_index(df, order_by, "__gidx", n_partitions)
    tot = idx.agg(F.count("*").alias("__N"))
    q = F.floor(F.col("__N") / n)
    r = F.col("__N") % n
    big = r * (q + 1)  # rows covered by the first r (size q+1) buckets
    bucket = F.when(
        F.col("__gidx") <= big, F.floor((F.col("__gidx") - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((F.col("__gidx") - big - 1) / q) + 1)
    # 1-row total: broadcast nested-loop by construction (the x29/c77 shape)
    return (
        idx.crossJoin(F.broadcast(tot))
        .withColumn(bucket_col, bucket.cast("int"))
        .drop("__gidx", "__N")
    )


def global_cumsum(
    df: DataFrame,
    order_by: Sequence[str],
    sums: dict[str, str],
    n_partitions: int | None = None,
) -> DataFrame:
    """Running totals in global ``order_by`` order WITHOUT the single-task
    ``OVER (ORDER BY …)`` window — the prefix-sum sibling of
    ``global_row_index`` (same three bounded steps: range-repartition,
    within-partition running sums, broadcast per-partition offsets; the
    only converging data is one totals row per partition).

    ``sums`` maps output column → input column: ``{"cum_tokens":
    "n_tokens"}`` adds a ``cum_tokens`` running total of ``n_tokens``.
    ``order_by`` must be a total order for a deterministic result.
    """
    from pyspark.sql import Column, Window

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    cols = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    from ._scratch import scratch_persist

    # persist pins ONE range-partitioner sampling shared by the running-sum
    # and offsets branches (same contract as global_row_index); the slot-
    # pooled scratch bounds cached generations instead of leaking one
    # MEMORY_AND_DISK copy per call
    ranged = scratch_persist(
        df.repartitionByRange(n_partitions, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "scale/global_cumsum",
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranged
    for dst, src in sums.items():
        out = out.withColumn(dst, F.sum(src).over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ranged.groupBy("__pid").agg(
        *[F.sum(src).alias(f"__t_{dst}") for dst, src in sums.items()]
    )
    for dst in sums:
        offsets = offsets.withColumn(
            f"__o_{dst}", F.coalesce(F.sum(f"__t_{dst}").over(w_off), F.lit(0))
        )
    offsets = offsets.select("__pid", *[f"__o_{d}" for d in sums])
    out = out.join(F.broadcast(offsets), "__pid")
    for dst in sums:
        out = out.withColumn(dst, F.col(dst) + F.col(f"__o_{dst}"))
    return out.drop("__pid", *[f"__o_{d}" for d in sums])


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Pre-join/agg skew diagnostic: one row describing the key-frequency
    distribution of ``key_col`` — distinct keys, total rows, hottest-key
    count, p50/p99 per-key counts (exact interpolated percentiles), and
    the hottest key's share of all rows. Reading it answers the 100 TB
    planning questions: does this key need salting? will AQE's
    skew-join threshold trigger?

    Movement: one partial+final count agg over the keys, then a single
    global agg whose input is one row PER KEY (counts, not rows); the
    report frame is 1 row.
    """
    counts = df.groupBy(F.col(key_col).alias("k")).agg(F.count("*").alias("cnt"))
    return (
        counts.agg(
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
            F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
            F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        )
        .withColumn(
            "top_share", F.round(F.col("max_cnt") / F.col("total_rows"), 6)
        )
    )
