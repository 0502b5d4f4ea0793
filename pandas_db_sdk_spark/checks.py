"""Data-quality checks — declarative expectations over DataFrames.

The reference trusts its inputs (client-side pandas, no validation beyond
parameter checks, reference ``client.py:99-110``); a 100 TB ingest cannot.
``check`` evaluates a set of row-level rules in ONE aggregate pass (each
rule a conditional count riding the same partial+final hash aggregation —
no per-rule scans) and returns one row per rule; ``attach_checks`` rides
the same counters on a write job, which ``save(expectations=...)`` uses to
gate a commit.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Evaluate named row-level expectations.

    ``rules`` maps rule name → boolean Column that should be TRUE for every
    row (NULL counts as a violation — an unevaluable expectation is not a
    pass). Returns (rule, n_rows, n_violations, pass_rate) — one scan total
    regardless of rule count.
    """
    if not rules:
        raise ValueError("no rules given")
    aggs = [F.count("*").alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(cond, 0).otherwise(1)).alias(f"__v_{name}")
        )
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v_{name}").alias("n_violations"),
                F.round(
                    1.0 - F.col(f"__v_{name}") / F.greatest(F.col("__n"), F.lit(1)), 6
                ).alias("pass_rate"),
            )
            for name in rules
        ]
    )
    return one.select(F.explode(structs).alias("s")).select("s.*")


def attach_checks(df: DataFrame, rules: Mapping[str, Column]):
    """Piggyback the expectations on the NEXT action over ``df`` — zero
    extra passes.

    Returns ``(observed_df, results)`` where ``results()`` yields
    {rule: n_violations} after any action has executed ``observed_df``
    (write, count, collect). Built on ``Dataframe.observe``: the counters
    ride the job that materializes the data, so a 100 TB ingest validates
    itself for free instead of paying a second full scan — use
    :func:`check` when a standalone report is wanted, this when the data
    is about to be written anyway.
    """
    from pyspark.sql import Observation

    if not rules:
        raise ValueError("no rules given")
    obs = Observation()
    aggs = [
        F.sum(F.when(cond, 0).otherwise(1)).alias(name) for name, cond in rules.items()
    ]
    observed = df.observe(obs, *aggs)

    def results() -> dict:
        return dict(obs.get)

    return observed, results


def profile(df: DataFrame) -> DataFrame:
    """One-pass, any-width column profiler: per column, non-null count,
    exact distinct count, and numeric min/max (NULL for non-numeric
    columns) — the pandas ``describe``/data-dictionary pass over an
    arbitrary table.

    Scale shape: the table is unpivoted in-task (``stack`` — a Generate
    inside the scan stage, no shuffle) into (col_name, value_str,
    value_num) rows, then ONE groupBy over at most ``len(columns)`` keys
    computes every stat. The scan happens once regardless of column count
    — vs the naive per-column aggregate loop that re-reads the table N
    times. Distinct counts use the string image (Spark's double→string is
    shortest-round-trip, hence injective), so partial-distinct aggregation
    applies; min/max stay numeric.
    """
    from pyspark.sql.types import DoubleType, FloatType, NumericType

    parts = []
    for f in df.schema.fields:
        ident = f"`{f.name.replace('`', '``')}`"  # legal names may hold ` or '
        lit = f.name.replace("\\", "\\\\").replace("'", "\\'")
        num = (
            f"cast({ident} as double)"
            if isinstance(f.dataType, NumericType)
            else "cast(null as double)"
        )
        if isinstance(f.dataType, (DoubleType, FloatType)):
            # canonical zero: '-0.0' and '0.0' must count as ONE distinct
            # value, as any numeric DISTINCT would
            sval = f"cast({ident} + cast(0.0 as double) as string)"
        else:
            sval = f"cast({ident} as string)"
        parts.append(f"'{lit}', {sval}, {num}")
    stacked = df.select(
        F.expr(
            f"stack({len(df.columns)}, {', '.join(parts)}) "
            "as (col_name, value_str, value_num)"
        )
    )
    return stacked.groupBy("col_name").agg(
        F.count("value_str").alias("n_nonnull"),
        F.countDistinct("value_str").alias("n_distinct"),
        F.round(F.min("value_num"), 4).alias("min_num"),
        F.round(F.max("value_num"), 4).alias("max_num"),
    )
