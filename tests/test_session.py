"""Session sizing: the default driver heap follows the host's RAM, and the
generated-class cache holds a whole prepare_corpus plan and does not key
on codegen stage ids."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_db_sdk_spark.session import _driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "phys_bytes,want",
    [
        (16 * GIB, "8g"),  # half of RAM
        (15 * 10**9, "6g"),  # rounded down to whole GiB
        (96 * GIB, "48g"),  # big hosts keep the 48g cap
        (1024 * GIB, "48g"),
        (GIB, "1g"),  # never below 1g
    ],
)
def test_driver_memory_is_half_of_ram_capped(phys_bytes, want):
    assert _driver_memory(phys_bytes) == want


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (cache hits do not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _drop_generated_classes(spark) -> None:
    """Empty the JVM-wide generated-class cache, so that a run's compile
    count is its plan's whole working set whatever earlier tests compiled.
    The cache is a private static of ``CodeGenerator``; reflection is the
    only way in."""
    jvm = spark._jvm
    gen = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).loadingCache().invalidateAll()


def _shard(docs: pd.DataFrame, id_base: int) -> pd.DataFrame:
    """``docs`` plus 10 exact and 10 near copies, ids from ``id_base``."""
    text = docs["text"].tolist()
    text += text[:10] + [f"{t} extra" for t in text[10:20]]
    return pd.DataFrame(
        {"doc_id": range(id_base, id_base + len(text)), "text": text, "lang": "en"}
    )


def test_warm_prepare_corpus_shard_reuses_generated_classes(spark):
    """A fresh shard through an already-planned pipeline compiles (almost)
    nothing: the plan's ~140 generated classes outnumber Spark's default
    cache of 100, under which every shard would recompile ~125 of them."""
    from pandas_db_sdk_spark import pipeline

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    _drop_generated_classes(spark)
    compiled = []
    for k in (1, 2):
        sdf = spark.createDataFrame(_shard(docs.iloc[(k - 1) * 200 : k * 200], k * 10_000_000))
        before = _compiles(spark)
        out = pipeline.prepare_corpus(sdf, n_shards=4).toPandas()
        compiled.append(_compiles(spark) - before)
        assert 0 < len(out) < 220  # the exact copies are gone
    first, second = compiled
    assert second * 4 < first, f"compiles per run: {compiled}"


def test_shifted_codegen_stage_reuses_generated_classes(spark):
    """An aggregate planned after one more codegen stage gets other stage
    ids; its generated classes must still come from the cache."""
    agg = (
        spark.range(5000)
        .select((F.col("id") % 7907).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    ahead = (
        spark.range(50)
        .select(F.col("id").alias("k"), (F.col("id") * 7907).alias("s"))
        .filter(F.col("s") > 3)
    )
    agg.collect()
    ahead.collect()
    before = _compiles(spark)
    ahead.unionByName(agg).collect()
    assert _compiles(spark) - before == 0
