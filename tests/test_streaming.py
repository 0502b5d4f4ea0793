"""Structured Streaming parity tests — SURVEY §2 C55-C60, §5 mitigation.

Each windowed/stateful op runs twice over the same events sample: once as a
real file-source stream (readStream → AvailableNow → memory sink) and once
as a batch DataFrame. The batch result is the oracle (the DuckDB oracle can
only check batch equivalents; this closes the streaming half).
"""

from __future__ import annotations

import os
import shutil

import pytest

from pandas_db_sdk_spark.streaming import windows as W
from pandas_db_sdk_spark.streaming.stateful import running_max_stateful

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-write the events sample with µs timestamps (the raw file is
    TIMESTAMP(NANOS), which the file-stream source can't infer)."""
    from pandas_db_sdk_spark.io import tables

    out = str(tmp_path_factory.mktemp("stream") / "events")
    tables(spark, SF)("events").limit(2000).coalesce(2).write.parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _rows(df, keys):
    return sorted(tuple(r) for r in df.select(*keys).collect())


@pytest.mark.parametrize(
    "fn,keys,mode",
    [
        (W.tumbling_counts, ["window_start_us", "event_type", "n", "total"], "complete"),
        (W.sliding_counts, ["window_start_us", "n"], "complete"),
        (W.session_counts, ["user_id", "session_start_us", "n_events"], "complete"),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_windowed_stream_matches_batch(spark, events_dir, events_batch, fn, keys, mode):
    streamed = W.run_to_memory(
        fn(W.stream_events_from_dir(spark, events_dir)), spark, mode=mode
    )
    expected = fn(events_batch)
    assert _rows(streamed, keys) == _rows(expected, keys)


def test_streaming_dedup_matches_batch(spark, events_dir, events_batch):
    streamed = W.run_to_memory(
        W.dedup_events(W.stream_events_from_dir(spark, events_dir)), spark, mode="append"
    )
    expected = W.dedup_events(events_batch)
    assert streamed.count() == expected.count()
    assert _rows(streamed, ["event_id"]) == _rows(expected, ["event_id"])


def test_stateful_running_max_matches_batch(spark, events_dir, events_batch):
    """C60: applyInPandasWithState (stream) vs applyInPandas cummax (batch).

    The streaming run sees per-user events in event_id order within a single
    AvailableNow batch, so the final running_max per event must equal the
    batch cumulative max.
    """
    streamed = W.run_to_memory(
        running_max_stateful(W.stream_events_from_dir(spark, events_dir)),
        spark,
        mode="append",
    )
    expected = running_max_stateful(events_batch)
    keys = ["event_id", "user_id", "running_max"]
    assert _rows(streamed, keys) == _rows(expected, keys)


def test_stream_into_engine_versions_microbatches(spark, events_dir, events_batch, tmp_path):
    """Streaming ingestion lands every micro-batch as a version of a named
    dataset; the union of versions equals the source, and version labels are
    epoch-derived (replay-safe)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = stream_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "streamed/events",
        columns_keys={"ts": "Date"},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    info = eng.list_datasets()["dataframes"]["streamed/events"]
    assert len(info["versions"]) >= 1
    assert all(v.startswith("epoch_") for v in info["versions"])
    got = eng.load("streamed/events")
    assert got.count() == events_batch.count()
    assert _rows(got, ["event_id"]) == _rows(events_batch, ["event_id"])


def test_watermark_state_is_bounded(spark, events_dir):
    """C58: the watermark must register in the streaming plan (state eviction
    at scale depends on it)."""
    stream = W.tumbling_counts(W.stream_events_from_dir(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_check")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.lastProgress
    assert progress is not None and "watermark" in progress.get("eventTime", {})


def test_transform_with_state_ema_matches_batch(spark, events_dir, events_batch):
    """Spark 4 transformWithStateInPandas (StatefulProcessor + ValueState)
    vs the batch applyInPandas recurrence: per-user EMA must agree exactly
    (same float op order: events arrive in one AvailableNow batch, sorted by
    event_id inside the processor)."""
    from pandas_db_sdk_spark.streaming.stateful import ema_stateful

    streamed = W.run_to_memory(
        ema_stateful(W.stream_events_from_dir(spark, events_dir)), spark, mode="append"
    )
    expected = ema_stateful(events_batch)
    keys = ["event_id", "user_id", "ema"]
    assert _rows(streamed, keys) == _rows(expected, keys)


def test_stream_ingest_dedups_across_microbatches(spark, events_dir, events_batch, tmp_path):
    """dedup_on: duplicate content across micro-batches lands exactly once.
    The events sample is streamed twice into the same dataset (two separate
    queries = disjoint epoch versions); the second pass must add nothing."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    for attempt in ("a", "b"):
        q = stream_into_engine(
            W.stream_events_from_dir(spark, events_dir),
            eng,
            "dedup/events",
            checkpoint_dir=str(tmp_path / f"ckpt_{attempt}"),
            version_prefix=f"{attempt}_",
            dedup_on="props",
        )
        q.awaitTermination()
    got = eng.load("dedup/events")
    expected = events_batch.select("props").distinct().count()
    assert got.count() == expected
    assert got.select("props").distinct().count() == expected


def test_compact_reduces_file_count_preserves_data(spark, events_dir, events_batch, tmp_path):
    """Streaming ingest creates per-epoch small files; compact() must merge
    them per partition dir without changing a single row."""
    import glob

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = stream_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "compactme",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    # fragment further: second copy under another version
    eng.save(spark.read.parquet(events_dir), "compactme", external_key="extra")
    path = eng._dataset_entry("compactme")["path"]
    before_files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    before = sorted(tuple(r) for r in eng.load("compactme").collect())
    out = eng.compact("compactme")
    after_files = glob.glob(f"{out['path']}/**/*.parquet", recursive=True)
    after = sorted(tuple(r) for r in eng.load("compactme").collect())
    assert after == before
    assert len(after_files) <= len(before_files)
    # one file per version dir (two versions here)
    assert len(after_files) == len(
        set(eng._dataset_entry("compactme")["versions"])
    )
    # version pinning still prunes after the swap
    assert eng.load("compactme", external_key="extra").count() == events_batch.count()


def test_stream_stream_interval_join_matches_batch(spark, events_dir, events_batch):
    """Stream-stream interval join (view→click attribution) must equal the
    batch join over the same data; watermarks + two-sided time bounds keep
    the streaming state finite."""
    from pyspark.sql import functions as F

    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "click"),
        )

    sv, sc = split(W.stream_events_from_dir(spark, events_dir))
    streamed = W.run_to_memory(W.interval_join(sv, sc), spark, mode="append")
    bv, bc = split(events_batch)
    expected = W.interval_join(bv, bc)
    assert expected.count() > 0
    assert _rows(streamed, ["view_id", "click_id"]) == _rows(expected, ["view_id", "click_id"])


def test_rollup_into_engine_is_finalized_continuous_aggregate(
    spark, events_dir, events_batch, tmp_path
):
    """The landed rollup must equal the batch tumbling aggregate restricted
    to windows the final watermark finalized (append-mode contract): every
    landed window is complete and correct, no window appears twice, and
    still-open windows are absent — exactly the materialized-view guarantee."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import rollup_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = rollup_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "rollup/events_5m",
        width="5 minutes",
        watermark="10 minutes",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = eng.load("rollup/events_5m")
    keys = ["window_start_us", "event_type", "n", "total"]
    # no window/group lands twice
    assert got.count() == got.select("window_start_us", "event_type").distinct().count()

    import pyspark.sql.functions as F

    wm_us = events_batch.agg(
        F.unix_micros(F.max("ts")) - 10 * 60 * 1_000_000
    ).first()[0]
    width_us = 5 * 60 * 1_000_000
    expected = W.tumbling_counts(events_batch).filter(
        F.col("window_start_us") + width_us <= wm_us
    )
    assert _rows(got, keys) == _rows(expected, keys)
    # and it lands a meaningful prefix of the stream's windows
    assert got.count() > 0


def test_rollup_custom_transform_session_windows(spark, events_dir, events_batch, tmp_path):
    """rollup_into_engine(transform=...) maintains ANY append-compatible
    windowed aggregate — here per-user session windows. Landed sessions
    must be a subset of the batch sessions (finalized prefix) with no
    session landing twice."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import rollup_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = rollup_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "rollup/sessions",
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=lambda s: W.session_counts(s, gap="30 minutes"),
    )
    q.awaitTermination()
    got = eng.load("rollup/sessions")
    keys = ["user_id", "session_start_us", "n_events"]
    assert got.count() > 0
    assert (
        got.count()
        == got.select("user_id", "session_start_us").distinct().count()
    )
    batch = set(_rows(W.session_counts(events_batch), keys))
    assert set(_rows(got, keys)) <= batch


def test_live_rollup_matches_full_batch_aggregate(spark, events_dir, events_batch, tmp_path):
    """Update-mode rollup: after the stream drains, the merged table must
    equal the batch aggregate over ALL windows — open ones included (the
    live-dashboard guarantee, stronger coverage than append's finalized
    subset; provisional values are the accepted trade)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import live_rollup_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = live_rollup_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "live/events_5m",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = eng.load("live/events_5m", use_last=True)
    keys = ["window_start_us", "event_type", "n", "total"]
    assert _rows(got, keys) == _rows(W.tumbling_counts(events_batch), keys)


def test_live_rollup_custom_transform_requires_key_cols(spark, events_dir, tmp_path):
    """ADVICE r3: with a custom transform the engine cannot infer which
    output columns are merge keys — it must demand key_cols up front
    rather than silently accumulate duplicate rows per window revision."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import live_rollup_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    stream = W.stream_events_from_dir(spark, events_dir)
    with pytest.raises(ValueError, match="key_cols"):
        live_rollup_into_engine(
            stream, eng, "live/sessions", transform=W.session_counts
        )
    with pytest.raises(ValueError, match="nope"):
        live_rollup_into_engine(
            stream, eng, "live/sessions",
            transform=W.session_counts, key_cols=["nope"],
        )


def test_live_rollup_custom_transform_with_key_cols(spark, events_dir, events_batch, tmp_path):
    """A custom transform whose metric is named 'n_events' (not 'n'/
    'total') — exactly the shape the old key inference broke on (it would
    have merged on the metric and inserted a row per window revision).
    With explicit key_cols the merged table equals the batch aggregate,
    one row per (window, user). (Tumbling, not session, windows: update
    output mode doesn't support streaming session windows.)"""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import live_rollup_into_engine

    def per_user_counts(events):
        e = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
        return (
            e.groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "user_id",
                "n_events",
            )
        )

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = live_rollup_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "live/per_user_5m",
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=per_user_counts,
        key_cols=["window_start_us", "user_id"],
    )
    q.awaitTermination()
    got = eng.load("live/per_user_5m", use_last=True)
    keys = ["window_start_us", "user_id", "n_events"]
    assert set(_rows(got, keys)) == set(_rows(per_user_counts(events_batch), keys))


def test_stream_static_enrichment_matches_batch(spark, events_dir, events_batch):
    """Stream-static join (stateless per-micro-batch broadcast of a static
    dim) + windowed agg must equal the same plan run as batch."""
    dim = spark.createDataFrame(
        [("view", "read"), ("click", "act"), ("purchase", "act"), ("signup", "act")],
        ["event_type", "category"],
    )
    stream = W.stream_events_from_dir(spark, events_dir)
    got = W.run_to_memory(
        W.enriched_type_counts(stream, dim), spark, mode="complete"
    )
    want = W.enriched_type_counts(events_batch, dim)
    keys = ["window_start_us", "category", "n"]
    assert _rows(got, keys) == _rows(want, keys)


def test_live_rollup_revises_open_windows_in_place(spark, tmp_path):
    """VERDICT r4 item #8: the revision-in-place guarantee itself, under a
    multi-batch run. Four files -> four micro-batches (maxFilesPerTrigger=1
    under availableNow), every batch hitting the SAME two (window, user)
    keys, so batches 2-4 are pure revisions of OPEN windows. After every
    merge the table must still hold exactly one row per key — a regression
    to insert-per-revision would show 4x rows — and the final values must
    equal the batch aggregate over all files."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import live_rollup_into_engine

    src = str(tmp_path / "files")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for i in range(4):
        rows = [
            (i * 10 + j, base + dt.timedelta(seconds=10 * j), j % 2, "view", float(i + 1), "{}")
            for j in range(6)  # all inside the 00:00-00:05 window
        ]
        spark.createDataFrame(rows, W.EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def per_user_counts(events):
        e = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
        return (
            e.groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "user_id",
                "n_events",
            )
        )

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    name = "live/revisions"
    counts_after_batch = []
    real_merge = eng.merge

    def recording_merge(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        counts_after_batch.append(eng.load(name, use_last=True).count())
        return out

    eng.merge = recording_merge

    stream = spark.readStream.schema(W.EVENTS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = live_rollup_into_engine(
        stream, eng, name,
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=per_user_counts,
        key_cols=["window_start_us", "user_id"],
    )
    q.awaitTermination()

    # first batch goes through save() (DatasetNotFound), the revisions
    # through merge: at least 3 recorded merges, each leaving exactly
    # one row per (window, user) key
    assert len(counts_after_batch) >= 3, counts_after_batch
    assert counts_after_batch == [2] * len(counts_after_batch)
    got = eng.load(name, use_last=True)
    want = per_user_counts(spark.read.parquet(src))
    keys = ["window_start_us", "user_id", "n_events"]
    assert set(_rows(got, keys)) == set(_rows(want, keys))


def test_stream_into_ann_index_new_vectors_retrievable(spark, tmp_path):
    """Continuous ANN maintenance: an index built from the first half of
    the embeddings grows by streaming in the second half (frozen
    quantizers, per-batch encode+append); after the stream drains, every
    streamed vector self-retrieves at rank 1 and the original rows are
    untouched."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import similarity
    from pandas_db_sdk_spark.io import tables
    from pandas_db_sdk_spark.streaming.ingest import stream_into_ann_index

    emb = tables(spark, SF)("embeddings")
    old = emb.filter(F.col("vec_id") >= 8)
    new = emb.filter(F.col("vec_id") < 8)

    cent, books, index = similarity.ivf_pq_index(
        old, "vec_id", "embedding", n_centroids=16, m_subspaces=8, n_codes=16
    )
    path = str(tmp_path / "ann")
    similarity.write_ivf_pq_index(index, path)
    n_before = similarity.read_ivf_pq_index(spark, path).count()

    src = str(tmp_path / "vecs")
    new.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(new.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_into_ann_index(
        stream, cent, books, path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    disk = similarity.read_ivf_pq_index(spark, path)
    assert disk.count() == n_before + new.count()
    out = similarity.ivf_pq_topk(new, cent, books, disk, "vec_id", k=3, n_probes=2)
    top1 = {r.query_id: r.neighbor_id for r in out.collect() if r.rn == 1}
    assert top1 == {i: i for i in range(8)}


def test_stream_near_dedup_across_batches(spark, tmp_path):
    """Near-dup streaming gate: batch 2 carries (a) an exact replica and
    (b) a near-variant of batch-1 docs plus one genuinely new doc — only
    the new doc may land; the signature index grows only by admitted docs
    and is replay-consistent with the data (same count)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every single day"
    )
    b1 = [(1, base), (2, "completely different text about spark shuffles and "
                         "partition pruning at terabyte scale for analytics")]
    b2 = [
        (10, base),                                # exact dup of 1
        (11, base.replace("lazy", "sleepy")),      # near-dup of 1
        (12, "an entirely novel document mentioning suffix arrays bloom "
             "filters and quantile sketches in one breath tonight"),
    ]
    src = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_into_engine_near_dedup(
        stream, eng, "docs", "doc_id", "text",
        checkpoint_dir=str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    q.awaitTermination()

    landed = {r.doc_id for r in eng.load("docs").select("doc_id").collect()}
    assert landed == {1, 2, 12}, landed
    bands = eng.load("docs/__near_bands")
    sig_ids = {r.sig_id for r in bands.select("sig_id").collect()}
    assert sig_ids == landed
    # exploded layout: one row per (doc, band)
    assert bands.count() == len(landed) * 8


def test_near_dup_probe_prunes_index_partitions(spark, tmp_path):
    """VERDICT r5 #4: the per-batch probe must read ONLY the index
    partitions whose band-key prefix appears in the batch — a literal
    __p_band_pfx filter in the scan's PartitionFilters — with admission
    results identical to an unpruned exact check."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import (
        near_band_rows,
        near_dup_probe,
    )

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different text about spark shuffle planning at scale"),
        ],
        "doc_id long, text string",
    )
    eng.save(
        near_band_rows(eng, corpus, "doc_id", "text"),
        "docs/__near_bands",
        columns_keys={"band_pfx": "ID"},
        external_key="epoch_0",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the sleepy dog again and again"),
            (11, "an entirely novel document about bloom filters and sketches"),
        ],
        "doc_id long, text string",
    )
    nb = near_band_rows(eng, batch, "doc_id", "text")
    dup = near_dup_probe(eng, "docs/__near_bands", nb, jaccard_threshold=0.5)
    plan = dup._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__p_band_pfx" in pf, pf
    assert {r.sig_id for r in dup.collect()} == {10}


def test_ohlc_stream_matches_batch(spark, events_dir, events_batch):
    """c83's OHLC rollup as live streaming state: min_by/max_by candle
    state merges across micro-batches to exactly the batch candles."""
    streamed = W.run_to_memory(
        W.ohlc_candles(W.stream_events_from_dir(spark, events_dir)),
        spark,
        mode="complete",
    )
    expected = W.ohlc_candles(events_batch)
    keys = ["window_start_us", "event_type", "open", "high", "low", "close", "volume"]
    assert _rows(streamed, keys) == _rows(expected, keys)


def test_streaming_ingest_feeds_incremental_rollup(spark, events_dir, events_batch, tmp_path):
    """End-to-end continuous-rollup story: micro-batches land as engine
    versions; refresh_rollup folds ONLY the new epochs into the
    materialized aggregate; the final state equals the batch groupBy over
    everything (the streaming counterpart of
    test_rollup_incremental_matches_full_recompute)."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = stream_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "live/events",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    eng.define_rollup(
        "live/by_type",
        "live/events",
        ["event_type"],
        {"n": ("count", None), "total": ("sum", "value"), "mx": ("max", "value")},
    )
    r = eng.refresh_rollup("live/by_type")
    assert len(r["refreshed_versions"]) == len(
        eng.list_datasets()["dataframes"]["live/events"]["versions"]
    )
    got = {
        row["event_type"]: row.asDict()
        for row in eng.read_rollup("live/by_type").collect()
    }
    want = {
        row["event_type"]: row.asDict()
        for row in events_batch.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert got[k]["mx"] == want[k]["mx"]
        assert abs(got[k]["total"] - want[k]["total"]) < 1e-6
    # a second refresh with no new epochs is a no-op
    assert eng.refresh_rollup("live/by_type")["refreshed_versions"] == []


def test_drift_monitor_flags_shift_not_self(spark, events_dir, events_batch, tmp_path):
    """Two monitors over the same stream: one referenced on the SAME
    distribution (no drift — PSI/KS near 0), one on a shifted reference
    (drift). Alarm rows land one per epoch, replay-idempotent versions."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import drift_monitor_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))

    q = drift_monitor_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "monitor/self",
        reference=events_batch,
        value_col="value",
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    q.awaitTermination()
    rows = eng.load("monitor/self").collect()
    assert len(rows) >= 1
    assert all(not r.drifted for r in rows), rows
    assert all(r.psi < 0.05 and r.ks_stat < 0.05 for r in rows), rows

    shifted = events_batch.selectExpr("*").withColumn(
        "value", F.col("value") * 3 + 100
    )
    q2 = drift_monitor_into_engine(
        W.stream_events_from_dir(spark, events_dir),
        eng,
        "monitor/shifted",
        reference=shifted,
        value_col="value",
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    q2.awaitTermination()
    rows2 = eng.load("monitor/shifted").collect()
    assert len(rows2) >= 1
    assert all(r.drifted for r in rows2), rows2


def test_drift_monitor_empty_reference_raises_friendly(spark, tmp_path):
    """ADVICE r7: an empty/all-null reference must raise the intended
    ValueError, not a TypeError from iterating a NULL percentile array."""
    import pytest as _pytest

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import drift_monitor_into_engine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    empty_ref = spark.createDataFrame([], "value double")
    with _pytest.raises(ValueError, match="no non-null values"):
        drift_monitor_into_engine(stream, eng, "m", empty_ref, "value")
    null_ref = spark.createDataFrame([(None,), (None,)], "value double")
    with _pytest.raises(ValueError, match="no non-null values"):
        drift_monitor_into_engine(stream, eng, "m", null_ref, "value")


def test_drift_monitor_psi_matches_batch_psi_report(spark, events_dir, events_batch, tmp_path):
    """Batch-parity for the newest streaming op (VERDICT r7 #9, the c55
    discipline): the monitor's per-epoch PSI must equal stats.psi_report
    on the same frozen snapshot — reference = the full events sample,
    epoch = the user_id%3==0 subset, psi_report run with the subset as
    one period over a corpus arranged so its pooled reference IS the
    monitor's reference. Bucket edges (same F.percentile call), bucket
    fold, eps and 6-dp rounding must all line up; the only permitted
    difference is psi_report's 12-dp term snap (<= 2e-11 before
    rounding)."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import stats
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import drift_monitor_into_engine

    sub = events_batch.filter(F.col("user_id") % 3 == 0)
    sub_dir = str(tmp_path / "epoch")
    sub.coalesce(1).write.parquet(sub_dir)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    q = drift_monitor_into_engine(
        W.stream_events_from_dir(spark, sub_dir),
        eng,
        "monitor/parity",
        reference=events_batch,
        value_col="value",
        n_buckets=10,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    alarms = eng.load("monitor/parity").collect()
    assert len(alarms) == 1  # one file -> one availableNow epoch
    got = alarms[0]

    src = events_batch.withColumn(
        "__grp", F.when(F.col("user_id") % 3 == 0, "epoch").otherwise("rest")
    )
    want = {
        r["__grp"]: r
        for r in stats.psi_report(src, "__grp", "value", n_buckets=10).collect()
    }["epoch"]
    assert got.n_batch == want.n
    assert abs(got.psi - want.psi) <= 1e-6, (got.psi, want.psi)


def test_stream_changes_is_incremental_committed_feed(spark, tmp_path):
    """engine.stream_changes delivers every appended row exactly once,
    tagged with its version label, and a checkpointed consumer restarted
    after a new save() sees ONLY the new version's rows — the CDC/append
    feed incremental consumers read instead of rescanning the corpus."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    eng.save(v1, "feed", external_key="v1")

    ck = str(tmp_path / "ck")

    def drain(epoch_name):
        got = []

        def sink(batch_df, _epoch):
            got.extend(
                (r["id"], r["s"], r["__version"]) for r in batch_df.collect()
            )

        q = (
            eng.stream_changes("feed")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)  # memory sink can't recover
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return set(got)

    got1 = drain("feed_run1")
    assert got1 == {(1, "a", "v1"), (2, "b", "v1")}

    v2 = spark.createDataFrame([(3, "c")], "id long, s string")
    eng.save(v2, "feed", external_key="v2")
    got2 = drain("feed_run2")
    assert got2 == {(3, "c", "v2")}  # only the delta — never a rescan


def test_stream_changes_exactly_once_across_kill_resume(spark, tmp_path):
    """CDC certification parity (VERDICT r8 #5): across consumer
    stop/restart cycles — including a multi-version catch-up (the
    consumer was down while the producer appended twice), an idle
    restart with nothing new, and retention retiring already-delivered
    versions — every (row, version) arrives EXACTLY once, reproducing
    the full corpus state; the checkpoint's seen-files log is the resume
    cursor."""
    from collections import Counter

    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    ck = str(tmp_path / "ck")
    delivered: Counter = Counter()
    saved = []

    def save(rows, key):
        eng.save(
            spark.createDataFrame(rows, "id long, s string"),
            "killfeed",
            external_key=key,
        )
        saved.extend((i, s, key) for i, s in rows)

    def run_consumer():
        def sink(batch_df, _epoch):
            delivered.update(
                (r["id"], r["s"], r["__version"]) for r in batch_df.collect()
            )

        q = (
            eng.stream_changes("killfeed")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    save([(1, "a"), (2, "b")], "v1")
    run_consumer()                      # run 1: backfill
    save([(3, "c")], "v2")
    save([(4, "d")], "v3")
    run_consumer()                      # run 2: 2-version catch-up ("kill"
    #                                     = the consumer simply wasn't up)
    run_consumer()                      # run 3: idle restart — no replays
    eng.retain_last("killfeed", 1)      # retire v1/v2 after delivery
    save([(5, "e")], "v4")
    run_consumer()                      # run 4: delta only, post-retention
    assert sorted(delivered) == sorted(saved)
    assert set(delivered.values()) == {1}, "each (row, version) exactly once"


def test_media_decode_streaming_batch_parity(spark, tmp_path):
    """The codec tier runs UNCHANGED over Structured Streaming: a
    parquet-backed payload stream decoded with the same
    decode_png_stats mapInPandas yields exactly the batch results —
    streaming media ingestion (decode-on-arrival) is the same operator,
    not a parallel implementation (the c55 parity discipline applied to
    the multimodal surface)."""
    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    payloads = multimodal.synth_png(ids, "doc_id")
    src = str(tmp_path / "png_src")
    payloads.write.parquet(src)

    batch_rows = {
        (r.doc_id, r.channel): (r.pos_sum, r.mean, r.width, r.height)
        for r in multimodal.decode_png_stats(
            spark.read.parquet(src), "payload", "doc_id"
        ).collect()
    }

    got = {}

    def sink(batch_df, _epoch):
        got.update(
            {
                (r.doc_id, r.channel): (r.pos_sum, r.mean, r.width, r.height)
                for r in batch_df.collect()
            }
        )

    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    q = (
        multimodal.decode_png_stats(stream, "payload", "doc_id")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == batch_rows and len(got) == 36


def test_stream_crawl_into_engine_gates_and_indexes(spark, tmp_path):
    """The d116 composition as CONTINUOUS ingest (r10): per-batch gate
    stages (robots / canonical-URL / extract / language / gopher) plus
    the two persisted cross-batch gates — the seen-URL index (no
    refetch: a later epoch's URL-duplicate is dropped even with a
    different body) and the MinHash band index (a near-variant of an
    earlier epoch's doc is dropped). Batch 2 carries one of each
    violation plus a genuinely new doc — only the new doc lands, and
    both indexes grow only by admitted docs."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_crawl_into_engine

    s1 = (
        "the quick brown fox jumps over the lazy dog and then the small "
        "cat walks into the open field where the tall grass grows under "
        "the warm sun while the old farmer watches from the wooden gate "
        "near the quiet river that flows past the stone bridge toward "
        "the distant hills beyond the green valley floor"
    )
    s2 = (
        "a modern data platform must balance the cost of storage with "
        "the speed of queries because every analyst wants an answer now "
        "and the cluster has only so many cores to share among all the "
        "teams that submit their jobs during the busy morning hours of "
        "the working week across every region and office"
    )
    s3 = (
        "deep in the library the historian turned each fragile page of "
        "the ancient ledger and copied the faded numbers into a clean "
        "notebook so that future scholars could study the trade routes "
        "of the old merchants who sailed between the island ports with "
        "cargo of salt and cloth and sweet dried fruit"
    )

    def rec(doc_id, path, body_text, q="utm_source=x&v=1"):
        html = f"<html><body><p>{body_text}</p></body></html>"
        return (doc_id, f"https://a.com{path}?{q}", 200, html)

    schema = "doc_id long, target_uri string, http_status int, body string"
    b1 = [rec(1, "/p/1", s1), rec(2, "/p/2", s2)]
    b2 = [
        rec(10, "/p/1", s3, q="utm_source=y&v=1"),  # URL dup of doc 1
        rec(11, "/p/11", s1.replace("lazy", "sleepy")),  # near-dup of doc 1
        rec(12, "/blocked/x", s3),                   # robots-disallowed
        rec(13, "/p/13", s3),                        # genuinely new
    ]
    src = str(tmp_path / "fetched")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /blocked\n")],
        "domain string, robots_txt string",
    )
    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_crawl_into_engine(
        stream, eng, "crawl", robots,
        checkpoint_dir=str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    )
    q.awaitTermination()

    landed = {r.doc_id for r in eng.load("crawl").select("doc_id").collect()}
    assert landed == {1, 2, 13}, landed
    # both indexes track exactly the admitted docs
    urls = {
        r.canonical_url
        for r in eng.load("crawl/__seen_urls").collect()
    }
    assert urls == {
        "https://a.com/p/1?v=1",
        "https://a.com/p/2?v=1",
        "https://a.com/p/13?v=1",
    }, urls
    sig_ids = {
        r.sig_id for r in eng.load("crawl/__near_bands").select("sig_id").collect()
    }
    assert sig_ids == landed
    # the landed frame carries the audit columns end to end
    cols = set(eng.load("crawl").columns)
    assert {"doc_id", "canonical_url", "text", "predicted_lang"} <= cols


def test_stream_lines_dedup_matches_batch_twin(spark, tmp_path):
    """Streaming corpus line dedup == the batch operator run over the
    concatenated input (the house streaming-parity invariant): batch 2
    repeats batch-1 lines (cross-batch kill), repeats its own lines
    (within-batch keep-first), and contributes one all-repeated doc
    (zero survivors, still lands). The seen-line index grows only by
    admitted lines and carries 64-hex keys, never text."""
    from pandas_db_sdk_spark import text as _text
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_lines_dedup_into_engine

    b1 = [
        (1, "cookie banner\nalpha body one\ncookie banner"),
        (2, "beta body two\ncookie banner"),
    ]
    b2 = [
        (10, "cookie banner\ngamma body ten"),   # first line dies cross-batch
        (11, "gamma body ten\ncookie banner"),   # all lines seen -> hollow
        (12, "delta body twelve\ndelta body twelve"),  # within-batch repeat
    ]
    src = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream_lines_dedup_into_engine(
        stream, eng, "docs", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.dedup_text)
        for r in eng.load("docs").collect()
    }
    # batch twin over the SAME doc order (doc_id ascending = arrival order)
    all_docs = spark.createDataFrame(b1 + b2, schema)
    from pyspark.sql import functions as F

    lines = all_docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("line_no", "line")
    )
    want = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.dedup_text)
        for r in _text.dedup_lines_corpus(lines).collect()
    }
    assert got == want, (got, want)
    assert got[11] == (2, 0, "")  # the hollow doc landed
    # index: one row per admitted distinct line, hex keys only
    seen = eng.load("docs/__seen_lines").collect()
    n_distinct_lines = lines.select("line").distinct().count()
    assert len(seen) == n_distinct_lines
    assert all(len(r.line_sha) == 64 for r in seen)


def test_stream_lines_dedup_replay_after_commit_converges(spark, tmp_path):
    """ADVICE r11 (high): a batch killed AFTER both engine.save commits
    (data + seen-line index under the epoch label) but BEFORE the
    streaming checkpoint commit must converge on replay.  Pre-fix, the
    replayed batch probed a seen index already containing its own
    epoch's lines, the anti-join killed every line, and
    overwrite_version rewrote the epoch as all-hollow docs plus an
    empty index version — silent data loss.  The crash is simulated by
    deleting the checkpoint's last commit marker (saves committed,
    checkpoint not), forcing Structured Streaming to re-run the batch
    under the SAME epoch id."""
    from pandas_db_sdk_spark import text as _text
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_lines_dedup_into_engine
    from pyspark.sql import functions as F

    b1 = [(1, "cookie banner\nalpha body one")]
    b2 = [
        (10, "cookie banner\ngamma body ten"),
        (11, "delta body eleven\ndelta body eleven"),
    ]
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_lines_dedup_into_engine(stream, eng, "docs", checkpoint_dir=ck)
        q.awaitTermination()

    run()  # epochs 0 and 1 fully committed
    # crash simulation: epoch 1's saves are durable, its checkpoint
    # commit is not — the exact window the replay guard exists for
    commits = sorted(os.listdir(os.path.join(ck, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ck, "commits", last))
    crc = os.path.join(ck, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replays the last batch under the same epoch label

    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.dedup_text)
        for r in eng.load("docs").collect()
    }
    all_docs = spark.createDataFrame(b1 + b2, schema)
    lines = all_docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("line_no", "line")
    )
    want = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.dedup_text)
        for r in _text.dedup_lines_corpus(lines).collect()
    }
    assert got == want, (got, want)
    # the replayed epoch kept its real survivors — no hollow rewrite
    assert got[10] == (2, 1, "gamma body ten")
    # index converged: one row per admitted distinct line, no empties
    seen = eng.load("docs/__seen_lines").collect()
    assert len(seen) == lines.select("line").distinct().count()


def test_stream_wet_index_exactly_once_with_kill_replay(spark, tmp_path):
    """x43's streaming form (VERDICT r11 #4): fetched pages stream in
    two micro-batches through WARC→CDX-index→WET-roundtrip; batch 2
    re-fetches a batch-1 URI (the seen-URI gate must drop it).  Then
    the crash window — saves committed, checkpoint commit deleted —
    replays the last batch under the same epoch: the dataset, the CDX
    index, and the seen-URI index must all converge (exactly-once per
    URI, roundtrip_ok everywhere, index count == doc count)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_wet_index_into_engine
    from pyspark.sql import functions as F

    def page(i):
        return (
            i,
            f"<html><head><title>p{i}</title></head><body>"
            f"<div class='main'><p>body text {i} with enough words.</p>"
            f"</div></body></html>",
            f"https://www.site{i % 3}.com/p/{i % 7}",
        )

    b1 = [page(i) for i in range(4)]
    b2 = [page(i) for i in range(3, 7)]  # page 3's URI repeats batch 1's
    src = str(tmp_path / "pages")
    ck = str(tmp_path / "ckpt")
    schema = "doc_id long, html string, uri string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_wet_index_into_engine(stream, eng, "wet", checkpoint_dir=ck)
        q.awaitTermination()

    run()

    def snapshot():
        docs = eng.load("wet").collect()
        idx = eng.load("wet/__cdx").collect()
        seen = eng.load("wet/__seen_uris").collect()
        return docs, idx, seen

    docs, idx, seen = snapshot()
    # 4 + 4 pages, one URI collision -> 7 distinct URIs ingested once
    assert len(docs) == 7 and len(idx) == 7 and len(seen) == 7
    assert all(r.roundtrip_ok == 1 for r in docs)
    uris = sorted(r.target_uri for r in docs)
    assert len(set(uris)) == 7
    # doc 3 landed from batch 1; batch 2's re-fetch of its URI was gated
    assert {r.doc_id for r in docs} == {0, 1, 2, 3, 4, 5, 6}

    # crash window: delete the last checkpoint commit, replay epoch 1
    commits = sorted(
        c for c in os.listdir(os.path.join(ck, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ck, "commits", commits[-1]))
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()

    docs2, idx2, seen2 = snapshot()
    key = lambda rows: sorted((r.doc_id, r.target_uri) for r in rows)  # noqa: E731
    assert key(docs2) == key(docs)
    assert len(idx2) == 7 and len(seen2) == 7
    assert all(r.roundtrip_ok == 1 for r in docs2)


def test_stream_embeddings_into_ivf_batch_parity_and_replay(spark, tmp_path):
    """d166's streaming half: vectors streamed in micro-batches against a
    FROZEN centroid table build the same index as one batch assignment
    of all vectors (batch parity); redelivered vec_ids are skipped (the
    cross-batch membership guard); a batch killed after its engine.save
    but before the checkpoint commit converges on replay (the r12 guard
    class: the membership probe excludes its own epoch label)."""
    import os

    from pandas_db_sdk_spark import similarity
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.io import tables
    from pandas_db_sdk_spark.streaming.ingest import stream_embeddings_into_ivf
    from pyspark.sql import functions as F

    e = tables(spark, "/root/testdata/sf0.001")("embeddings").limit(60)
    ref = e.filter(F.col("vec_id") % 2 == 0)
    cent = similarity.label_centroids(ref, "label", "embedding")
    cent.cache().count()  # frozen quantizer: one materialization

    # three micro-batches; batch 3 REDELIVERS half of batch 2's ids and
    # batch 1 carries WITHIN-batch duplicate ids (at-least-once sources
    # batch redeliveries together) — neither may grow duplicate index rows
    rows = e.select("vec_id", "embedding").collect()
    b1, b2 = rows[:20] + rows[:5], rows[20:60]
    redeliver = rows[30:40]
    src = str(tmp_path / "vecs")
    ck = str(tmp_path / "ckpt")
    schema = e.select("vec_id", "embedding").schema
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(redeliver, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_embeddings_into_ivf(
            stream, eng, "ivf", cent, checkpoint_dir=ck
        )
        q.awaitTermination()

    run()
    got = {
        r.vec_id: (r.cell, r.dist) for r in eng.load("ivf").collect()
    }
    want = {
        r.vec_id: (r.nearest_label, r.dist)
        for r in similarity.assign_to_centroid_table(
            e, cent, "vec_id", "embedding"
        ).collect()
    }
    assert got == want  # batch parity AND no duplicate rows from redelivery
    assert eng.load("ivf").count() == 60

    # kill/replay: drop the last checkpoint commit marker -> the final
    # batch re-runs under the same epoch label and must converge
    commits = sorted(
        c for c in os.listdir(os.path.join(ck, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ck, "commits", commits[-1]))
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    got2 = {
        r.vec_id: (r.cell, r.dist) for r in eng.load("ivf").collect()
    }
    assert got2 == want


def _drop_last_commit(ck):
    """Simulate a crash after a batch's saves committed but before its
    checkpoint commit: delete the last commit marker (numeric order) so
    the next run replays that batch under the same epoch id. Returns the
    marker's path."""
    commits = sorted(
        (c for c in os.listdir(os.path.join(ck, "commits")) if not c.startswith(".")),
        key=int,
    )
    last = os.path.join(ck, "commits", commits[-1])
    os.remove(last)
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last


def test_stream_near_dedup_replay_after_commit_converges(spark, tmp_path):
    """Kill/replay of the near-dup sink: after the last epoch is replayed,
    the dataset and the ``__near_bands`` index hold exactly what one clean
    run wrote — the replayed epoch's new doc (12) still lands (its probe
    must not match the index rows its own first attempt committed, so the
    replay re-admits it and ``on_admitted`` sees it again), and neither
    the docs nor their band rows are duplicated."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every single day"
    )
    b1 = [(1, base), (2, "completely different text about spark shuffles and "
                         "partition pruning at terabyte scale for analytics")]
    b2 = [
        (10, base),                                # exact dup of 1
        (11, base.replace("lazy", "sleepy")),      # near-dup of 1
        (12, "an entirely novel document mentioning suffix arrays bloom "
             "filters and quantile sketches in one breath tonight"),
    ]
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    admitted = []

    def on_admitted(out, epoch_id):
        admitted.append((epoch_id, sorted(r.doc_id for r in out.select("doc_id").collect())))

    def run():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_into_engine_near_dedup(
            stream, eng, "docs", "doc_id", "text", checkpoint_dir=ck,
            on_admitted=on_admitted,
        )
        q.awaitTermination()

    def snapshot():
        docs = sorted(r.doc_id for r in eng.load("docs").select("doc_id").collect())
        bands = sorted(
            tuple(r)
            for r in eng.load("docs/__near_bands")
            .select("sig_id", "band_idx", "band_key", "band_pfx")
            .collect()
        )
        return docs, bands

    run()
    docs, bands = snapshot()
    assert docs == [1, 2, 12], docs
    assert len(bands) == 3 * 8
    assert admitted == [(0, [1, 2]), (1, [12])]

    marker = _drop_last_commit(ck)
    run()
    assert os.path.exists(marker)  # the batch really re-ran and committed
    assert admitted[2:] == [(1, [12])]
    assert snapshot() == (docs, bands)
    versions = eng.list_datasets()["dataframes"]
    assert sorted(versions["docs"]["versions"]) == ["epoch_0", "epoch_1"]
    assert sorted(versions["docs/__near_bands"]["versions"]) == ["epoch_0", "epoch_1"]


def test_stream_ingest_dedup_on_replay_after_commit_converges(spark, tmp_path):
    """Kill/replay of ``stream_into_engine(dedup_on=...)``: the replayed
    epoch dedups against the EARLIER epochs only, so its new row (11)
    still lands once and its cross-batch duplicate (10) stays out."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import stream_into_engine

    b1 = [(1, "alpha body"), (2, "beta body")]
    b2 = [(10, "alpha body"), (11, "gamma body")]
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))

    def run():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_into_engine(stream, eng, "docs", checkpoint_dir=ck, dedup_on="text")
        q.awaitTermination()

    def snapshot():
        return sorted(tuple(r) for r in eng.load("docs").select("doc_id", "text").collect())

    run()
    want = [(1, "alpha body"), (2, "beta body"), (11, "gamma body")]
    assert snapshot() == want

    marker = _drop_last_commit(ck)
    run()
    assert os.path.exists(marker)
    assert snapshot() == want
    info = eng.list_datasets()["dataframes"]["docs"]
    assert sorted(info["versions"]) == ["epoch_0", "epoch_1"]


def test_near_band_rows_layout_is_pinned(spark, tmp_path):
    """Golden band layout: ``__near_bands`` indexes already on disk are
    probed with band keys computed by today's code, so (band_idx,
    band_key, band_pfx) for a fixed document must never drift."""
    from pandas_db_sdk_spark.engine import DataFrameEngine
    from pandas_db_sdk_spark.streaming.ingest import near_band_rows

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    doc = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r)
        for r in near_band_rows(eng, doc, "doc_id", "text")
        .select("band_idx", "band_key", "band_pfx")
        .collect()
    )
    assert got == [
        (0, 1102839148355895994, 58000),
        (1, 2721343120708288499, 51000),
        (2, 493003382764588064, 32000),
        (3, 3289932396310326319, 47000),
        (4, 5469404485276677814, 54000),
        (5, -5414559301173160439, 9000),
        (6, 2105323557188904130, 2000),
        (7, 543425433378120920, 24000),
    ]
