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

