"""Streaming ingestion into the versioned warehouse — SURVEY §1.4 + §2 C55+.

The reference's write path is batch-only (`load_dataframe`, reference
client.py:66-137). A 100 TB/day pipeline ingests continuously, so the
engine's analogue is a Structured Streaming sink: each micro-batch becomes
one version of a named dataset via ``foreachBatch`` → ``DataFrameEngine
.save``.

The epoch contract, shared by every streaming sink in this module:

* Drain: each query runs under the available-now trigger — it
  processes everything available at start (respecting the source's
  per-trigger limits) and then stops, so ``awaitTermination()`` returns
  once the input is drained. A checkpoint dir makes the next run resume
  where this one stopped.
* Empty micro-batches are skipped before the sink runs: they land no
  version and touch no index.
* Labels: a micro-batch lands as version ``<prefix><epoch_id>`` with
  ``overwrite_version=True`` (``live_rollup_into_engine`` MERGEs instead,
  and ``stream_into_ann_index`` appends to a parquet tree). Labels are
  monotonic and replayable: ``foreachBatch`` is at-least-once, and a
  crash between the data write and the checkpoint commit re-runs the
  epoch under the same id, so the retry replaces that version's
  partitions and converges to exactly one copy of the batch rather than
  duplicating data under a fresh label.
  Every side index a sink maintains is written under the same label, so
  data and index versions travel together.
* Replay guard: a sink that checks a batch against what earlier epochs
  ingested reads that state through ``_prior_epochs``, which drops the
  current epoch's own version. A batch killed after its saves committed
  but before the checkpoint commit therefore recomputes from exactly the
  pre-batch state on replay, instead of matching (and rejecting) itself.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import DataFrameEngine, DatasetNotFound, _id_bucket_label
from .._localrel import local_rows_df


def _start(frame: DataFrame, sink, checkpoint_dir: Optional[str], output_mode: str = "append"):
    """Run ``sink(batch_df, epoch_id)`` on every non-empty micro-batch of
    ``frame`` until the available input is drained (the module's epoch
    contract). Returns the StreamingQuery handle."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            sink(batch_df, epoch_id)

    writer = frame.writeStream.foreachBatch(run).outputMode(output_mode)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def _prior_epochs(engine: DataFrameEngine, name: str, label: Optional[str]) -> Optional[DataFrame]:
    """The replay guard: dataset ``name`` with its internal columns and
    without version ``label`` (None keeps every version), or None when the
    dataset does not exist yet (first epoch)."""
    from ..engine import VERSION_COL

    try:
        df = engine.load(name, drop_internal=False)
    except DatasetNotFound:
        return None
    if label is None:
        return df
    return df.filter(F.col(VERSION_COL) != F.lit(label))


def _hash_prefix(h, n_pfx: int, width: int):
    """Hash-prefix partition key: ``h`` modulo ``n_pfx`` (non-negative),
    pre-scaled to the engine's ID-bucket width, so each prefix value owns
    exactly one ``from_<lo>_to_<hi>`` partition directory."""
    return F.pmod(h, F.lit(n_pfx)).cast("long") * width


def _prefix_filter(prefixes: DataFrame, col: str, width: int):
    """Literal ``__p_<col>`` directory filter for the distinct
    ``_hash_prefix`` values in ``prefixes[col]`` — static partition pruning
    of an index scan to a batch's colliding slice. The distinct values are
    collected to the driver (at most ``n_pfx`` of them)."""
    pfx = sorted(int(r[0]) for r in prefixes.select(col).distinct().collect())
    return F.col(f"__p_{col}").isin([_id_bucket_label(v, width) for v in pfx])


def stream_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    columns_keys: Optional[dict] = None,
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    dedup_on: Optional[str] = None,
):
    """Start a streaming query that lands each micro-batch as a version of
    ``dataframe_name``. Returns the StreamingQuery handle.

    ``dedup_on=<content column>``: before landing, each micro-batch is
    deduped (a) within itself — first row per content hash — and (b) against
    everything already ingested into the dataset, via the same anti-join on
    32-byte sha2 hashes that :func:`dedup.incremental_exact_dedup` uses.
    This is the streaming twin of per-batch corpus dedup: duplicates across
    micro-batches (retries, overlapping sources) land exactly once, and the
    check scales as a hash-set join, never a text comparison.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        label = f"{version_prefix}{epoch_id}"
        out = batch_df
        if dedup_on is not None:
            from .. import dedup as _dedup

            out = _dedup.exact_dedup(out, dedup_on, out.columns[0])
            existing = _prior_epochs(engine, dataframe_name, label)
            if existing is not None:
                out = _dedup.incremental_exact_dedup(out, existing, dedup_on)
            if out.isEmpty():
                return
        engine.save(
            out,
            dataframe_name,
            columns_keys=columns_keys,
            external_key=label,
            overwrite_version=True,
        )

    return _start(stream, sink, checkpoint_dir)


def rollup_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    transform=None,
):
    """Continuous aggregate: maintain a tumbling-window rollup of the stream
    as a queryable dataset — the hypertable-rollup / materialized-view
    pattern, built from stock Structured Streaming pieces.

    ``transform`` overrides the default windowed aggregate: any callable
    ``stream -> aggregated stream`` whose output is APPEND-mode compatible
    (watermarked windowed/stateful aggregation) — e.g. a ``session_counts``
    or custom multi-metric rollup; ``width``/``watermark`` are ignored when
    it is given.

    Append output mode means a window row reaches the sink exactly once,
    when the watermark passes its end and the window FINALIZES; each
    micro-batch therefore carries only newly-final windows, and landing
    them as epoch versions makes ``engine.load(name)`` — the union of all
    versions — the continuous aggregate, with no window ever duplicated or
    partially updated.

    State is O(open windows × group keys) and the watermark evicts it;
    the landed table grows by finalized windows only, so a 100 TB/day
    stream maintains a rollup orders of magnitude smaller than the input.
    Late rows inside the watermark update their (still-open) window before
    it lands; rows later than the watermark are dropped by contract (C58).
    """
    from .windows import tumbling_counts

    if transform is not None:
        agg = transform(stream)
    else:
        agg = tumbling_counts(stream, width=width, watermark=watermark)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        engine.save(
            batch_df,
            dataframe_name,
            external_key=f"{version_prefix}{epoch_id}",
            overwrite_version=True,
        )

    return _start(agg, sink, checkpoint_dir)


def live_rollup_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
    checkpoint_dir: Optional[str] = None,
    transform=None,
    key_cols=None,
):
    """Continuously-UPDATED rollup: the live-dashboard twin of
    :func:`rollup_into_engine`. Update output mode emits a window's row
    every time new events change it; each micro-batch MERGEs those changed
    rows into the dataset keyed by the window/group columns
    (``engine.merge(when_matched='update', keep_last=True)``), so
    ``engine.load(name)`` always shows the CURRENT value of every window —
    open windows included, revised in place as late events arrive.

    Trade-off vs the append rollup: reads see provisional values (no
    exactly-once-per-window guarantee), and each batch pays a copy-on-write
    rewrite of the rollup table — fine when the rollup is orders of
    magnitude smaller than the stream, which is what rollups are for. The
    watermark still bounds streaming state and late-event admission.

    With a custom ``transform``, ``key_cols`` (the window/group columns the
    MERGE matches on) is REQUIRED — the engine cannot tell metric columns
    from key columns in an arbitrary aggregate, and merging on a guessed
    set would silently insert a new row per revision of an open window
    instead of updating it in place. The default transform's keys are
    known statically (``window_start_us``, ``event_type``).
    """
    from .windows import tumbling_counts

    if transform is not None:
        if key_cols is None:
            raise ValueError(
                "key_cols is required when transform is given: the MERGE "
                "must match on the transform's window/group columns"
            )
        agg = transform(stream)
        missing = [c for c in key_cols if c not in agg.columns]
        if missing:
            raise ValueError(
                f"key_cols {missing} not in the transform's output columns "
                f"{agg.columns}"
            )
        group_cols = list(key_cols)
    else:
        agg = tumbling_counts(stream, width=width, watermark=watermark)
        group_cols = ["window_start_us", "event_type"]  # tumbling_counts keys

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            engine.merge(
                batch_df,
                dataframe_name,
                keys=group_cols,
                when_matched="update",
                keep_last=True,
            )
        except DatasetNotFound:
            engine.save(batch_df, dataframe_name, keep_last=True)

    return _start(agg, sink, checkpoint_dir, "update")


def stream_into_ann_index(
    stream: DataFrame,
    centroids,
    codebooks,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: Optional[str] = None,
):
    """Continuously-maintained ANN index: every micro-batch of new vectors
    is PQ-encoded against the FROZEN coarse quantizer + codebooks
    (``similarity.ivf_pq_index_append`` — no retraining in the hot path;
    that is the production contract: quantizers version with the corpus,
    the inverted file grows with it) and appended to the cid-partitioned
    index tree, so ``similarity.read_ivf_pq_index`` + ``ivf_pq_topk``
    serve queries that immediately see the new vectors.

    Scale shape: encoding is one numpy matmul per Arrow batch; the append
    writes only the batch's (neighbor_id, codes) rows into their cells'
    directories — existing files are never touched, and query-time dynamic
    partition pruning still opens only probed cells. Parquet appends from
    a crashed batch are the same orphan class `engine.fsck` handles for
    versioned datasets; re-encoding a replayed batch writes duplicate
    (id, codes) rows, which ``ivf_pq_topk`` tolerates (same id, same
    codes → same distance; dedupe offline with ``compact``-style rewrite
    if growth matters).
    """
    from .. import similarity

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        delta = similarity.ivf_pq_index_append(
            batch_df, centroids, codebooks, id_col, vec_col
        )
        similarity.write_ivf_pq_index(delta, index_path, mode="append")

    return _start(stream, sink, checkpoint_dir)


NEAR_BAND_PFX = 64  # distinct band-key-prefix partitions of the near-dup index


def near_band_rows(
    engine: DataFrameEngine,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    n_pfx: int = NEAR_BAND_PFX,
) -> DataFrame:
    """Exploded LSH-band layout of a doc frame's MinHash signatures:
    (sig_id, sh, band_idx, band_key, band_pfx) — one row per (doc, band).

    This IS the persisted near-dup index layout (VERDICT r5 #4): rows are
    partitioned on ``band_pfx`` — pmod of the band key, pre-scaled to the
    engine's ID-bucket width so each prefix value owns exactly one
    partition directory — so a probe that knows its own band keys loads
    only the colliding slice of the index instead of scanning and
    re-band-hashing the whole corpus per micro-batch. The exact
    shingle-hash set rides inline (duplicated per band: 8-byte hashes —
    the price of a partition-prunable verify side with no second
    corpus-wide join to fetch sets for candidates).
    """
    from .. import dedup as _dedup

    sigs = _dedup.minhash_signatures_with_sets(df, id_col, text_col, n_hashes, shingle)
    return sigs.select(
        F.col("__id").alias("sig_id"),
        F.col("__shset").alias("sh"),
        F.posexplode(_dedup._band_keys(n_hashes, bands)).alias("band_idx", "band_key"),
    ).withColumn(
        "band_pfx", _hash_prefix(F.col("band_key"), n_pfx, engine.id_bucket_width)
    )


def near_dup_probe(
    engine: DataFrameEngine,
    band_name: str,
    batch_bands: DataFrame,
    jaccard_threshold: float = 0.5,
    exclude_version: Optional[str] = None,
) -> DataFrame:
    """sig_ids of batch docs whose EXACT shingle Jaccard reaches the
    threshold against any doc already in the persisted band index.

    The index scan is STATICALLY partition-pruned: the batch's distinct
    band prefixes (a driver-side collect bounded by ``NEAR_BAND_PFX``
    values) become literal ``__p_band_pfx`` directory filters, so
    per-batch scan volume is the colliding slice of the index, never the
    corpus — the 100 TB fix for the probe re-scanning + re-band-hashing
    the full signature index every micro-batch. Raises DatasetNotFound
    when the index doesn't exist yet (first epoch).

    ``exclude_version`` (the replay guard): a streaming caller passes
    its CURRENT epoch label so a killed-and-replayed batch never probes
    the index version its own first attempt committed — otherwise every
    batch doc would match itself and be rejected on replay.
    """
    idx = _prior_epochs(engine, band_name, exclude_version)
    if idx is None:
        raise DatasetNotFound(band_name)
    idx = (
        idx
        .filter(_prefix_filter(batch_bands, "band_pfx", engine.id_bucket_width))
        .select(
            F.col("sig_id").alias("cor_id"),
            F.col("sh").alias("cor_sh"),
            "band_idx",
            "band_key",
        )
    )
    return (
        batch_bands.join(idx, ["band_idx", "band_key"])
        .dropDuplicates(["sig_id", "cor_id"])
        .withColumn(
            "__j",
            F.size(F.array_intersect("sh", "cor_sh")).cast("double")
            / F.size(F.array_union("sh", "cor_sh")).cast("double"),
        )
        .filter(F.col("__j") >= jaccard_threshold)
        .select("sig_id")
        .distinct()
    )


def stream_into_engine_near_dedup(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    id_col: str,
    text_col: str,
    columns_keys: Optional[dict] = None,
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    jaccard_threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    prepare=None,
    on_admitted=None,
):
    """Streaming ingest with NEAR-duplicate gating against everything
    already ingested — the MinHash twin of ``stream_into_engine``'s exact
    ``dedup_on``, built around a PERSISTED signature index so the corpus
    is never re-signatured per batch (``incremental_dedup_minhash``'s
    contract re-preps its corpus argument each call — correct for one-shot
    batch admission, quadratic-in-stream-length if called per epoch).

    The index lives as the engine dataset ``<name>/__near_bands`` in the
    exploded ``near_band_rows`` layout — one row per ADMITTED (doc, band):
    (sig_id, sh, band_idx, band_key, band_pfx), PARTITIONED on the
    band-key prefix — so the per-batch probe reads only colliding
    partitions (VERDICT r5 #4: the previous (sig_id, mh, sh) layout
    re-scanned and re-band-hashed the entire index every micro-batch —
    the scale-killer class at 100 TB). Per micro-batch:

    1. within-batch near-dedup (``dedup_corpus_minhash``: pairs →
       connected components → min-id canonicals);
    2. ``near_dup_probe``: statically partition-pruned band-key equi-join
       of the batch's band rows against the index (candidate volume
       scales with the batch, scan volume with its colliding slice);
    3. exact-Jaccard verify on the stored shingle sets; verified matches
       drop the batch doc;
    4. survivors land in the dataset AND their band rows append to the
       index, both under the epoch label (same docs, same signatures on
       replay).

    At 100 TB the index is corpus-sized but hash-typed (8-byte shingle
    hashes ≈ the text re-expressed, × bands for the inline verify sets),
    and each batch's work is batch × collision volume.
    """
    from .. import dedup as _dedup

    band_name = f"{dataframe_name}/__near_bands"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if prepare is not None:
            # per-batch transform hook (r10): the crawl wrapper runs its
            # gate stages + cross-batch seen-URL probe here, under the
            # same epoch label so replays converge
            batch_df = prepare(batch_df, epoch_id)
            if batch_df.isEmpty():
                return
        out = _dedup.dedup_corpus_minhash(
            batch_df, id_col, text_col,
            n_hashes=n_hashes, bands=bands,
            jaccard_threshold=jaccard_threshold, shingle=shingle,
        )
        from .._scratch import scratch_persist

        # the band rows feed three consumers (prefix collect, probe join,
        # index append) — persist so signatures are computed once per batch
        nb = scratch_persist(
            near_band_rows(
                engine, out, id_col, text_col, n_hashes=n_hashes,
                bands=bands, shingle=shingle,
            ),
            "stream_near_dedup/batch_bands",
        )
        label = f"{version_prefix}{epoch_id}"
        try:
            dup_ids = near_dup_probe(
                engine, band_name, nb, jaccard_threshold=jaccard_threshold,
                exclude_version=label,
            )
        except DatasetNotFound:
            dup_ids = None
        if dup_ids is not None:
            out = out.join(
                dup_ids, out[id_col] == dup_ids.sig_id, "left_anti"
            )
            nb = nb.join(dup_ids, "sig_id", "left_anti")
        if out.isEmpty():
            return
        engine.save(
            out, dataframe_name,
            columns_keys=columns_keys, external_key=label,
            overwrite_version=True,
        )
        engine.save(
            nb, band_name, columns_keys={"band_pfx": "ID"},
            external_key=label, overwrite_version=True,
        )
        if on_admitted is not None:
            # post-admission hook (r10): side indexes that must track
            # ADMITTED docs only (the crawl wrapper's seen-URL index)
            # append here, under the same epoch label
            on_admitted(out, epoch_id)

    return _start(stream, sink, checkpoint_dir)


def drift_monitor_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    reference: DataFrame,
    value_col: str,
    n_buckets: int = 20,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
    checkpoint_dir: Optional[str] = None,
):
    """Streaming distribution-drift alarm: every micro-batch's
    ``value_col`` distribution is compared against a FROZEN reference
    profile and one alarm row lands per epoch — PSI (population
    stability index) and a histogram-KS statistic, with a ``drifted``
    verdict at the given thresholds. The production guardrail that turns
    c91's batch KS into a continuous monitor.

    Scale shape: the reference profile (equi-depth bucket edges +
    proportions) is built ONCE at monitor creation — the d31/d03g
    ingest-time-artifact discipline: at 100 TB it is computed per corpus
    version and served to every monitor. Per batch the ONLY aggregation
    is one bucket-count groupBy (≤ n_buckets result rows; bucket index
    is a codegen sum of edge comparisons, no UDF); PSI/KS arithmetic
    happens on that n_buckets-bounded frame driver-side. Alarm rows are
    versioned ``epoch_<id>``.
    """
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    edges_row = reference.agg(
        F.percentile(F.col(value_col), F.array(*[F.lit(f) for f in fracs])).alias(
            "e"
        ),
        F.count(F.col(value_col)).alias("n"),
    ).collect()[0]
    # n==0 check FIRST: an empty/all-null reference makes F.percentile
    # return NULL, and iterating it would raise a bare TypeError before
    # the friendly error below
    n_ref = int(edges_row["n"])
    if n_ref == 0 or edges_row["e"] is None:
        raise ValueError("reference has no non-null values")
    # dedupe tied percentiles: equal edges would create zero-width buckets
    edges = sorted({float(e) for e in edges_row["e"]})

    def bucket_expr():
        idx = F.lit(0)
        for e in edges:
            idx = idx + (F.col(value_col) > F.lit(e)).cast("int")
        return idx

    k = len(edges) + 1
    ref_counts = {
        int(r["b"]): int(r["c"])
        for r in reference.filter(F.col(value_col).isNotNull())
        .groupBy(bucket_expr().alias("b"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    ref_p = [ref_counts.get(i, 0) / n_ref for i in range(k)]

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        import math

        spark = batch_df.sparkSession
        rows = (
            batch_df.filter(F.col(value_col).isNotNull())
            .groupBy(bucket_expr().alias("b"))
            .agg(F.count("*").alias("c"))
            .collect()
        )
        n = sum(int(r["c"]) for r in rows)
        if n == 0:
            return
        got = {int(r["b"]): int(r["c"]) for r in rows}
        p = [got.get(i, 0) / n for i in range(k)]
        eps = 1e-6
        psi = sum(
            (pb - pr) * math.log((pb + eps) / (pr + eps))
            for pb, pr in zip(p, ref_p)
        )
        ks, ca, cb = 0.0, 0.0, 0.0
        for pb, pr in zip(p, ref_p):
            ca += pb
            cb += pr
            ks = max(ks, abs(ca - cb))
        alarm = local_rows_df(spark,
            [
                (
                    int(epoch_id),
                    n,
                    round(psi, 6),
                    round(ks, 6),
                    bool(psi > psi_threshold or ks > ks_threshold),
                )
            ],
            "epoch long, n_batch long, psi double, ks_stat double, drifted boolean",
        )
        engine.save(
            alarm,
            dataframe_name,
            external_key=f"epoch_{epoch_id}",
            overwrite_version=True,
        )

    return _start(stream, sink, checkpoint_dir)


def stream_crawl_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    robots: DataFrame,
    agent: str = "*",
    languages: tuple = ("en",),
    id_col: str = "doc_id",
    uri_col: str = "target_uri",
    body_col: str = "body",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    jaccard_threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
):
    """The STREAMING form of ``pipeline.crawl_corpus`` (r10, the d116
    composition as continuous ingest): a stream of fetched records
    (``parse_warc`` output shape) runs the identical gate stages per
    micro-batch — HTTP 200, RFC 9309 robots, canonical-URL dedup,
    boilerplate strip, language, gopher — then TWO cross-batch gates
    close the loop the batch pipeline can't express:

    * a persisted SEEN-URL index (``<name>/__seen_urls``, canonical
      URLs partitioned by key hash) drops re-fetches of pages any
      earlier epoch admitted — the crawl frontier's "don't refetch"
      contract; survivors' URLs append under the epoch label;
    * the persisted MinHash band index (``stream_into_engine_near_dedup``
      unchanged) drops near-duplicates of everything ever ingested.

    Admitted docs land as engine versions per epoch. Scale: per-batch gate work is batch-sized; the URL probe is a
    left-anti against a key-hash index; near-dup admission reads only
    the colliding band slice."""
    from .. import pipeline as _pipeline

    url_name = f"{dataframe_name}/__seen_urls"

    def prepare(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        stages = _pipeline.crawl_gates(
            batch_df, robots,
            id_col=id_col, uri_col=uri_col, body_col=body_col,
            agent=agent, languages=languages, persist=False,
        )
        out = stages["gopher_kept"]
        seen = _prior_epochs(engine, url_name, f"{version_prefix}{epoch_id}")
        if seen is not None:
            out = out.join(seen.select("canonical_url"), "canonical_url", "left_anti")
        # bounded per-batch materialization: the gate result feeds both
        # the near-dedup admission and (via on_admitted) the URL append
        return out.localCheckpoint(eager=True)

    def on_admitted(out: DataFrame, epoch_id: int) -> None:
        # the seen-URL index tracks ADMITTED docs only — a near-dup-
        # rejected doc's URL stays eligible, keeping both side indexes
        # on the same "grow only by admitted docs" contract
        new_urls = out.select("canonical_url").withColumn(
            "url_pfx",
            _hash_prefix(F.xxhash64("canonical_url"), 16, engine.id_bucket_width),
        )
        engine.save(
            new_urls, url_name, columns_keys={"url_pfx": "ID"},
            external_key=f"{version_prefix}{epoch_id}",
            overwrite_version=True,
        )

    return stream_into_engine_near_dedup(
        stream, engine, dataframe_name, id_col, "text",
        version_prefix=version_prefix,
        checkpoint_dir=checkpoint_dir,
        jaccard_threshold=jaccard_threshold,
        n_hashes=n_hashes, bands=bands,
        prepare=prepare,
        on_admitted=on_admitted,
    )


def stream_lines_dedup_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    n_pfx: int = NEAR_BAND_PFX,
):
    """Streaming CORPUS-WIDE line dedup — ``text.dedup_lines_corpus``'s
    continuous form (the CCNet/RefinedWeb boilerplate kill, run as docs
    arrive): every distinct line lands exactly once ACROSS ALL
    micro-batches, at its first-seen occurrence; later documents
    reassemble from their surviving lines (zero-survivor docs land with
    empty text — counted, not dropped, so retention stays auditable).

    Cross-batch state is the engine dataset ``<name>/__seen_lines`` —
    one (line_sha, line_pfx) row per line ever ADMITTED, PARTITIONED on
    a hash prefix pre-scaled to the engine's ID-bucket width — so each
    batch's membership probe statically prunes to the colliding
    partition directories (the near-dup index discipline: scan volume
    is the batch's hash slice, never the corpus).  Lines compare by
    sha2-256 (the d01 content-key convention), so the shuffle and the
    state both carry 64-hex keys, never line text.

    Per micro-batch, under ONE epoch label:

    1. explode lines, key by sha2;
    2. anti-join the pruned seen-line slice (cross-batch kill);
    3. within-batch keep-first via the skew-safe partial-aggregable
       ``min(struct(id, line_no))`` (never a window over the line key);
    4. reassemble every batch doc; append the batch's newly-admitted
       line keys to the index.

    The membership probe is replay-guarded. Without the guard, a replayed
    batch would probe a seen index that already contains its own lines —
    the anti-join would kill every line and ``overwrite_version`` would
    rewrite the epoch as all-hollow docs plus an empty index version
    (silent data loss). With it, the rewrite reproduces the original
    commit byte-for-byte."""

    seen_name = f"{dataframe_name}/__seen_lines"
    w = engine.id_bucket_width

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        label = f"{version_prefix}{epoch_id}"
        from .._scratch import scratch_persist

        lines = scratch_persist(
            batch_df.select(
                F.col(id_col),
                F.posexplode(F.split(F.col(text_col), sep)).alias(
                    "line_no", "line"
                ),
            ).withColumn("line_sha", F.sha2("line", 256)),
            "stream_lines/batch_lines",
        )
        fresh = lines
        seen = _prior_epochs(engine, seen_name, label)
        if seen is not None:
            pfx = lines.select(
                _hash_prefix(F.xxhash64("line_sha"), n_pfx, w).alias("line_pfx")
            )
            seen = seen.filter(_prefix_filter(pfx, "line_pfx", w)).select("line_sha")
            fresh = lines.join(seen, "line_sha", "left_anti")
        winners = (
            fresh.groupBy("line_sha")
            .agg(F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("__w"))
            .select(
                F.col("line_sha").alias("__wsha"),
                F.col(f"__w.{id_col}").alias("__wid"),
                F.col("__w.line_no").alias("__wno"),
            )
        )
        winners = scratch_persist(winners, "stream_lines/winners")
        kept = fresh.join(
            winners,
            (fresh["line_sha"] == winners["__wsha"])
            & (fresh[id_col] == winners["__wid"])
            & (fresh["line_no"] == winners["__wno"]),
            "left_semi",
        )
        totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
        rebuilt = kept.groupBy(id_col).agg(
            F.count("*").alias("n_kept_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("line_no"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("dedup_text"),
        )
        out = totals.join(rebuilt, id_col, "left").select(
            id_col,
            "n_lines",
            F.coalesce(F.col("n_kept_lines"), F.lit(0))
            .cast("long")
            .alias("n_kept_lines"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
        engine.save(
            out, dataframe_name, external_key=label, overwrite_version=True
        )
        engine.save(
            winners.select(
                F.col("__wsha").alias("line_sha"),
                _hash_prefix(F.xxhash64("__wsha"), n_pfx, w).alias("line_pfx"),
            ),
            seen_name,
            columns_keys={"line_pfx": "ID"},
            external_key=label,
            overwrite_version=True,
        )

    return _start(stream, sink, checkpoint_dir)


def stream_wet_index_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    html_col: str = "html",
    uri_col: str = "uri",
    id_col: str = "doc_id",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
):
    """STREAMING form of x43's fetch tail — fetched pages arrive as a
    stream of (id, html, uri) and each micro-batch runs the same lazy
    program the batch composite certifies: WARC container build →
    CDX index write (``multimodal.warc_gz_cdx_index``) → indexed-fetch
    verify → WET conversion with byte-exact roundtrip
    (``multimodal.parse_wet``).  Per epoch, under ONE label:

    * the WET documents land as the dataset (id, target_uri,
      content_length, text, roundtrip_ok);
    * the CDX rows land as ``<name>/__cdx`` — the random-access index
      a serving tier reads;
    * newly-ingested URIs append to ``<name>/__seen_uris`` and gate
      later epochs (the frontier's "don't refetch" contract).

    The seen-URI probe is replay-guarded. Scale: WARC/WET/CDX work is pure Arrow mapInPandas over the batch;
    the only cross-batch state is the URI key index (hash keys, never
    bodies)."""
    from .. import multimodal
    from .. import text as _text

    seen_name = f"{dataframe_name}/__seen_uris"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from .._scratch import scratch_persist

        label = f"{version_prefix}{epoch_id}"
        fresh = batch_df
        seen = _prior_epochs(engine, seen_name, label)
        if seen is not None:
            seen = seen.select("uri_sha")
            fresh = batch_df.join(
                seen,
                F.sha2(F.col(uri_col), 256) == seen["uri_sha"],
                "left_anti",
            )
        fresh = scratch_persist(fresh, "stream_wet/fresh")
        if fresh.isEmpty():
            return
        files = scratch_persist(
            multimodal.synth_warc_gz(fresh, html_col, uri_col, id_col),
            "stream_wet/warc",
        )
        idx = multimodal.warc_gz_cdx_index(files, "payload", id_col)
        parsed = multimodal.parse_warc(files, "payload", id_col)
        txt = _text.html_main_text(F.col("body"))
        wet_str = F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
            F.col("target_uri"),
            F.lit("\r\nWARC-Record-ID: <urn:sha256:"), F.sha2(txt, 256),
            F.lit(">\r\nContent-Type: text/plain\r\nContent-Length: "),
            F.octet_length(txt).cast("string"),
            F.lit("\r\n\r\n"), txt, F.lit("\r\n\r\n"),
        )
        wet = parsed.select(
            id_col,
            "target_uri",
            F.encode(wet_str, "utf-8").alias("payload"),
            txt.alias("__orig"),
        )
        rewet = multimodal.parse_wet(
            wet.select(id_col, "payload"), "payload", id_col
        )
        docs = rewet.join(wet.select(id_col, "__orig"), id_col).select(
            id_col,
            "target_uri",
            "content_length",
            "text",
            (
                (F.col("text") == F.col("__orig"))
                & (F.octet_length("text") == F.col("content_length"))
            ).cast("int").alias("roundtrip_ok"),
        )
        engine.save(
            docs, dataframe_name, external_key=label, overwrite_version=True
        )
        engine.save(
            idx.filter(F.col("warc_type") == "response"),
            f"{dataframe_name}/__cdx",
            external_key=label,
            overwrite_version=True,
        )
        engine.save(
            fresh.select(F.sha2(F.col(uri_col), 256).alias("uri_sha")),
            seen_name,
            external_key=label,
            overwrite_version=True,
        )

    return _start(stream, sink, checkpoint_dir)


def stream_embeddings_into_ivf(
    stream: DataFrame,
    engine: DataFrameEngine,
    index_name: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
):
    """INCREMENTAL IVF maintenance (VERDICT r12 #4): every micro-batch
    of new embeddings routes against a FROZEN centroid table
    (``similarity.assign_to_centroid_table`` — (label, pos, centroid)
    long form; no retraining in the hot path: quantizers version with
    the corpus) and lands in the engine dataset ``index_name`` as
    (id, cell, dist) rows — the inverted-file membership the drift
    card and cell-probed search read.

    Duplicate guards (the r12 cross-batch-index class):

    * a vec_id already committed by an EARLIER epoch is skipped
      (at-least-once sources redeliver; the index must not grow
      duplicate rows), and duplicate vec_ids WITHIN one micro-batch
      collapse to a deterministic keep-first (the lines-dedup sink's
      skew-safe ``min(struct(vec))`` per id — never a window over the
      id) before assignment;
    * the membership probe is replay-guarded, so a replayed batch does
      not anti-join itself into an empty rewrite, and the index
      converges byte-identically (pinned: stream-built index == the
      batch assignment of the same vectors).

    Centroid DRIFT — the rebuild trigger — is queried offline with
    ``similarity.ivf_drift_card`` over the index snapshot vs the live
    vectors.  Scale: assignment is one broadcast O(cells × dim) pass
    per batch; the membership probe is an id anti-join against the
    index (id-typed, never vectors)."""
    from .. import similarity as _sim

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        label = f"{version_prefix}{epoch_id}"
        # within-batch keep-first: duplicate ids in ONE micro-batch
        # (at-least-once sources batch redeliveries together) must not
        # land as duplicate index rows; min(struct) is partial-
        # aggregable, so a hot id never serializes a window task
        new = (
            batch_df.groupBy(id_col)
            .agg(F.min(F.struct(F.col(vec_col))).alias("__first"))
            .select(id_col, F.col(f"__first.{vec_col}").alias(vec_col))
        )
        seen = _prior_epochs(engine, index_name, label)
        if seen is not None:
            new = new.join(seen.select(id_col), id_col, "left_anti")
        if new.isEmpty():
            return
        assigned = _sim.assign_to_centroid_table(
            new, centroids, id_col, vec_col
        )
        rows = assigned.select(
            id_col,
            F.col("nearest_label").alias("cell"),
            "dist",
        )
        engine.save(
            rows, index_name, external_key=label, overwrite_version=True
        )

    return _start(stream, sink, checkpoint_dir)
