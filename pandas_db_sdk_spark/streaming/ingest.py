"""Streaming ingestion into the versioned warehouse — SURVEY §1.4 + §2 C55+.

The reference's write path is batch-only (`load_dataframe`, reference
client.py:66-137). A 100 TB/day pipeline ingests continuously, so the
engine's analogue is a Structured Streaming sink: each micro-batch becomes
one version of a named dataset via ``foreachBatch`` → ``DataFrameEngine
.save``.

The sinks are ``stream_into_engine`` (optionally exact-deduped),
``drift_monitor_into_engine`` (one drift-alarm row per epoch) and
``stream_lines_dedup_into_engine`` (corpus-wide line dedup). The epoch
contract, shared by every sink in this module:

* Drain: each query runs under the available-now trigger — it
  processes everything available at start (respecting the source's
  per-trigger limits) and then stops, so ``awaitTermination()`` returns
  once the input is drained. A checkpoint dir makes the next run resume
  where this one stopped.
* Empty micro-batches are skipped before the sink runs: they land no
  version and touch no index.
* Labels: a micro-batch lands as version ``<prefix><epoch_id>`` with
  ``overwrite_version=True``. Labels are monotonic and replayable:
  ``foreachBatch`` is at-least-once, and a crash between the data write
  and the checkpoint commit re-runs the epoch under the same id, so the
  retry replaces that version's partitions and converges to exactly one
  copy of the batch rather than duplicating data under a fresh label.
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


def stream_lines_dedup_into_engine(
    stream: DataFrame,
    engine: DataFrameEngine,
    dataframe_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    version_prefix: str = "epoch_",
    checkpoint_dir: Optional[str] = None,
    n_pfx: int = 64,
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
    partition directories (scan volume is the batch's hash slice, never
    the corpus).  Lines compare by sha2-256 (the d01 content-key
    convention), so the shuffle and the state both carry 64-hex keys,
    never line text.

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

