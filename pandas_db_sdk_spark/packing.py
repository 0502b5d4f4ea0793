"""Sequence packing — a training-data pipeline staple: group documents into
fixed token-budget bins (one bin ≈ one training sequence) with minimal
padding waste.

Distributed shape: documents are hash-salted into independent packing groups
(one per task), and each group packs locally with first-fit-decreasing in a
single applyInPandas. No global state, no driver collect — throughput scales
linearly with executors, and the only shuffle is the groupBy on the salt.
Cross-group packing loses a little density versus a global packer, but a
global packer is inherently sequential; FFD within a few thousand docs per
group is within a few percent of optimal bin count in practice.

Determinism: the group salt is xxhash64(id) (stable), and within a group
docs are processed in (tokens desc, id) order — same input, same bins,
any cluster size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# Multiplicative-hash constants for shard_assign: pure int64 arithmetic so
# the same expression is computable (and bit-identical) in any SQL engine —
# no engine-specific hash function in the contract.
_SHARD_P = 1_000_003
_SHARD_A = 2_654_435_761  # Knuth's 2^32 / phi


def shard_assign(
    df: DataFrame, id_col: str, n_shards: int
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data layout:
    every row gets (shard, shard_pos) where ``shard`` spreads ids via a
    multiplicative hash (decorrelated from id order, so consecutive ids
    never land in one shard-run) and ``shard_pos`` is a stable total order
    within the shard (re-hashed, tie-broken by id).

    One shuffle (the shard_pos window re-key). Writing the result
    partitioned by ``shard`` yields the randomized, evenly-sized training
    shards a data loader consumes; determinism means re-runs produce
    byte-identical shards (resumable pipelines).

    Scale contract: each shard's position sort runs in ONE task (sort
    spills, but parallelism is bounded by n_shards) — pick n_shards so a
    shard is task-sized (the usual 1–10 GB training-shard convention).
    For giant shards, compose :func:`pandas_db_sdk_spark.scale.
    global_row_index` per shard instead.
    """
    h = F.pmod((F.col(id_col).cast("long") % _SHARD_P) * _SHARD_A, F.lit(2**31 - 1))
    w = Window.partitionBy("shard").orderBy(F.pmod(F.col("__h") * 48271, F.lit(2**31 - 1)), id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int"))
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("__h")
    )


def pack_greedy(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_groups: int | None = None,
) -> DataFrame:
    """Assign every row a (pack_group, bin_idx) such that the token sum of
    each bin is <= budget; rows larger than the budget get a singleton bin.

    Returns the input columns, ``tokens_col`` cast to long, plus
    (pack_group, bin_idx). Carried columns go through Arrow/pandas, so a
    nullable integer column comes back through a float: pass only the
    columns the caller needs.
    """
    clash = {"pack_group", "bin_idx", "__grp"} & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_greedy: input already has column(s) {sorted(clash)}"
        )
    if n_groups is None:
        # 2× parallelism: enough groups that a straggler can't serialize the
        # stage, few enough that per-group Arrow batch overhead stays small
        # (measured ~25% faster than 4× at sf0.1) and FFD density stays high
        # (bigger groups pack tighter).
        n_groups = df.sparkSession.sparkContext.defaultParallelism * 2

    # column types follow the input schema — dedup stages commonly emit
    # string ids (uuid/sha), and forcing int64 here would crash them at
    # runtime.
    schema = StructType(
        [
            StructField(f.name, LongType() if f.name == tokens_col else f.dataType)
            for f in df.schema.fields
        ]
        + [
            StructField("pack_group", IntegerType()),
            StructField("bin_idx", IntegerType()),
        ]
    )

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([tokens_col, id_col], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per bin
        assigned = []
        for t in pdf[tokens_col]:
            t = int(t)
            for i, rem in enumerate(bins):
                if t <= rem:
                    bins[i] = rem - t
                    assigned.append(i)
                    break
            else:
                # new bin; oversized docs occupy one bin alone (capacity < 0
                # ensures nothing joins them)
                bins.append(budget - t)
                assigned.append(len(bins) - 1)
        out = pdf.drop(columns="__grp")
        out[tokens_col] = out[tokens_col].astype("int64")
        out["pack_group"] = int(pdf["__grp"].iloc[0])
        out["bin_idx"] = pd.Series(assigned, index=pdf.index, dtype="int32")
        return out

    salted = df.withColumn(
        "__grp", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).cast("int")
    )
    # explicit width: the packing stage's output is small in BYTES, so AQE
    # coalesces it to one partition — which serializes every group's
    # pandas conversion + FFD through ONE Python worker. A user-specified
    # repartition pins one task per core and the groupBy reuses the
    # exchange (the d53 edit-distance precedent; guide §2.5 — group
    # assignment and bin layout are unchanged, only placement)
    width = df.sparkSession.sparkContext.defaultParallelism
    return (
        salted.repartition(width, "__grp")
        .groupBy("__grp")
        .applyInPandas(pack_group, schema)
    )


def sft_loss_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    prompt_col: str = "prompt",
    response_col: str = "response",
    mask_label: int = -100,
) -> DataFrame:
    """SFT training-example prep (d161) — the (input_ids, labels) build
    every supervised-finetuning pipeline runs after cleaning: tokenize
    prompt + response (whitespace tokens; swap in the certified BPE /
    unigram encoders for subword ids), id each token against a
    CORPUS-DERIVED vocabulary (dense rank over the sorted distinct
    tokens — deterministic, so an oracle replays every id), and emit
    per example

    * ``input_ids``  = prompt ids ++ response ids,
    * ``labels``     = ``mask_label`` over every prompt position ++
      response ids (loss flows only through the response — the SFT
      masking convention),

    plus the audit counts (n_tokens, n_masked).  Empty tokens from
    repeated separators drop.

    Scale: one posexplode + one vocabulary equi-join + one per-doc
    ``collect_list(struct(pos, …))`` reassembly — per-doc state bounds
    at document length (the packing tier's contract); the vocabulary
    index uses ``scale.global_row_index`` (range-partitioned rank, no
    single-task window), and the id join is a plain hash join that
    AQE broadcasts while the vocab is small."""
    from . import scale as _scale

    toks = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.filter(
                    F.concat(
                        F.split(F.col(prompt_col), " "),
                        F.split(F.col(response_col), " "),
                    ),
                    lambda x: x != "",
                )
            ).alias("__pos", "__tok"),
            F.size(
                F.filter(F.split(F.col(prompt_col), " "), lambda x: x != "")
            ).alias("__n_prompt"),
        )
    )
    from ._scratch import scratch_persist

    toks = scratch_persist(toks, "sft_loss_mask/tokens")
    vocab = _scale.global_row_index(
        toks.select("__tok").distinct(), ["__tok"], index_col="__vid"
    )
    ided = toks.join(vocab, "__tok").select(
        id_col,
        "__pos",
        F.col("__vid").cast("long").alias("__vid"),
        (F.col("__pos") < F.col("__n_prompt")).alias("__masked"),
    )
    return (
        ided.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("__masked").cast("long")).cast("long").alias("n_masked"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__vid", "__masked"))
                ),
                lambda s: s["__vid"],
            ).alias("input_ids"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__vid", "__masked"))
                ),
                lambda s: F.when(s["__masked"], F.lit(mask_label)).otherwise(
                    s["__vid"]
                ),
            ).alias("labels"),
        )
    )


def multiturn_loss_mask(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_no",
    role_col: str = "role",
    text_col: str = "text",
    train_roles: tuple = ("assistant",),
    mask_label: int = -100,
) -> DataFrame:
    """MULTI-TURN conversation loss-mask prep (d176 — VERDICT r13 #7):
    :func:`sft_loss_mask` handles one (prompt, response) pair; modern
    SFT data is role-segmented conversations.  Input is ONE ROW PER
    TURN (conv, turn_no, role, text); per conversation this
    concatenates the turns in ``turn_no`` order and emits

    * ``input_ids`` = every turn's token ids, turn-major,
    * ``labels``    = ``mask_label`` over every token of a turn whose
      role is NOT in ``train_roles`` (system / user / tool turns carry
      no loss), the token id otherwise — the multi-turn SFT masking
      convention (train on assistant turns only, by default),

    plus the audit counts (n_turns, n_train_turns — turns that
    produced tokens — n_tokens, n_masked).  Token ids come from the
    same corpus-derived vocabulary as :func:`sft_loss_mask` (dense
    rank over sorted distinct tokens); an UNKNOWN role is masked —
    the conservative default (never train on text a config typo let
    through).  Empty tokens from repeated separators drop; turns with
    no tokens contribute nothing.

    Scale: same shape as d161 — one posexplode + one vocabulary
    equi-join (AQE-broadcast while the vocab is small) + one per-conv
    ``collect_list(struct(turn, pos, …))`` reassembly whose state
    bounds at conversation length; the vocabulary index is
    range-partitioned (``scale.global_row_index``), no single-task
    window, no driver state."""
    from . import scale as _scale

    toks = df.select(
        F.col(conv_col),
        F.col(turn_col).alias("__turn"),
        (~F.col(role_col).isin(*train_roles)).alias("__masked"),
        F.posexplode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("__pos", "__tok"),
    )
    from ._scratch import scratch_persist

    toks = scratch_persist(toks, "multiturn_loss_mask/tokens")
    vocab = _scale.global_row_index(
        toks.select("__tok").distinct(), ["__tok"], index_col="__vid"
    )
    ided = toks.join(vocab, "__tok").select(
        conv_col,
        "__turn",
        "__pos",
        F.col("__vid").cast("long").alias("__vid"),
        "__masked",
    )
    arr = F.array_sort(
        F.collect_list(F.struct("__turn", "__pos", "__vid", "__masked"))
    )
    return (
        ided.groupBy(conv_col)
        .agg(
            F.count_distinct("__turn").cast("long").alias("n_turns"),
            F.count_distinct(
                F.when(~F.col("__masked"), F.col("__turn"))
            ).cast("long").alias("n_train_turns"),
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("__masked").cast("long")).cast("long").alias(
                "n_masked"
            ),
            F.transform(arr, lambda s: s["__vid"]).alias("input_ids"),
            F.transform(
                arr,
                lambda s: F.when(
                    s["__masked"], F.lit(mask_label)
                ).otherwise(s["__vid"]),
            ).alias("labels"),
        )
    )


def dpo_pair_prep(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    response_col: str = "response",
    score_col: str = "score",
    margin: float = 0.0,
) -> DataFrame:
    """DPO/RLHF PREFERENCE-PAIR construction (d164) — the SFT tier's
    sibling (:func:`sft_loss_mask` builds (input_ids, labels); this
    builds the (chosen, rejected) pairs direct-preference-optimization
    trains on, from scored candidate responses):

    * PAIR BY PROMPT KEY: per prompt, chosen = the candidate with the
      highest (score, response) — the response tie-break makes equal
      scores deterministic — rejected = the lowest.
    * DEGENERATE PROMPTS DROP: a prompt whose candidates all tie
      (chosen == rejected) or whose score gap is below ``margin``
      carries no learnable preference signal.
    * PAIR-LEVEL DEDUP on the JOINT content hash sha256(chosen ||
      0x1f || rejected): the same response pair under many prompts is
      one gradient direction, not many — keep the smallest prompt key
      (deterministic).  Prompt-level near-dup LEAKAGE scrub across
      train/eval is the d164b composition (``pipeline.hash_split`` +
      ``dedup.incremental_dedup_minhash`` on the prompt text — the d47
      machinery at pair granularity).

    Returns (prompt, n_candidates, chosen, rejected, score_chosen,
    score_rejected, score_gap, pair_sha), scores rounded 6 dp.
    Candidates with a NULL score or NULL response are excluded before
    pairing (``n_candidates`` counts scored candidates) — they carry
    no preference signal, and inside max/min-of-struct a null would
    otherwise rank as the extremum and silently drop the prompt's
    valid pair along with it.

    Scale: one groupBy(prompt) whose min/max aggregates are
    partial-agg (map-side combine) friendly, then one groupBy(pair_sha)
    keep-min — two key shuffles carrying one row per prompt, no window
    over the corpus, no driver state.  Skew-safe: a viral prompt with
    millions of candidates still combines map-side (max of structs is
    associative)."""
    s = F.col(score_col).cast("double")
    per = (
        df.select(
            F.col(prompt_col), F.col(response_col).alias("__r"), s.alias("__s")
        )
        # Unscored / text-less candidates carry no preference signal and
        # must not poison the prompt: a null score inside max(struct)
        # ranks as the extremum, nulls score_gap, and the gap filter then
        # silently drops the WHOLE prompt — including its valid pair.
        # Filter them out; n_candidates counts scored candidates only.
        .filter(F.col("__s").isNotNull() & F.col("__r").isNotNull())
        .groupBy(prompt_col)
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.max(F.struct(F.col("__s"), F.col("__r"))).alias("__hi"),
            F.min(F.struct(F.col("__s"), F.col("__r"))).alias("__lo"),
        )
        .select(
            prompt_col,
            "n_candidates",
            F.col("__hi.__r").alias("chosen"),
            F.col("__lo.__r").alias("rejected"),
            F.round(F.col("__hi.__s"), 6).alias("score_chosen"),
            F.round(F.col("__lo.__s"), 6).alias("score_rejected"),
            F.round(F.col("__hi.__s") - F.col("__lo.__s"), 6).alias(
                "score_gap"
            ),
        )
        .filter(
            (F.col("chosen") != F.col("rejected"))
            & (F.col("score_gap") >= F.lit(float(margin)))
        )
        .withColumn(
            "pair_sha",
            F.sha2(
                F.concat(
                    F.col("chosen"), F.lit("\x1f"), F.col("rejected")
                ),
                256,
            ),
        )
    )
    keep = per.groupBy("pair_sha").agg(
        F.min_by(
            F.struct(
                prompt_col,
                "n_candidates",
                "chosen",
                "rejected",
                "score_chosen",
                "score_rejected",
                "score_gap",
            ),
            F.col(prompt_col),
        ).alias("__row")
    )
    return keep.select(
        F.col(f"__row.{prompt_col}").alias(prompt_col),
        F.col("__row.n_candidates").alias("n_candidates"),
        F.col("__row.chosen").alias("chosen"),
        F.col("__row.rejected").alias("rejected"),
        F.col("__row.score_chosen").alias("score_chosen"),
        F.col("__row.score_rejected").alias("score_rejected"),
        F.col("__row.score_gap").alias("score_gap"),
        "pair_sha",
    )


def rejection_sampling_prep(
    df: DataFrame,
    prompt_col: str = "prompt_id",
    response_col: str = "response",
    score_col: str = "score",
    score_threshold: float = 0.0,
) -> DataFrame:
    """REJECTION-SAMPLING / BEST-OF-N preparation (d174) — the DPO
    tier's second sibling (VERDICT r13 #3): :func:`dpo_pair_prep`
    builds (chosen, rejected) pairs; this keeps the TOP-1-OF-N
    response per prompt with a score threshold plus the per-prompt
    score distribution a reward-model analysis reads:

    * BEST BY PROMPT KEY: best = the candidate with the highest
      (score, response) — the d164 max-of-struct contract, so equal
      scores tie-break deterministically on the response text (pinned
      by the d174b twin against an independent window derivation).
    * SCORE CARD: ``n_candidates`` (scored candidates), ``score_best``
      / ``score_mean`` / ``score_std`` (sample std, NULL for
      single-candidate prompts in both engines) — the temperature
      diagnostics (a flat score distribution means the sampler is not
      separating quality).
    * KEPT FLAG, not a filter: ``kept = score_best >= threshold`` —
      every prompt stays in the card so the analysis sees rejected
      prompts too; the training set is ``filter(kept == 1)``.

    NULL-scored / NULL-response candidates are excluded before
    aggregation (the d164 contract: inside max-of-struct a null ranks
    as the extremum and would silently displace the valid argmax).

    Returns (prompt, n_candidates, best_response, score_best,
    score_mean, score_std, kept), scores rounded 6 dp.

    Scale: ONE groupBy(prompt) whose max-of-struct / count / avg /
    stddev aggregates are all partial-agg (map-side combine) friendly
    — one key shuffle carrying one row per prompt, strictly cheaper
    than d164's two; a viral prompt with millions of candidates
    combines map-side."""
    s = F.col(score_col).cast("double")
    return (
        df.select(
            F.col(prompt_col), F.col(response_col).alias("__r"), s.alias("__s")
        )
        .filter(F.col("__s").isNotNull() & F.col("__r").isNotNull())
        .groupBy(prompt_col)
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.max(F.struct(F.col("__s"), F.col("__r"))).alias("__hi"),
            F.avg("__s").alias("__mean"),
            F.stddev("__s").alias("__std"),
        )
        .select(
            prompt_col,
            "n_candidates",
            F.col("__hi.__r").alias("best_response"),
            F.round(F.col("__hi.__s"), 6).alias("score_best"),
            F.round(F.col("__mean"), 6).alias("score_mean"),
            F.round(F.col("__std"), 6).alias("score_std"),
            (F.col("__hi.__s") >= F.lit(float(score_threshold)))
            .cast("int")
            .alias("kept"),
        )
    )
