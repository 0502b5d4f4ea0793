"""The three benchmark workloads.

Each workload generates its inputs from the seed in ``setup`` and hands
out its ops one cycle at a time: ``cycle(p)`` returns the same sequence of
op kinds for every ``p`` (cycle 0 is the untimed warm-up), so a run's
metrics are taken over whole cycles of a fixed mix. An op's ``run`` holds
only calls into the package; building its inputs happens in ``cycle`` and
checking its output in ``check``, both outside the timer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import datagen
from spans import Span, Tracer

PREP_TOKEN_BUDGET = 512
PREP_SHARDS = 4

# Oracle-backed relational corpus queries: a group-by, joins (broadcast,
# left outer, as-of), top-k, count-distinct, a tumbling window and two
# TPC-H shapes (Q3 shipping priority, Q9 product profit). An odd count, so
# per-op trace toggling alternates across passes.
OLAP_QUERIES = (
    "c23_groupby_agg",
    "c22_broadcast_join",
    "c15_join_left",
    "c40_topk_per_group",
    "c25_count_distinct",
    "c55_tumbling_window",
    "c21_asof_join",
    "x01_shipping_priority",
    "x14_product_profit",
)


@dataclass
class Op:
    key: str  # position in the cycle; the same key recurs every cycle
    kind: str  # what the op does: save, get, list, query or shard
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: Callable[[Any], int]
    observe: Callable[[Any, Span, "Counts"], None] | None = None


class Counts:
    """Per-layer counts of the traced run. Only the first traced
    occurrence of each op key is kept, so a count does not depend on how
    many cycles fitted into the run."""

    def __init__(self):
        self._vals: dict[str, dict[str, float]] = {}
        self.extra: dict[str, float] = {}

    def seen(self, metric: str, key: str) -> bool:
        return key in self._vals.get(metric, {})

    def put(self, metric: str, key: str, value: float) -> None:
        self._vals.setdefault(metric, {}).setdefault(key, float(value))

    def mean(self, metric: str) -> float:
        vals = self._vals.get(metric)
        return sum(vals.values()) / len(vals) if vals else 0.0

    def total(self, metric: str) -> float:
        return sum(self._vals.get(metric, {}).values())


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality of two frames with the same columns."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = list(want.columns)

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]").astype("int64")
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    try:
        pd.testing.assert_frame_equal(canon(got), canon(want), check_dtype=False)
    except AssertionError:
        return False
    return True


def oracle_normal(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for the oracle compare: columns by lower-cased name,
    values stringified (floats by repr, so exact), rows sorted."""
    pdf = pdf.rename(columns=str.lower)
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = pd.DataFrame(index=pdf.index)
    for c in pdf.columns:
        col = pdf[c]
        kind = str(col.dtype)
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif kind.startswith("float"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif kind.startswith(("int", "uint")):
            out[c] = col.map(lambda v: str(int(v)))
        elif kind == "bool":
            out[c] = col.map(lambda v: str(bool(v)))
        else:
            out[c] = col.astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def _parquet_files(dirs: list[str]) -> list[str]:
    out = []
    for d in dirs:
        for dp, _, fns in os.walk(d):
            out.extend(
                os.path.join(dp, f)
                for f in fns
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fns in os.walk(root) for f in fns
    )


# --------------------------------------------------------------- catalog_rw


class CatalogRW:
    """The reference's own job through ``DataFrameClient``: Date-keyed
    events slices and ID-keyed lineitem slices saved under labelled and
    NOW versions (some with keep_last), read back by use_last, by label and
    as all live versions, plus a prefix listing. Each cycle starts from the
    same catalog state: 3 saves, 6 gets and 1 list."""

    EV = "bench/events"
    LI = "bench/lineitem"

    def __init__(self, spark, work_dir: str, seed: int, size: dict, tracer: Tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.rng = np.random.default_rng([seed, 1])
        self.seed = seed
        self.size = size
        self.live: dict[str, dict[str, pd.DataFrame]] = {self.EV: {}, self.LI: {}}
        self.latest: dict[str, str] = {}
        self.paths: dict[str, str] = {}

    def setup(self) -> None:
        from pandas_db_sdk_spark import DataFrameClient

        t = datagen.make_tables(self.size["catalog_sf"], self.seed)
        self.events, self.lineitem = t["events"], t["lineitem"]
        self.warehouse = os.path.join(self.work_dir, "warehouse")
        self.client = DataFrameClient(self.warehouse, spark=self.spark)

    # inputs ------------------------------------------------------------

    def _events_slice(self) -> pd.DataFrame:
        """``ev_rows`` events from a random 4-day window (4 Date
        partitions)."""
        day = np.timedelta64(1, "D")
        d0 = np.datetime64("2024-01-01") + int(self.rng.integers(0, 26)) * day
        ts = self.events["ts"].to_numpy()
        idx = np.flatnonzero((ts >= d0) & (ts < d0 + 4 * day))
        pick = np.sort(self.rng.choice(idx, min(self.size["ev_rows"], len(idx)), replace=False))
        return self.events.iloc[pick].reset_index(drop=True)

    def _lineitem_slice(self) -> pd.DataFrame:
        """``li_rows`` lineitems from a random window of 10 aligned
        1000-key order ranges (10 ID buckets)."""
        n_ord = int(self.lineitem["l_orderkey"].max()) + 1
        k0 = int(self.rng.integers(0, max(n_ord // 1000 - 10, 1))) * 1000
        keys = self.lineitem["l_orderkey"].to_numpy()
        idx = np.flatnonzero((keys >= k0) & (keys < k0 + 10_000))
        pick = np.sort(self.rng.choice(idx, min(self.size["li_rows"], len(idx)), replace=False))
        return self.lineitem.iloc[pick].reset_index(drop=True)

    # ops ---------------------------------------------------------------

    def _save(self, key, name, df, keys, external_key, keep_last, label=None) -> Op:
        def check(meta) -> bool:
            version = meta["version"]
            if label is not None and version != label:
                return False
            if keep_last:
                self.live[name] = {}
            self.live[name][version] = df
            self.latest[name] = version
            self.paths[name] = meta["path"]
            return True

        def observe(meta, root: Span, counts: Counts) -> None:
            vdir = os.path.join(meta["path"], f"__version={meta['version']}")
            files = _parquet_files([vdir])
            counts.put("engine.files_per_save", key, len(files))
            counts.put("engine.bytes_written", key, sum(map(os.path.getsize, files)))
            counts.put("engine.user_bytes", key, int(df.memory_usage(deep=True).sum()))

        return Op(
            key=key,
            kind="save",
            run=lambda: self.client.load_dataframe(
                df, name, columns_keys=keys, external_key=external_key, keep_last=keep_last
            ),
            check=check,
            rows=lambda _: len(df),
            observe=observe,
        )

    def _get(self, key, name, mode) -> Op:
        """``mode``: 'last' (use_last), 'label' (the oldest live version by
        its label, chosen when the op runs) or 'all' (every live
        version)."""
        chosen: dict[str, Any] = {}

        def run():
            if mode == "last":
                chosen["versions"] = [self.latest[name]]
                return self.client.get_dataframe(name, use_last=True)
            if mode == "label":
                label = next(iter(self.live[name]))
                chosen["versions"] = [label]
                return self.client.get_dataframe(name, external_key=label)
            chosen["versions"] = sorted(self.live[name])
            return self.client.get_dataframe(name)

        def check(got) -> bool:
            want = pd.concat([self.live[name][v] for v in chosen["versions"]], ignore_index=True)
            return frames_equal(got, want)

        def observe(got, root: Span, counts: Counts) -> None:
            dirs = [os.path.join(self.paths[name], f"__version={v}") for v in chosen["versions"]]
            counts.put("engine.files_per_get", key, len(_parquet_files(dirs)))

        return Op(key=key, kind="get", run=run, check=check, rows=len, observe=observe)

    def _list(self, key) -> Op:
        def check(out) -> bool:
            dfs = out["dataframes"]
            return out["count"] == 2 and all(
                set(map(str, dfs[n]["versions"])) == set(self.live[n])
                and str(dfs[n]["latest"]) == self.latest[n]
                for n in (self.EV, self.LI)
            )

        return Op(
            key=key,
            kind="list",
            run=lambda: self.client.list_dataframes("bench/"),
            check=check,
            rows=lambda _: 0,
        )

    def cycle(self, p: int) -> list[Op]:
        a, b, c = self._events_slice(), self._events_slice(), self._lineitem_slice()
        ev_keys, li_keys = {"ts": "Date"}, {"l_orderkey": "ID"}
        return [
            self._save("save.ev.label", self.EV, a, ev_keys, f"a{p}", True, label=f"a{p}"),
            self._save("save.ev.now", self.EV, b, ev_keys, "NOW", False),
            self._get("get.ev.last", self.EV, "last"),
            self._get("get.ev.label", self.EV, "label"),
            self._get("get.ev.all", self.EV, "all"),
            self._save("save.li.now", self.LI, c, li_keys, "NOW", True),
            self._get("get.li.last", self.LI, "last"),
            self._get("get.li.label", self.LI, "label"),
            self._get("get.li.all", self.LI, "all"),
            self._list("list"),
        ]

    def finish(self, counts: Counts) -> None:
        live_bytes = sum(
            int(df.memory_usage(deep=True).sum()) for v in self.live.values() for df in v.values()
        )
        counts.extra["engine.manifest_bytes"] = os.path.getsize(
            os.path.join(self.warehouse, "_manifest.json")
        )
        counts.extra["catalog.space_amp"] = _dir_bytes(self.warehouse) / max(live_bytes, 1)


# ------------------------------------------------------------- olap_queries


class OlapQueries:
    """A fixed list of oracle-backed corpus queries, each run to a full
    materialising action (``toPandas``), cycled in the same order."""

    def __init__(self, spark, work_dir: str, seed: int, size: dict, tracer: Tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.warm: dict[str, tuple[int, list[str]]] = {}
        self.input_rows: dict[str, int] = {}

    def setup(self) -> None:
        import duckdb
        from pandas_db_sdk_spark.corpus import all_oracles, all_queries

        self.sf_dir = os.path.join(self.work_dir, "tables")
        tables = datagen.make_tables(self.size["olap_sf"], self.seed)
        datagen.write_tables(tables, self.sf_dir)
        self.table_rows = {f"{n}.parquet": len(df) for n, df in tables.items()}
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.duck = duckdb.connect()
        for name in tables:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            self.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def _query(self, name: str) -> Op:
        def run():
            with self.tracer.span("corpus.plan"):
                df = self.queries[name](self.spark, self.sf_dir)
            with self.tracer.span("corpus.exec"):
                return df, df.toPandas()

        def check(out) -> bool:
            df, pdf = out
            if name not in self.warm:
                # first run of the query: the oracle compare, once per run
                files = {os.path.basename(f) for f in df.inputFiles()}
                self.input_rows[name] = sum(self.table_rows.get(f, 0) for f in files)
                self.warm[name] = (len(pdf), list(pdf.columns))
                want = oracle_normal(self.duck.execute(self.oracles[name]).df())
                got = oracle_normal(pdf)
                return len(pdf) > 0 and list(got.columns) == list(want.columns) and got.equals(
                    want.set_axis(got.columns, axis=1)
                )
            return self.warm[name] == (len(pdf), list(pdf.columns))

        return Op(
            key=name, kind="query", run=run, check=check, rows=lambda _: self.input_rows[name]
        )

    def cycle(self, p: int) -> list[Op]:
        return [self._query(n) for n in OLAP_QUERIES]

    def finish(self, counts: Counts) -> None:
        self.duck.close()


# -------------------------------------------------------------- corpus_prep


class CorpusPrep:
    """``pipeline.prepare_corpus`` on a fresh seeded document shard per
    cycle: a resample of ``documents`` with injected exact and near
    duplicates. Inputs are never repeated, so the scratch pool misses by
    construction."""

    def __init__(self, spark, work_dir: str, seed: int, size: dict, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 3])

    def setup(self) -> None:
        from pandas_db_sdk_spark import pipeline

        self.pipeline = pipeline
        self.documents = datagen.make_tables(self.size["prep_sf"], self.seed)["documents"]

    def cycle(self, p: int) -> list[Op]:
        n = self.size["shard_docs"]
        shard = datagen.doc_shard(self.documents, n, self.rng, id_base=(p + 1) * 10_000_000)
        sdf = self.spark.createDataFrame(shard)

        def run():
            out = self.pipeline.prepare_corpus(sdf, n_shards=PREP_SHARDS)
            with self.tracer.span("pipeline.exec"):
                return out.toPandas()

        def check(out: pd.DataFrame) -> bool:
            text = shard.set_index("doc_id")["text"]
            if not out["doc_id"].isin(text.index).all() or out["doc_id"].duplicated().any():
                return False
            kept = text.loc[out["doc_id"]]
            if kept.duplicated().any():
                return False
            if not (kept.str.split().str.len().to_numpy() == out["n_tokens"].to_numpy()).all():
                return False
            if not out["shard"].between(0, PREP_SHARDS - 1).all():
                return False
            fill = out.groupby(["pack_group", "bin_idx"])["n_tokens"].sum()
            return bool((fill <= PREP_TOKEN_BUDGET).all())

        def observe(out: pd.DataFrame, root: Span, counts: Counts) -> None:
            if counts.seen("dedup.near_dup_pairs", "shard"):
                return
            pairs = [
                s.attrs["result"]
                for s in self.tracer.op_spans(root)
                if s.name == "dedup.minhash_lsh_pairs"
            ]
            counts.put("dedup.near_dup_pairs", "shard", sum(p.count() for p in pairs))
            counts.put("pipeline.survivor_ratio", "shard", len(out) / len(shard))
            n_bins = out.groupby(["pack_group", "bin_idx"]).ngroups
            counts.put(
                "packing.fill_ratio",
                "shard",
                out["n_tokens"].sum() / max(n_bins * PREP_TOKEN_BUDGET, 1),
            )

        return [
            Op(key="shard", kind="shard", run=run, check=check, rows=lambda _: n, observe=observe)
        ]

    def finish(self, counts: Counts) -> None:
        pass


WORKLOADS = {"catalog_rw": CatalogRW, "olap_queries": OlapQueries, "corpus_prep": CorpusPrep}
