"""DataFrameEngine — the reference's storage semantics, Spark-native.

Reference surface being re-expressed (``/root/reference/src/pandas_db_sdk/client.py``):

* ``load_dataframe(df, name, columns_keys, external_key, keep_last)``
  (``client.py:66-137``)  →  :meth:`DataFrameEngine.save`
* ``get_dataframe(name, external_key, use_last)`` (``client.py:139-183``)
  →  :meth:`DataFrameEngine.load`
* ``list_dataframes(prefix)`` (``client.py:185-215``)
  →  :meth:`DataFrameEngine.list_datasets`

Documented service semantics re-expressed (reference ``README.md``):

* Date partition keys → Hive-style ``<col>=<date>/`` dirs (``README.md:191-198``);
  Catalyst partition-prunes reads for free.
* ID range buckets ``from_X_to_Y`` → derived bucket partition column
  (``README.md:200-207``).
* ``external_key='NOW'`` timestamp versioning + ``last_key.txt`` latest
  pointer (``README.md:209-218``) → a ``__version`` partition column + the
  manifest's ``latest`` field (atomic JSON rename — the pointer-file analogue).
* ``keep_last=True`` retention (``README.md:85-88``) → stale version dirs
  removed after a successful commit.
* 100K-row chunking + gzip CSV (``README.md:20-21``) → parquet+snappy with
  ``maxRecordsPerFile`` (columnar, splittable — strictly better at scale).

Scale posture: data files are written/read only by Spark tasks (never the
driver); the manifest holds *metadata only* (names, versions, schemas), so
it stays KB-sized even when the data is 100 TB. Version/partition filters
become partition-pruning predicates, so ``load`` of one version touches
only that version's files.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from typing import Any, Dict, Optional

try:
    import fcntl
except ImportError:  # non-POSIX: degrade to unlocked (single-writer) mode
    fcntl = None

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ._localrel import local_rows_df

VERSION_COL = "__version"
KEY_TYPES = ("Date", "ID")
DEFAULT_ID_BUCKET_WIDTH = 1000


def _is_internal(col: str) -> bool:
    """Engine-owned column: the version label or a derived ``__p_*``
    partition column — never user data."""
    return col == VERSION_COL or col.startswith("__p_")


def _id_bucket_label(lo, width: int):
    """ID range-bucket dir name ``from_<lo>_to_<lo + width>``
    (README.md:200-207). ``lo`` is a long Column on the write path, or an
    int where a probe builds literal partition filters."""
    parts = ["from_", lo, "_to_", lo + width]
    if isinstance(lo, int):
        return "".join(str(p) for p in parts)
    return F.concat(*[F.lit(p) if isinstance(p, str) else p for p in parts])


class DatasetNotFound(KeyError):
    pass


class DataQualityError(ValueError):
    """save(expectations=...) found violating rows; nothing was committed."""


class DataFrameEngine:
    """Named-DataFrame warehouse over parquet + a JSON manifest catalog."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        id_bucket_width: int = DEFAULT_ID_BUCKET_WIDTH,
        clock=None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.id_bucket_width = id_bucket_width
        # Injectable clock so 'NOW' versioning is testable (reference stamps
        # server-side per README.md:81-83).
        self._clock = clock or (lambda: int(time.time() * 1000))
        os.makedirs(warehouse, exist_ok=True)

    # ---------------------------------------------------------------- manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.warehouse, "_manifest.json")

    @staticmethod
    def _version_dir(path: str, version) -> str:
        return os.path.join(path, f"{VERSION_COL}={version}")

    @staticmethod
    def _versions_on_disk(path: str) -> set:
        """Version labels present as ``__version=`` dirs under ``path`` —
        shared by save's freshness bump and fsck so the two scans can
        never diverge."""
        if not os.path.isdir(path):
            return set()
        return {
            n.split("=", 1)[1]
            for n in os.listdir(path)
            if n.startswith(f"{VERSION_COL}=")
        }

    def _read_manifest(self) -> Dict[str, Any]:
        if not os.path.exists(self._manifest_path):
            return {"datasets": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: Dict[str, Any]) -> None:
        # Atomic replace = the engine's `last_key.txt` (README.md:217): readers
        # always see a complete catalog, never a torn write.
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    @contextlib.contextmanager
    def _manifest_lock(self):
        """Exclusive advisory lock serializing manifest read-modify-write.

        The reference is a multi-user service (README.md:23-26, DynamoDB
        metadata README.md:234), so concurrent ``save()`` calls are part of
        the contract: without this, two writers read the same manifest and
        the second replace silently drops the first one's version entry.
        Data writes happen OUTSIDE the lock (a commit is ms; a 100 TB write
        is hours) — only the catalog update serializes. On an object-store
        deployment the analogue is a conditional put / DynamoDB CAS.
        """
        if fcntl is None:
            yield
            return
        lock_path = os.path.join(self.warehouse, "_manifest.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    @contextlib.contextmanager
    def _commit(self, write: bool = True):
        """One catalog transaction: lock, read, yield the manifest for
        in-place edits, write it back. A body that raises leaves the
        catalog untouched; ``write=False`` is a consistent read-only
        snapshot under the same lock."""
        with self._manifest_lock():
            manifest = self._read_manifest()
            yield manifest
            if write:
                self._write_manifest(manifest)

    def _scan(self, ds: Dict[str, Any]) -> DataFrame:
        """All of a dataset's files under its full schema (data + typed
        partition columns + version label)."""
        return self.spark.read.schema(self._full_schema(ds)).parquet(ds["path"])

    def _version_files(self, path: str, version) -> Dict[str, int]:
        """``{relpath: size}`` of one version's data files (dot- and
        underscore-prefixed Spark/engine sidecars excluded)."""
        vdir = self._version_dir(path, version)
        out: Dict[str, int] = {}
        for root, _dirs, files in os.walk(vdir):
            for fn in files:
                if not fn.startswith((".", "_")):
                    f = os.path.join(root, fn)
                    out[os.path.relpath(f, vdir)] = os.path.getsize(f)
        return out

    def _link_version(self, src: str, dst: str, version) -> None:
        """Hardlink one version's tree from dataset path ``src`` into
        ``dst`` (zero-copy: same inodes), copying per file where linking
        fails (cross-device / object store). Idempotent for a retry after
        a crash."""
        src_dir = self._version_dir(src, version)
        for root, _dirs, files in os.walk(src_dir):
            rel = os.path.relpath(root, src)
            os.makedirs(os.path.join(dst, rel), exist_ok=True)
            for fn in files:
                s = os.path.join(root, fn)
                d = os.path.join(dst, rel, fn)
                try:
                    os.link(s, d)
                except FileExistsError:
                    # A prior attempt's copy2 fallback may have died
                    # mid-copy, leaving a truncated dst.  Keep it only
                    # when it is the same inode (a completed link) or
                    # byte-complete (a completed copy — safe as an
                    # equality proxy only because version files are
                    # immutable); otherwise redo it.  dst may vanish
                    # between the failed link and the stat (a concurrent
                    # retry's unlink) — fall through to a plain copy then.
                    try:
                        st_s, st_d = os.stat(s), os.stat(d)
                        if not (
                            os.path.samestat(st_s, st_d)
                            or st_s.st_size == st_d.st_size
                        ):
                            os.unlink(d)
                            try:
                                os.link(s, d)
                            except OSError:
                                shutil.copy2(s, d)
                    except FileNotFoundError:
                        shutil.copy2(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def _derive_partition_cols(self, df: DataFrame, columns_keys: Dict[str, str]):
        """Append the derived ``__p_*`` partition columns for a key layout
        (Date → yyyy-MM-dd dirs, ID → range buckets, README.md:191-207)."""
        out = df
        partition_cols = []
        for col, key_type in columns_keys.items():
            pcol = f"__p_{col}"
            if key_type == "Date":
                out = out.withColumn(
                    pcol, F.date_format(F.col(col).cast("timestamp"), "yyyy-MM-dd")
                )
            else:  # ID → range buckets, README.md:200-207
                w = self.id_bucket_width
                lo = (F.floor(F.col(col).cast("long") / w) * w).cast("long")
                out = out.withColumn(pcol, _id_bucket_label(lo, w))
            partition_cols.append(pcol)
        return out, partition_cols

    # ---------------------------------------------------------------- save

    def save(
        self,
        df: DataFrame,
        dataframe_name: str,
        columns_keys: Optional[Dict[str, str]] = None,
        external_key: str = "NOW",
        keep_last: bool = False,
        overwrite_version: bool = False,
        expectations: Optional[Dict[str, Any]] = None,
    ) -> Dict[str, Any]:
        """Store a DataFrame as a named, partitioned, versioned dataset.

        Mirrors ``load_dataframe`` validation (``client.py:99-110``): input
        must be a DataFrame, name non-empty, key types in {Date, ID}, key
        columns present in the schema.

        ``overwrite_version=True`` makes a save under an already-present
        version label REPLACE that version instead of appending to it —
        the idempotent-replay contract streaming epochs need (a foreachBatch
        retry after a crash re-lands the same epoch label; append semantics
        would duplicate every row of the partial first attempt).

        ``expectations`` (Delta-constraints analogue): name → boolean
        Column or SQL string that must hold for EVERY row. The counters
        ride the write job itself (``DataFrame.observe`` — zero extra
        scans at any size); on violation the staged version directory is
        deleted and ``DataQualityError`` raises BEFORE the manifest
        commit, so a failed save is invisible to readers (same
        crash-consistency story as an aborted write). NULL counts as a
        violation — an unevaluable expectation is not a pass.
        """
        try:
            import pandas as pd

            if isinstance(df, pd.DataFrame):
                # The reference's contract takes a pandas frame directly
                # (client.py:99); ingest via Arrow — the distributed upgrade
                # of its JSON-records wire (client.py:114).
                df = self.spark.createDataFrame(df)
        except ImportError:
            pass
        if not isinstance(df, DataFrame):
            raise TypeError("df must be a pyspark.sql.DataFrame or pandas.DataFrame")
        if not dataframe_name or not isinstance(dataframe_name, str):
            raise ValueError("dataframe_name must be a non-empty string")
        columns_keys = dict(columns_keys or {})
        # A dataset's physical layout is fixed at creation (the reference's
        # storage dirs imply the same, README.md:189-218): appends inherit the
        # stored keys; a conflicting layout is an error, not a corrupt mix of
        # partition trees.
        existing = self._read_manifest()["datasets"].get(dataframe_name)
        if existing is not None:
            if not columns_keys:
                columns_keys = dict(existing["columns_keys"])
            elif columns_keys != existing["columns_keys"]:
                raise ValueError(
                    f"dataset {dataframe_name!r} was created with partition keys "
                    f"{existing['columns_keys']}; cannot append with {columns_keys}"
                )
        for col, key_type in columns_keys.items():
            if key_type not in KEY_TYPES:
                raise ValueError(f"key type for {col!r} must be one of {KEY_TYPES}")
            if col not in df.columns:
                raise ValueError(f"partition column {col!r} not in DataFrame")

        # Appends follow the manifest's recorded path; only a brand-new
        # dataset gets a freshly derived directory.
        path = existing["path"] if existing is not None else self._dataset_path(dataframe_name)
        if external_key == "NOW":
            # The millisecond clock can tick the same value twice (two
            # saves in one ms): reusing a version label would make
            # the second save APPEND into the first's version dir —
            # keep_last never prunes the live version, so the duplication
            # would persist. Bump past manifest AND on-disk labels (a
            # crashed save may have left an uncommitted orphan), then
            # RESERVE the label by creating the version dir atomically:
            # two truly concurrent NOW-saves that both picked the same
            # fresh tick race on the mkdir, and the loser bumps — the
            # manifest check alone can't see a writer that hasn't
            # committed yet.
            tick = self._clock()
            taken = {str(v) for v in existing["versions"]} if existing else set()
            if existing is not None:
                taken |= self._versions_on_disk(existing["path"])
            os.makedirs(path, exist_ok=True)
            while True:
                while str(tick) in taken:
                    tick += 1
                try:
                    os.mkdir(self._version_dir(path, tick))
                    break
                except FileExistsError:
                    tick += 1
            version = str(tick)
        else:
            version = external_key

        out, partition_cols = self._derive_partition_cols(df, columns_keys)
        # Each version writes into its OWN `__version=<v>/` directory
        # (version is the OUTERMOST partition level). This is what makes
        # concurrent save() calls safe: the Hadoop committer stages under
        # `<output root>/_temporary/0`, so two jobs sharing one root race on
        # cleanup and lose each other's files — distinct per-version roots
        # mean distinct staging dirs. It also turns version retention and
        # pruned reads into single top-level directory ops. The __version
        # column itself is never stored in files; partition discovery
        # derives it from the dir name (schema pinned by _full_schema).
        version_dir = self._version_dir(path, version)
        write_dir = version_dir
        if overwrite_version:
            committed_label = existing is not None and version in {
                str(v) for v in existing["versions"]
            }
            if committed_label:
                # The label is ALREADY COMMITTED — readers can see its
                # files right now. Deleting them before the rewrite (and
                # before the expectations gate) would mean a failed save
                # destroys committed data while the manifest still lists
                # the version. Stage the rewrite into a dot-prefixed
                # sibling (hidden from Spark partition discovery and from
                # _versions_on_disk) and swap in only after the write AND
                # the expectations gate succeed; on abort the staged tree
                # is dropped and the committed tree is untouched.
                write_dir = os.path.join(
                    path, f".__stage-{VERSION_COL}={version}-{uuid.uuid4().hex[:12]}"
                )
            else:
                # Uncommitted label (a crashed prior attempt's orphan, or
                # the NOW-path's freshly reserved empty dir): readers never
                # saw it, so clearing in place is safe and keeps the
                # replay-idempotent contract.
                shutil.rmtree(version_dir, ignore_errors=True)
        results = None
        if expectations:
            from .checks import attach_checks

            rules = {
                name: (F.expr(cond) if isinstance(cond, str) else cond)
                for name, cond in expectations.items()
            }
            out, results = attach_checks(out, rules)
        (
            out.write.mode("append")
            .option("maxRecordsPerFile", 100_000)  # chunking analogue, README.md:21
            .partitionBy(*partition_cols)
            .parquet(write_dir)
        )
        if results is not None:
            failing = {k: v for k, v in results().items() if v}
            if failing:
                # abort BEFORE the manifest commit: readers never saw the
                # staged files (an uncommitted version dir, or the hidden
                # stage dir of a committed-label overwrite — whose old
                # tree stays intact), so deleting them is the same
                # cleanup fsck would do for any crashed write
                shutil.rmtree(write_dir, ignore_errors=True)
                raise DataQualityError(
                    "save aborted, expectations violated: "
                    + ", ".join(f"{k} ({v} rows)" for k, v in sorted(failing.items()))
                )
        if write_dir is not version_dir:
            # Committed-label overwrite passed all gates: swap the staged
            # tree in. os.rename cannot replace a non-empty dir, so the
            # old tree steps aside first — the not-found window between
            # the two renames is microseconds (vs. the full rewrite
            # duration the old rmtree-first path exposed), and a crash
            # inside it leaves the old tree recoverable under a hidden
            # name that fsck-class cleanup can reap.
            if os.path.isdir(version_dir):
                retired = os.path.join(
                    path, f".__retired-{VERSION_COL}={version}-{uuid.uuid4().hex[:12]}"
                )
                os.rename(version_dir, retired)
                os.rename(write_dir, version_dir)
                shutil.rmtree(retired, ignore_errors=True)
            else:
                # the fsck "missing_versions" state: the committed label's
                # dir vanished from disk — rename the stage straight in
                # rather than abandoning the write on a FileNotFoundError
                os.rename(write_dir, version_dir)

        # Provenance (bounded): where this version came from — the source
        # files feeding the plan (metadata-only; empty for synthesized
        # frames) and the canonicalized-plan fingerprint. Capped at 20
        # sample paths so a 100k-file input can't bloat the manifest.
        try:
            # both calls need the JVM DataFrame handle — absent under
            # Spark Connect; a metadata-only feature must never fail the
            # save, so the whole capture degrades to nulls together
            in_files = df.inputFiles()
            plan_hash = df._jdf.queryExecution().analyzed().semanticHash()
        except Exception:
            in_files, plan_hash = [], None
        provenance = {
            "n_input_files": len(in_files),
            "input_sample": sorted(in_files)[:20],
            "plan_hash": plan_hash,
            "schema_cols": sorted(df.columns),
        }

        stale = []
        with self._commit() as manifest:
            ds = manifest["datasets"].setdefault(
                dataframe_name,
                {
                    "path": path,
                    "columns_keys": columns_keys,
                    "versions": [],
                    "schema": df.schema.json(),
                },
            )
            if ds["columns_keys"] != columns_keys and ds["versions"]:
                # A concurrent writer created the dataset with a different
                # layout between our optimistic check and this commit.
                raise ValueError(
                    f"dataset {dataframe_name!r} was concurrently created with "
                    f"partition keys {ds['columns_keys']}; cannot commit {columns_keys}"
                )
            ds["columns_keys"] = columns_keys
            ds["schema"] = self._merge_schema(ds["schema"], df.schema).json()
            if version not in ds["versions"]:
                ds["versions"].append(version)
            ds.setdefault("provenance", {})[str(version)] = provenance
            ds["latest"] = version

            if keep_last:
                # Retention pruning (README.md:85-88): unlist the superseded
                # versions here; their dirs go once this commit has landed.
                stale = [v for v in ds["versions"] if v != version]
                ds["versions"] = [version]
                # provenance follows retention — dead-version entries would
                # otherwise accumulate in the manifest forever
                ds["provenance"] = {
                    k: v
                    for k, v in ds.get("provenance", {}).items()
                    if k == str(version)
                }
        self._reap(self._version_dir(path, v) for v in stale)
        return {
            "dataframe_name": dataframe_name,
            "version": version,
            "partition_columns": partition_cols,
            "path": path,
            "rows": None,  # no driver-side count: counting 100 TB to report a number is waste
        }

    # ---------------------------------------------------------------- sql

    def sql(
        self,
        query: str,
        datasets: Optional[Dict[str, str]] = None,
        use_last: bool = False,
        versions: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Run Spark SQL over named datasets — the declarative face of the
        engine: the reference's model ships rows to client-side pandas for
        ALL querying; here the query text executes next to the data with
        full Catalyst planning (pushdown, pruning, AQE).

        ``datasets`` maps view name → dataset name (``{"li": "tpch/li"}``);
        ``None`` registers EVERY catalog dataset under its name with ``/``
        → ``_`` (``tpch/li`` → table ``tpch_li``). Views are temp (session-
        scoped, lazily planned — registration reads no data) and re-created
        per call, so each call sees the current catalog state.
        ``use_last=True`` pins every view to its dataset's latest version;
        the default exposes all versions (time travel via a WHERE on the
        version column after ``load``'s own semantics).
        ``versions`` pins individual views to a version label (the
        ``VERSION AS OF`` analogue): ``{"li": "epoch-7"}`` — the pinned
        load partition-prunes to that version's files, and other views
        keep the ``use_last`` behavior.
        """
        versions = dict(versions or {})
        if datasets is None:
            names = self._read_manifest()["datasets"].keys()
            datasets = {}
            for n in names:
                view = n.replace("/", "_")
                if view in datasets:
                    # 'a/b' and 'a_b' sanitize to the same view name;
                    # silently keeping whichever registered last would let
                    # a query read the WRONG dataset.
                    raise ValueError(
                        f"datasets {datasets[view]!r} and {n!r} both map to "
                        f"view name {view!r}; pass an explicit datasets= "
                        f"mapping to disambiguate"
                    )
                datasets[view] = n
        unknown = set(versions) - set(datasets)
        if unknown:
            raise ValueError(f"versions= names unregistered views: {sorted(unknown)}")
        for view, ds_name in datasets.items():
            if view in versions:
                pinned = self.load(ds_name, external_key=versions[view])
            else:
                pinned = self.load(ds_name, use_last=use_last)
            pinned.createOrReplaceTempView(view)
        return self.spark.sql(query)

    # ---------------------------------------------------------------- bucketed

    def save_bucketed(
        self,
        df: DataFrame,
        dataframe_name: str,
        bucket_by: str,
        n_buckets: int = 32,
        sort_by: Optional[str] = None,
        mode: str = "overwrite",
    ) -> Dict[str, Any]:
        """Store a dataset hash-bucketed on a join key.

        Two datasets bucketed on the same key with the same bucket count
        join WITHOUT a shuffle (Spark reads bucket i of both sides into the
        same task) — the engine's co-located-join path for repeated big-big
        joins where neither side broadcasts. Bucket metadata lives in the
        session catalog; on a cluster that's the metastore, so the layout
        outlives sessions (the local in-memory catalog forgets it, the
        parquet files remain).
        """
        table = self._bucket_table_name(dataframe_name)
        path = os.path.join(os.path.dirname(self._dataset_path(dataframe_name)), "__bucketed")
        writer = (
            df.write.mode(mode)
            .format("parquet")
            .option("path", path)
            .bucketBy(n_buckets, bucket_by)
        )
        if sort_by:
            writer = writer.sortBy(sort_by)
        writer.saveAsTable(table)

        with self._commit() as manifest:
            manifest["datasets"][dataframe_name + "__bucketed"] = {
                "path": path,
                "columns_keys": {},
                "versions": [],
                "schema": df.schema.json(),
                "bucket_by": bucket_by,
                "n_buckets": n_buckets,
                "table": table,
            }
        return {"dataframe_name": dataframe_name, "table": table, "path": path,
                "bucket_by": bucket_by, "n_buckets": n_buckets}

    def load_bucketed(self, dataframe_name: str) -> DataFrame:
        """Load a bucketed dataset through the catalog (keeps the bucket
        spec visible to the planner, which is what elides the shuffle)."""
        return self.spark.table(self._bucket_table_name(dataframe_name))

    def _bucket_table_name(self, name: str) -> str:
        return "bkt_" + name.strip("/").replace("/", "_")

    # ---------------------------------------------------------------- load

    def load(
        self,
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
        drop_internal: bool = True,
        as_of: Optional[int] = None,
    ) -> DataFrame:
        """Retrieve a dataset, optionally pinned to one version.

        Version selection mirrors ``get_dataframe`` params
        (``client.py:160-165``); the filter lands on a partition column so
        Catalyst prunes to that version's files only.

        ``as_of=<epoch millis>``: time travel over 'NOW'-stamped versions —
        loads the newest version whose stamp is <= the given instant (the
        engine's analogue of table-format time travel; version labels are
        the reference's server-side timestamps, ``README.md:81-83``).
        """
        ds = self._dataset_entry(dataframe_name)
        df = self._scan(ds)
        if as_of is not None:
            stamped = [v for v in ds["versions"] if str(v).isdigit() and int(v) <= as_of]
            if not stamped:
                raise DatasetNotFound(
                    f"{dataframe_name!r} has no 'NOW'-stamped version at or before {as_of}"
                )
            external_key = max(stamped, key=int)
        elif use_last:
            external_key = ds.get("latest")
        if external_key is not None:
            df = df.filter(F.col(VERSION_COL) == F.lit(str(external_key)))
        else:
            # read-committed: only manifest-listed versions are visible, so
            # files from a save that crashed before its manifest commit (or
            # pruned by keep_last but not yet deleted) never leak into reads.
            # Still a partition-column predicate → pruning, not a file scan.
            df = df.filter(
                F.col(VERSION_COL).isin([str(v) for v in ds["versions"]])
            )
        if drop_internal:
            df = df.drop(*[c for c in df.columns if _is_internal(c)])
        return df

    # ---------------------------------------------------------------- list

    def list_datasets(
        self,
        prefix: Optional[str] = None,
        limit: Optional[int] = None,
        offset: int = 0,
    ) -> Dict[str, Any]:
        """Catalog listing with prefix filter (``client.py:185-215``) and
        pagination (``limit``/``offset`` over the name-sorted listing —
        the reference SDK has none, SURVEY §2.5; a warehouse with 10⁵
        datasets needs it). ``count`` is always the TOTAL match count so
        callers can page without a second call; ``offset`` in the reply
        echoes the requested position."""
        manifest = self._read_manifest()
        names = sorted(manifest["datasets"])
        if prefix:
            names = [n for n in names if n.startswith(prefix)]
        total = len(names)
        if offset:
            names = names[offset:]
        if limit is not None:
            names = names[:limit]
        return {
            "dataframes": {
                n: {
                    "versions": manifest["datasets"][n]["versions"],
                    "latest": manifest["datasets"][n].get("latest"),
                    "columns_keys": manifest["datasets"][n]["columns_keys"],
                }
                for n in names
            },
            "count": total,
            "offset": offset,
            "returned": len(names),
        }

    def describe_dataset(self, dataframe_name: str) -> Dict[str, Any]:
        """Catalog introspection — the DESCRIBE the reference SDK lacks
        (SURVEY §2.5 lists no metadata beyond names): schema, partition
        keys, and per-version physical stats (file count, bytes, rows).

        Costs: manifest read + a filesystem listing + ONE Spark aggregate
        (count grouped by the version partition column). The row count
        compiles to parquet footer statistics — row groups are counted,
        data pages are never decoded — so DESCRIBE on a 100 TB dataset is
        a metadata pass, not a table scan."""
        ds = self._dataset_entry(dataframe_name)
        counts = {
            r[0]: r[1]
            for r in self._scan(ds).groupBy(VERSION_COL).count().collect()
        }
        versions = []
        for v in ds["versions"]:
            files = self._version_files(ds["path"], v)
            versions.append(
                {
                    "version": str(v),
                    "n_files": len(files),
                    "n_bytes": sum(files.values()),
                    "n_rows": int(counts.get(str(v), 0)),
                    "provenance": ds.get("provenance", {}).get(str(v)),
                }
            )
        return {
            "name": dataframe_name,
            "schema": json.loads(ds["schema"]),
            "columns_keys": ds["columns_keys"],
            "latest": ds.get("latest"),
            "versions": versions,
            "total_rows": sum(v["n_rows"] for v in versions),
            "total_bytes": sum(v["n_bytes"] for v in versions),
            "branched_from": ds.get("branched_from"),
        }




    def branch_card(self, dataframe_name: str) -> DataFrame:
        """Branch-aware DATA CARD (r12, VERDICT r11 #8) — the queryable
        face of :func:`branch_dataset`: one row per
        committed version with its row count and its lineage position —
        ``branched_from`` (the fork source recorded at branch time),
        ``at_fork`` = 1 for versions shared with the fork point,
        ``post_fork`` = 1 for versions this dataset grew AFTER forking
        (both 0 for a dataset that is not a branch).  This is what a
        release review reads: which versions are inherited history and
        which are the branch's own work, sized.

        Row counts come from per-version parquet metadata counts (count
        aggregates push to footers — no data columns read); versions
        are retention-bounded, so the loop is small by construction."""
        ds = self._dataset_entry(dataframe_name)
        bf = ds.get("branched_from") or {}
        fork = {str(v) for v in bf.get("at_versions", [])}
        is_branch = bool(bf)
        rows = []
        for v in ds["versions"]:
            n = self.load(dataframe_name, external_key=v).count()
            rows.append(
                (
                    dataframe_name,
                    str(v),
                    int(n),
                    bf.get("source"),
                    int(is_branch and str(v) in fork),
                    int(is_branch and str(v) not in fork),
                )
            )
        return local_rows_df(self.spark,
            rows,
            "dataset string, version string, n_rows long, "
            "branched_from string, at_fork int, post_fork int",
        )

    def schema_history(self, dataframe_name: str) -> DataFrame:
        """SCHEMA-EVOLUTION CARD (r12) — the audit view of how a
        dataset's shape changed version over version (the companion of
        :func:`branch_card`'s row-count lineage): per committed
        version, the column count plus the columns ADDED and REMOVED
        relative to the previous version (comma-joined, sorted;
        empty-string when unchanged).  The per-version schema is read
        from each version directory's parquet FOOTERS only — no data
        pages — and internal columns (``__p_*``, the version label)
        are excluded, so the card shows the user-facing shape.

        This is what append-time schema merge makes queryable: a
        reviewer sees WHERE a column entered the history, not just the
        merged end state the manifest stores."""
        ds = self._dataset_entry(dataframe_name)
        rows = []
        prev: Optional[set] = None
        for v in ds["versions"]:
            vdir = self._version_dir(ds["path"], v)
            cols = {
                f.name
                for f in self.spark.read.parquet(vdir).schema.fields
                if not _is_internal(f.name)
            }
            added = sorted(cols - prev) if prev is not None else sorted(cols)
            removed = sorted(prev - cols) if prev is not None else []
            rows.append(
                (
                    dataframe_name,
                    str(v),
                    len(cols),
                    ",".join(added),
                    ",".join(removed),
                )
            )
            prev = cols
        return local_rows_df(self.spark,
            rows,
            "dataset string, version string, n_columns int, "
            "added string, removed string",
        )

    def stream_changes(
        self,
        dataframe_name: str,
        drop_internal: bool = True,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame:
        """Change-data feed OUT of the engine: a streaming DataFrame that
        delivers every row appended to ``dataframe_name``, tagged with its
        ``__version`` label — the consumer-side twin of
        ``streaming.stream_into_engine``. Downstream incremental jobs
        (rollups, index maintenance, replication) read this instead of
        rescanning the corpus; with a checkpoint, a restarted consumer
        resumes exactly after the files it already processed.

        Semantics: the feed is the COMMITTED APPEND LOG. ``save`` stages
        each version in a dot-prefixed directory (hidden from Spark's file
        listing) and publishes it with one atomic rename, so partially
        written versions can never appear; rows surface exactly once per
        file (Spark's file-source seen-files log). One documented gap vs
        batch read-committed: a save that crashed AFTER its rename but
        BEFORE its manifest commit is invisible to ``load`` yet WILL
        surface here — consumers needing strict manifest semantics join
        against ``list_versions``. Retention (``keep_last`` /
        ``retain_last``) removes old dirs after unlisting them; rows
        already delivered are unaffected.

        Scale: the file source lists only NEW files per trigger (no
        corpus rescan); ``max_files_per_trigger`` bounds a catching-up
        consumer's batch size. ``drop_internal`` removes bucketing
        internals but always keeps ``__version`` — that label IS the
        change metadata.
        """
        ds = self._dataset_entry(dataframe_name)
        reader = self.spark.readStream.schema(self._full_schema(ds))
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
        df = reader.parquet(ds["path"])
        if drop_internal:
            df = df.drop(*[c for c in df.columns if _is_internal(c) and c != VERSION_COL])
        return df

    def fsck(self, dataframe_name=None, repair=False, min_age_seconds=3600.0):
        """Manifest ↔ disk consistency check (and optional repair) — the
        maintenance pass behind the crash-durability contract: a save that
        dies between the parquet write and the manifest commit leaves an
        ORPHAN ``__version=`` dir (invisible to reads, but paying storage).

        Reports, per dataset: ``orphan_versions`` (on disk, not committed),
        ``missing_versions`` (committed, no dir — data loss, NOT repairable
        here), and ``stale_provenance`` (manifest entries for dead
        versions). With ``repair=True`` orphan dirs and stale provenance
        are removed under the manifest lock.

        CONCURRENCY: an uncommitted dir is indistinguishable from a LIVE
        concurrent save() still writing (data lands outside the lock; the
        commit comes later) — so repair only deletes orphans whose dir
        mtime is older than ``min_age_seconds`` (default 1 h, far above
        any commit latency). Younger candidates are reported but kept."""
        with self._commit(write=repair) as manifest:
            names = (
                [dataframe_name] if dataframe_name else list(manifest["datasets"])
            )
            now = time.time()
            report = {}
            for name in names:
                ds = manifest["datasets"].get(name)
                if ds is None:
                    raise DatasetNotFound(name)
                committed = {str(v) for v in ds["versions"]}
                on_disk = self._versions_on_disk(ds["path"])
                orphans = sorted(on_disk - committed)
                # Hidden scratch trees from crashed committed-label
                # overwrites (save stages into `.__stage-*`, swaps via
                # `.__retired-*`): invisible to readers, reaped with the
                # same age guard as orphan versions.
                try:
                    stage_dirs = sorted(
                        n
                        for n in os.listdir(ds["path"])
                        if n.startswith((".__stage-", ".__retired-"))
                    )
                except OSError:
                    stage_dirs = []
                missing = sorted(committed - on_disk)
                stale_prov = sorted(
                    k for k in ds.get("provenance", {}) if k not in committed
                )
                repaired_versions = []
                if repair:
                    for v, d in [
                        (v, self._version_dir(ds["path"], v)) for v in orphans
                    ] + [(n, os.path.join(ds["path"], n)) for n in stage_dirs]:
                        try:
                            # max mtime across the TREE, not the top dir:
                            # a live save writing into nested __p_*
                            # partition subdirs doesn't refresh the top
                            # dir's mtime, so a long-running write could
                            # look old enough to delete
                            newest = os.path.getmtime(d)
                            for root_, _dirs, files in os.walk(d):
                                newest = max(
                                    newest,
                                    os.path.getmtime(root_),
                                    *(
                                        os.path.getmtime(os.path.join(root_, f))
                                        for f in files
                                    ),
                                )
                            age = now - newest
                        except OSError:
                            continue
                        if age >= min_age_seconds:
                            shutil.rmtree(d, ignore_errors=True)
                            repaired_versions.append(v)
                    for k in stale_prov:
                        ds["provenance"].pop(k, None)
                report[name] = {
                    "orphan_versions": orphans,
                    "missing_versions": missing,
                    "stale_provenance": stale_prov,
                    "stale_staging": stage_dirs,
                    "repaired": repaired_versions if repair else False,
                }
        return report

    def restore(
        self, dataframe_name: str, external_key: str, new_key: str = "NOW"
    ) -> Dict[str, Any]:
        """Roll a dataset back to a past version by COMMITTING that
        version's rows as a NEW version (the Delta ``RESTORE`` shape:
        history stays intact and auditable — nothing is deleted, the
        latest pointer simply moves forward onto old data). The restored
        copy re-partitions under the dataset's own keys and carries
        provenance like any save, so ``describe_dataset`` shows exactly what
        the rollback changed.
        """
        ds = self._dataset_entry(dataframe_name)
        if str(external_key) not in {str(v) for v in ds["versions"]}:
            raise DatasetNotFound(
                f"{dataframe_name!r} has no version {external_key!r}"
            )
        snapshot = self.load(dataframe_name, external_key=external_key)
        return self.save(snapshot, dataframe_name, external_key=new_key)

    def retain_last(self, dataframe_name: str, n: int) -> Dict[str, Any]:
        """Retention maintenance: keep only the newest ``n`` committed
        versions (manifest order = commit order), delete the rest — the
        between-saves form of ``save(keep_last=True)`` (which keeps 1) /
        the VACUUM-with-retention analogue. The manifest stops listing the
        doomed versions BEFORE their directories go (``_reap``), so a crash
        mid-prune leaves unlisted orphan dirs (``fsck`` reports and repairs
        them), never listed-but-missing versions."""
        if n < 1:
            raise ValueError("retain_last needs n >= 1")
        with self._commit() as manifest:
            entry = manifest["datasets"].get(dataframe_name)
            if entry is None:
                raise DatasetNotFound(dataframe_name)
            doomed = [str(v) for v in entry["versions"][:-n]]
            entry["versions"] = entry["versions"][-n:]
            entry["provenance"] = {
                k: p
                for k, p in entry.get("provenance", {}).items()
                if k not in set(doomed)
            }
            if entry["versions"]:
                entry["latest"] = entry["versions"][-1]
            path, kept = entry["path"], len(entry["versions"])
        self._reap(self._version_dir(path, v) for v in doomed)
        return {"deleted_versions": doomed, "kept": kept}

    def branch_dataset(
        self, source_name: str, branch_name: str
    ) -> Dict[str, Any]:
        """Fork a dataset into an independent BRANCH (the lakehouse
        branching shape — Iceberg refs / Nessie — at warehouse level):
        the branch starts with every committed version of the source and
        then evolves independently — saves, retention, restore, and
        deletion on either side never affect the other.

        Zero-copy on a local/posix warehouse: version files HARDLINK
        into the branch's own directory tree (same inodes, no data
        bytes moved), which is what makes the isolation real — source
        retention can delete its directory entries while the branch's
        links keep the shared inodes alive (pinned in tests).  A
        cross-device or object-store warehouse falls back to file copy
        per file (the manifest-reference design an Iceberg-style
        catalog would use instead is noted in the docstring body —
        this engine keeps load()'s one-root contract).  The branch
        entry records ``branched_from`` (source + fork point) so data
        cards can show lineage.
        """
        src = self._dataset_entry(source_name)
        existing = self._read_manifest()["datasets"].get(branch_name)
        if existing is not None:
            raise ValueError(f"dataset {branch_name!r} already exists")
        dst_path = self._dataset_path(branch_name)
        os.makedirs(dst_path, exist_ok=True)
        for v in src["versions"]:
            self._link_version(src["path"], dst_path, v)
        with self._commit() as manifest:
            if branch_name in manifest["datasets"]:
                raise ValueError(f"dataset {branch_name!r} already exists")
            manifest["datasets"][branch_name] = {
                "path": dst_path,
                "columns_keys": src["columns_keys"],
                "versions": list(src["versions"]),
                "schema": src["schema"],
                "provenance": dict(src.get("provenance", {})),
                "latest": src.get("latest"),
                "branched_from": {
                    "source": source_name,
                    "at_versions": [str(v) for v in src["versions"]],
                },
            }
        return {
            "dataframe_name": branch_name,
            "branched_from": source_name,
            "versions": [str(v) for v in src["versions"]],
        }

    def delete_dataset(self, dataframe_name: str) -> Dict[str, Any]:
        """Drop a dataset: remove its data directory and catalog entry.

        An extension beyond the reference (its SDK has no deletion method,
        SURVEY §2.5) — without it a versioned warehouse can only grow.
        The catalog entry goes BEFORE the data (``_reap``), so a crash
        mid-delete leaves either the intact dataset or an unlisted
        directory, never a listed dataset with missing files.
        """
        with self._commit() as manifest:
            ds = manifest["datasets"].pop(dataframe_name, None)
            if ds is None:
                raise DatasetNotFound(dataframe_name)
        self._reap([ds["path"]])
        # Prune now-empty name directories up to (never including) the
        # warehouse root; a nested sibling like 'a/b' keeps 'a/' alive.
        parent = os.path.dirname(ds["path"])
        root = os.path.realpath(self.warehouse)
        while os.path.realpath(parent) != root:
            try:
                os.rmdir(parent)
            except OSError:
                break
            parent = os.path.dirname(parent)
        return {"dataframe_name": dataframe_name, "deleted": True}

    # ---------------------------------------------------------------- scoping

    def scoped(self, principal: str) -> "DataFrameEngine":
        """Per-user isolation (reference B9: the service keeps each user's
        datasets in their own bucket prefix, README.md:23-26): returns an
        engine rooted at ``<warehouse>/__users/<principal>/`` with its own
        manifest — names, versions, and data of different principals can
        never collide, and ``list_datasets`` only sees the caller's scope.
        """
        if not principal or not isinstance(principal, str):
            raise ValueError("principal must be a non-empty string")
        import re

        safe = re.sub(r"[^A-Za-z0-9._-]", "_", principal)
        return DataFrameEngine(
            self.spark,
            os.path.join(self.warehouse, "__users", safe),
            self.id_bucket_width,
            self._clock,
        )

    # ------------------------------------------------ incremental rollups

    _ROLLUP_FNS = ("count", "sum", "min", "max", "avg", "approx_distinct")

    # Bumped whenever the MEANING of a stored state column changes (e.g.
    # format 2: avg's denominator moved from count(*) to count(col)).
    # refresh_rollup compares the spec's stamp against this and forces a
    # FULL recompute on mismatch — merging old-format counts with
    # new-format increments would silently mix denominators on
    # null-bearing columns after an upgrade.
    _ROLLUP_STATE_FORMAT = 2

    def define_rollup(
        self,
        rollup_name: str,
        source_name: str,
        keys,
        aggs: Dict[str, Any],
    ) -> Dict[str, Any]:
        """Register an incrementally-maintained aggregate over a dataset —
        the engine's materialized-view primitive. ``aggs`` maps output
        column → ``(fn, source_col)`` with fn in count/sum/min/max/avg
        (the algebraic aggregates whose partial states merge associatively:
        count/sum merge by +, min/max by least/greatest, avg as a
        (sum, count) pair).

        WHY: at 100 TB, recomputing a dashboard rollup on every append
        rescans the corpus; because the engine's appends are immutable
        version directories, ``refresh_rollup`` aggregates ONLY the
        versions that arrived since the last refresh (a partition-pruned
        scan of just the new files) and merges the partial states into the
        stored rollup — append-proportional work, corpus-independent.
        """
        if not rollup_name or not isinstance(rollup_name, str):
            raise ValueError("rollup_name must be a non-empty string")
        src = self._dataset_entry(source_name)  # raises if missing
        src_cols = {f["name"] for f in json.loads(src["schema"])["fields"]}
        keys = list(keys)
        for k in keys:
            if k not in src_cols:
                raise ValueError(f"rollup key {k!r} not in {source_name!r}")
        aggs = {out: (fn, col) for out, (fn, col) in dict(aggs).items()}
        for out, (fn, col) in aggs.items():
            if fn not in self._ROLLUP_FNS:
                raise ValueError(
                    f"agg {out!r}: fn must be one of {self._ROLLUP_FNS}"
                )
            if fn != "count" and col not in src_cols:
                raise ValueError(f"agg {out!r}: column {col!r} not in source")
        with self._commit() as manifest:
            rollups = manifest.setdefault("rollups", {})
            if rollup_name in rollups or rollup_name in manifest["datasets"]:
                raise ValueError(f"{rollup_name!r} already exists")
            rollups[rollup_name] = {
                "source": source_name,
                "keys": keys,
                "aggs": {out: list(fc) for out, fc in aggs.items()},
                "processed": [],
                "state_version": None,
                "state_format": self._ROLLUP_STATE_FORMAT,
            }
        return dict(rollups[rollup_name])

    def _rollup_spec(self, rollup_name: str) -> Dict[str, Any]:
        spec = self._read_manifest().get("rollups", {}).get(rollup_name)
        if spec is None:
            raise DatasetNotFound(f"rollup {rollup_name!r} is not defined")
        return spec

    @staticmethod
    def _rollup_state_cols(aggs):
        """State columns per output: avg keeps a (sum, count) pair; sums
        accumulate in DECIMAL(28,6) (exact, associative — the corpus-wide
        dsum discipline); counts in long; min/max in the source type.

        avg's count state is ``countcol`` — count(col), nulls skipped — so
        read_rollup's sum/count reproduces SQL AVG on null-bearing columns;
        only the user-facing ``count`` aggregate is count(*).

        approx_distinct keeps a datasketches HLL sketch (binary): the
        MERGEABLE distinct-count state — refresh N unions the new
        versions' sketches into the stored one, so incremental distinct
        dashboards never rescan history (an exact distinct is the one
        aggregate a partial-state rollup cannot maintain incrementally
        without keeping the full key domain)."""
        cols = []
        for out, (fn, col) in aggs.items():
            if fn == "avg":
                cols.append((f"__s_{out}_sum", "sum", col))
                cols.append((f"__s_{out}_cnt", "countcol", col))
            else:
                cols.append((f"__s_{out}", fn, col))
        return cols

    def refresh_rollup(self, rollup_name: str) -> Dict[str, Any]:
        """Fold versions appended since the last refresh into the rollup.

        Incremental contract: the new-version rows are scanned ONCE
        (partition-pruned to exactly the unprocessed ``__version`` dirs),
        pre-aggregated map-side, and merged with the stored state by the
        aggregates' own merge functions — the same partial/final split
        Spark uses inside one job, lifted across jobs.

        Crash consistency: the merged state lands as a NEW version of the
        rollup dataset first; the spec's (processed, state_version) pair
        updates second, atomically. A crash between the two leaves an
        orphan state version that no reader sees (``read_rollup`` pins the
        spec's state_version) and the next refresh redoes the same merge
        from the old base — idempotent, never double-counted.

        State versions accumulate like any dataset's (each refresh is a
        new version — the rollup's own time travel); prune history with
        ``retain_last(rollup_name, n)`` when the audit trail isn't needed.
        """
        spec = self._rollup_spec(rollup_name)
        src = self._dataset_entry(spec["source"])
        # State-format migration: a spec stamped with an older (or, for
        # pre-stamp manifests, missing) format holds state whose columns
        # mean something different from what this code increments — e.g.
        # format 1 avg counts were count(*), format 2 are count(col).
        # Merging would mix denominators, so recompute from scratch: drop
        # the processed ledger and ignore the stored state base.
        migrate = spec.get("state_format") != self._ROLLUP_STATE_FORMAT
        done = set() if migrate else set(spec["processed"])
        new = [str(v) for v in src["versions"] if str(v) not in done]
        if not new:
            if migrate and spec["state_version"] is not None:
                # nothing to recompute (e.g. every source version retired
                # by retention), but the stored state is in the OLD format
                # — discard it and stamp the spec, else read_rollup keeps
                # serving stale-format state indefinitely
                with self._commit() as manifest:
                    live = manifest["rollups"][rollup_name]
                    live["processed"] = []
                    live["state_version"] = None
                    live["state_format"] = self._ROLLUP_STATE_FORMAT
                return {"refreshed_versions": [], "state_version": None}
            return {"refreshed_versions": [], "state_version": spec["state_version"]}
        aggs = {out: tuple(fc) for out, fc in spec["aggs"].items()}
        keys = spec["keys"]
        df = self.load(spec["source"], drop_internal=False).filter(
            F.col(VERSION_COL).isin(new)
        )
        first_exprs, merge_exprs = [], []
        for state, fn, col in self._rollup_state_cols(aggs):
            if fn == "count":
                first_exprs.append(F.count(F.lit(1)).cast("long").alias(state))
                merge_exprs.append(F.sum(state).cast("long").alias(state))
            elif fn == "countcol":
                # avg's denominator: nulls skipped, matching SQL AVG
                first_exprs.append(F.count(F.col(col)).cast("long").alias(state))
                merge_exprs.append(F.sum(state).cast("long").alias(state))
            elif fn == "approx_distinct":
                first_exprs.append(F.hll_sketch_agg(F.col(col)).alias(state))
                merge_exprs.append(F.hll_union_agg(F.col(state)).alias(state))
            elif fn == "sum":
                # sum(decimal(28,6)) widens to (38,6); pin the stored state
                # type so refresh N's schema equals refresh 1's
                first_exprs.append(
                    F.sum(F.col(col).cast("decimal(28,6)"))
                    .cast("decimal(28,6)")
                    .alias(state)
                )
                merge_exprs.append(
                    F.sum(F.col(state)).cast("decimal(28,6)").alias(state)
                )
            elif fn == "min":
                first_exprs.append(F.min(col).alias(state))
                merge_exprs.append(F.min(state).alias(state))
            elif fn == "max":
                first_exprs.append(F.max(col).alias(state))
                merge_exprs.append(F.max(state).alias(state))
        partial = df.groupBy(*keys).agg(*first_exprs)
        if spec["state_version"] is not None and not migrate:
            old = self.load(rollup_name, external_key=spec["state_version"])
            partial = old.select(partial.columns).unionByName(partial)
            partial = partial.groupBy(*keys).agg(*merge_exprs)
        info = self.save(partial, rollup_name)
        state_version = info["version"]
        with self._commit() as manifest:
            live = manifest["rollups"][rollup_name]
            if migrate:
                live["processed"] = sorted(set(new))
            else:
                live["processed"] = sorted(set(live["processed"]) | set(new))
            live["state_version"] = str(state_version)
            live["state_format"] = self._ROLLUP_STATE_FORMAT
        return {"refreshed_versions": new, "state_version": str(state_version)}

    def read_rollup(self, rollup_name: str) -> DataFrame:
        """The rollup as user-facing columns: counts long, sums double,
        min/max native, avg = exact-decimal sum / count."""
        spec = self._rollup_spec(rollup_name)
        if spec["state_version"] is None:
            raise ValueError(f"rollup {rollup_name!r} has never been refreshed")
        df = self.load(rollup_name, external_key=spec["state_version"])
        aggs = {out: tuple(fc) for out, fc in spec["aggs"].items()}
        out_cols = [F.col(k) for k in spec["keys"]]
        for out, (fn, col) in aggs.items():
            if fn == "avg":
                # all-null group: count state is 0 -> NULL, exactly SQL AVG
                out_cols.append(
                    F.when(
                        F.col(f"__s_{out}_cnt") > 0,
                        F.col(f"__s_{out}_sum").cast("double")
                        / F.col(f"__s_{out}_cnt"),
                    ).alias(out)
                )
            elif fn == "sum":
                out_cols.append(F.col(f"__s_{out}").cast("double").alias(out))
            elif fn == "approx_distinct":
                out_cols.append(
                    F.hll_sketch_estimate(F.col(f"__s_{out}"))
                    .cast("long")
                    .alias(out)
                )
            else:
                out_cols.append(F.col(f"__s_{out}").alias(out))
        return df.select(*out_cols)

    # ---------------------------------------------------------------- helpers

    def _merge_schema(self, stored_json: str, new_schema) -> "T.StructType":
        """Schema evolution on append: union of fields by name. A re-typed
        column is a hard error (silent coercion corrupts data at scale);
        a new column is fine — old files simply lack it and read as NULL.
        """
        from pyspark.sql import types as T

        merged = T.StructType.fromJson(json.loads(stored_json))
        have = {f.name: f for f in merged.fields}
        for f in new_schema.fields:
            old = have.get(f.name)
            if old is None:
                merged = merged.add(f.name, f.dataType, True)
            elif old.dataType != f.dataType:
                raise ValueError(
                    f"schema conflict on column {f.name!r}: stored "
                    f"{old.dataType.simpleString()}, appended {f.dataType.simpleString()}"
                )
        return merged

    def _full_schema(self, ds: Dict[str, Any]) -> "T.StructType":
        """Manifest schema + typed partition columns. Passing this explicit
        schema to the reader (instead of mergeSchema=true) means NO parquet
        footer sweep at plan time — at 100 TB that's millions of files —
        and appended columns surface as NULL for pre-evolution versions.
        Partition columns are pinned to string so numeric-looking version
        labels or date dirs never get re-inferred as longs.
        """
        from pyspark.sql import types as T

        full = T.StructType.fromJson(json.loads(ds["schema"]))
        for col in ds["columns_keys"]:
            full = full.add(f"__p_{col}", T.StringType(), True)
        full = full.add(VERSION_COL, T.StringType(), True)
        return full

    def _dataset_entry(self, name: str) -> Dict[str, Any]:
        manifest = self._read_manifest()
        try:
            return manifest["datasets"][name]
        except KeyError:
            raise DatasetNotFound(name) from None

    def _dataset_path(self, name: str) -> str:
        """'a/b/c' hierarchical names (README.md:66-72) map to nested dirs,
        with the data itself under a ``__data`` leaf.

        The leaf matters twice: (1) a dataset named ``a`` and a dataset
        named ``a/b`` coexist — ``a``'s scan reads ``a/__data`` and never
        sweeps ``a/b``'s files into its partition discovery; (2) traversal
        names cannot escape the warehouse — ``.``/``..`` segments are
        rejected outright and the resolved path is verified to stay under
        the warehouse root (``delete_dataset`` rmtree's this path, so an
        unchecked ``../../etc`` would be an arbitrary-delete primitive).
        """
        segments = [s for s in name.strip("/").split("/") if s]
        if not segments:
            raise ValueError(f"invalid dataset name {name!r}: empty")
        if any(s in (".", "..") for s in segments):
            raise ValueError(f"invalid dataset name {name!r}: '.'/'..' segments")
        path = os.path.join(self.warehouse, *segments, "__data")
        root = os.path.realpath(self.warehouse)
        resolved = os.path.realpath(path)
        if os.path.commonpath([root, resolved]) != root:
            raise ValueError(f"dataset name {name!r} escapes the warehouse root")
        return path

    @staticmethod
    def _reap(dirs) -> None:
        """Remove directories that a ``_commit()`` which has already
        returned stopped listing — the one place retention and deletion
        touch data files. Commit first, reap second: a crash before the
        commit leaves catalog and files as they were, and a crash during
        the reap leaves unlisted orphans, never listed-but-missing
        versions."""
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
