"""Migration bridge to the reference's documented storage layout.

The reference stores datasets as gzip-CSV chunk trees
(``README.md:189-218``)::

    bucket/dataframe_name/<partition_column>/<value>/chunk_uuid.csv.gz

with Date values as ``2024-01-01`` dirs and ID values as ``from_X_to_Y``
range dirs. ``export_reference_layout`` writes a
:class:`~pandas_db_sdk_spark.engine.DataFrameEngine` dataset out
byte-compatible (gzip CSV, ≤100K-row chunks, uuid names —
``README.md:20-21,197``) so reference-side tooling can consume it.

Scale shape: one distributed Spark job writes the chunk files. The only
driver-side work is directory listing and renames (metadata ops).
"""

from __future__ import annotations

import glob
import os
import shutil
import urllib.parse
import uuid
from typing import Dict, Optional

from .engine import DataFrameEngine, _is_internal


def export_reference_layout(
    engine: DataFrameEngine,
    dataframe_name: str,
    dest: str,
    external_key: Optional[str] = None,
    use_last: bool = False,
) -> Dict[str, int]:
    """Write a dataset as the reference's chunk tree (gzip CSV, ≤100K-row
    chunks, ``chunk_<uuid>.csv.gz`` names) so reference-side tooling can
    consume it unchanged.

    Spark writes Hive-style ``<pcol>=<value>/part-*.csv.gz`` dirs in one
    distributed job; the driver then renames dirs/files into the reference's
    ``<column>/<value>/chunk_uuid.csv.gz`` shape — pure metadata ops, linear
    in file count (which ``maxRecordsPerFile`` keeps proportional to data).
    """
    ds = engine._dataset_entry(dataframe_name)
    keys = list(ds["columns_keys"])
    if len(keys) != 1:
        raise ValueError(
            "reference layout has exactly one partition level "
            f"(README.md:189-207); dataset has keys {keys}"
        )
    col = keys[0]
    pcol = f"__p_{col}"
    df = engine.load(dataframe_name, external_key, use_last, drop_internal=False)
    data_cols = [c for c in df.columns if not _is_internal(c)]
    staging = dest.rstrip("/") + f".staging.{uuid.uuid4().hex[:8]}"
    (
        df.select(*data_cols, pcol)
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .option("maxRecordsPerFile", 100_000)  # README.md:21
        .partitionBy(pcol)
        .csv(staging)
    )
    out_root = os.path.join(dest, col)
    os.makedirs(out_root, exist_ok=True)
    n_chunks = 0
    n_null_skipped = 0
    for d in sorted(glob.glob(os.path.join(staging, f"{pcol}=*"))):
        raw = os.path.basename(d).split("=", 1)[1]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            # NULL partition sentinel: the reference's <value> dirs have no
            # null representation — skip (and report) rather than invent one.
            n_null_skipped += 1
            continue
        # Spark percent-escapes special chars in partition dir names; the
        # reference stores raw values, so unescape before building its path.
        value = urllib.parse.unquote(raw)
        vdir = os.path.join(out_root, value)
        os.makedirs(vdir, exist_ok=True)
        for f_ in sorted(glob.glob(os.path.join(d, "part-*.csv.gz"))):
            os.replace(
                f_, os.path.join(vdir, f"chunk_{uuid.uuid4().hex}.csv.gz")
            )
            n_chunks += 1
    shutil.rmtree(staging, ignore_errors=True)
    return {
        "chunks": n_chunks,
        "partitions": len(os.listdir(out_root)),
        "null_partitions_skipped": n_null_skipped,
    }

