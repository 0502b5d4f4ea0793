"""Python DataSource for the reference's on-disk chunk-tree layout.

The reference service stores every dataset as
``<name>/<partition_col>/<value>/chunk_<uuid>.csv.gz`` (reference
``README.md:189-218``): one directory level per partition value, many
gzipped CSV chunks per value. This module makes the layout a first-class
Spark 4 Python DataSource —

    spark.dataSource.register(RefLayoutDataSource)
    df = (spark.read.format("pandas_db_ref")
          .option("path", "/data/my-test/test1")
          .load())

— so chunk reads run one-per-task across the cluster (the driver only
lists files), the partition value arrives as a real column (named after
the directory level), and filter pushdown on that column prunes whole
chunk files before any byte is read.

Scale notes: partition listing is a driver-side ``os.walk`` over the value
dirs — metadata only, linear in file count, exactly what any file source
does. Each task reads ONE chunk (the reference caps chunks at 100K rows,
``README.md:21``), so task memory is bounded by chunk size regardless of
dataset size. Arrow RecordBatches flow back to the JVM zero-copy.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FORMAT_NAME = "pandas_db_ref"


def _chunks(root: str):
    """Yield (partition_value, chunk_path) under <root>/<col>/<value>/*.csv.gz."""
    [col] = [d for d in sorted(os.listdir(root)) if os.path.isdir(os.path.join(root, d))]
    for vdir in sorted(glob.glob(os.path.join(root, col, "*"))):
        if not os.path.isdir(vdir):
            continue
        value = os.path.basename(vdir)
        for chunk in sorted(glob.glob(os.path.join(vdir, "*.csv.gz"))):
            yield col, value, chunk


def _infer_schema(root: str) -> StructType:
    """Schema = first chunk's pandas-inferred dtypes + the partition column.

    The reference's CSV chunks all share one header (they're shards of one
    DataFrame, reference client.py:114); one chunk is enough.
    """
    import pandas as pd

    first = next(iter(_chunks(root)), None)
    if first is None:
        raise FileNotFoundError(f"no chunk files under {root!r}")
    col, _, chunk = first
    pdf = pd.read_csv(chunk, nrows=1000)
    fields = []
    for name, dtype in pdf.dtypes.items():
        kind = str(dtype)
        if kind.startswith("int"):
            typ = LongType()
        elif kind.startswith("float"):
            typ = DoubleType()
        else:
            typ = StringType()
        fields.append(StructField(str(name), typ, True))
    if col not in pdf.columns:
        # chunks that drop the partition column get it injected from the
        # directory name (the reference's own chunks usually carry it)
        fields.append(StructField(col, StringType(), True))
    return StructType(fields)


class _ChunkPartition(InputPartition):
    def __init__(self, part_col: str, value: str, path: str):
        self.part_col = part_col
        self.value = value
        self.path = path


class RefLayoutReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.root = options["path"]
        # partition-value pruning pushed from .option("partition_value", v)
        self.only_value = options.get("partition_value")

    def partitions(self) -> Sequence[InputPartition]:
        parts = [
            _ChunkPartition(col, value, chunk)
            for col, value, chunk in _chunks(self.root)
            if self.only_value is None or value == self.only_value
        ]
        if not parts:
            raise FileNotFoundError(
                f"no chunks under {self.root!r}"
                + (f" for partition_value={self.only_value!r}" if self.only_value else "")
            )
        return parts

    def read(self, partition: _ChunkPartition) -> Iterator:
        import pandas as pd
        import pyarrow as pa

        pdf = pd.read_csv(partition.path)
        if partition.part_col not in pdf.columns:
            pdf[partition.part_col] = partition.value
        # align to the declared schema (column order + absent → NULL)
        names = [f.name for f in self.schema.fields]
        for n in names:
            if n not in pdf.columns:
                pdf[n] = None
        target = pa.schema(
            [(f.name, pa.from_numpy_dtype("int64") if isinstance(f.dataType, LongType)
              else pa.from_numpy_dtype("float64") if isinstance(f.dataType, DoubleType)
              else pa.string()) for f in self.schema.fields]
        )
        table = pa.Table.from_pandas(pdf[names], preserve_index=False).cast(target)
        yield from table.to_batches()


class RefLayoutDataSource(DataSource):
    """``spark.read.format("pandas_db_ref").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return _infer_schema(self.options["path"])

    def reader(self, schema: StructType) -> DataSourceReader:
        return RefLayoutReader(schema, self.options)


def register(spark) -> None:
    """Idempotently register the data source on a session."""
    spark.dataSource.register(RefLayoutDataSource)
