"""DataFrameClient — drop-in facade with the reference SDK's exact surface.

The reference (`/root/reference/src/pandas_db_sdk/client.py`) exposes ONE
class with three methods; a user switching to this engine keeps their code:

* ``DataFrameClient(api_url, auth_token, region)`` (``client.py:45-64``) —
  here ``api_url`` is the warehouse path (a local dir, or any Hadoop-FS URI
  on a cluster: ``s3a://…``, ``hdfs://…``). ``auth_token``/``region`` are
  accepted and ignored: storage auth is the filesystem's concern now, not a
  bearer header.
* ``load_dataframe(df, dataframe_name, columns_keys, external_key,
  keep_last) -> Dict`` (``client.py:66-137``) — same validation messages
  (ValueError on non-DataFrame / empty name / bad key type / missing
  column, ``client.py:99-110``), same metadata-dict return shape.
* ``get_dataframe(dataframe_name, external_key, use_last) ->
  pd.DataFrame`` (``client.py:139-183``) — returns a real pandas frame via
  Arrow (``client.py:176``).
* ``list_dataframes(prefix) -> Dict`` (``client.py:185-215``) — same
  ``{'dataframes': …, 'count': …}`` shape.

Everything delegates to :class:`~pandas_db_sdk_spark.engine.DataFrameEngine`
— this module adds no storage logic, only the reference's exact ergonomics.
"""

from __future__ import annotations

from typing import Any, Dict, Optional

import pandas as pd

from pyspark.sql import SparkSession

from .engine import DataFrameEngine


class DataFrameClient:
    """The reference's client class, backed by the Spark engine."""

    def __init__(
        self,
        api_url: str,
        auth_token: str = "",
        region: str = "us-east-1",
        spark: Optional[SparkSession] = None,
    ):
        """``api_url`` → warehouse root (dir path or Hadoop-FS URI).
        ``auth_token``, when given, is the caller's identity and selects a
        per-user scope (the reference service isolates each user's datasets
        by their auth identity, reference ``README.md:23-26``); the token is
        hashed before it touches any path, never stored. ``region`` is
        accepted for signature compatibility (``client.py:45-64``) and
        unused."""
        self.api_url = api_url.rstrip("/")
        self.region = region
        if spark is None:
            from .session import get_spark

            spark = get_spark("pandas-db-client")
        self._engine = DataFrameEngine(spark, self.api_url)
        if auth_token:
            import hashlib

            principal = hashlib.sha256(auth_token.encode()).hexdigest()[:16]
            self._engine = self._engine.scoped(principal)

    # ------------------------------------------------------------- load

    def load_dataframe(
        self,
        df: pd.DataFrame,
        dataframe_name: str,
        columns_keys: Optional[Dict[str, str]] = None,
        external_key: str = "NOW",
        keep_last: bool = False,
    ) -> Dict:
        """Store a pandas DataFrame (``client.py:66-137``). Same validation
        errors as the reference (ValueError, ``client.py:99-110``)."""
        if not isinstance(df, pd.DataFrame):
            raise ValueError("df must be a pandas DataFrame")
        try:
            return self._engine.save(
                df,
                dataframe_name,
                columns_keys=columns_keys,
                external_key=external_key,
                keep_last=keep_last,
            )
        except TypeError as e:  # engine's type guard → reference's ValueError
            raise ValueError(str(e)) from None

    # -------------------------------------------------------------- get

    def get_dataframe(
        self,
        dataframe_name: str,
        external_key: Optional[str] = None,
        use_last: bool = False,
    ) -> pd.DataFrame:
        """Retrieve as pandas (``client.py:139-183``) — Arrow transfer, not
        a JSON-records body, so dtypes survive (SURVEY §1.3 upgrade)."""
        return self._engine.load(
            dataframe_name, external_key=external_key, use_last=use_last
        ).toPandas()

    # ------------------------------------------------------------- list

    def list_dataframes(self, prefix: Optional[str] = None) -> Dict[str, Any]:
        """Catalog listing (``client.py:185-215``)."""
        return self._engine.list_datasets(prefix)
