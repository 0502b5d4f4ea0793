"""DataFrameClient facade — the reference's quick-start must run verbatim
(modulo the constructor's URL meaning a warehouse path).

Mirrors reference README.md:40-138 usage examples and client.py validation
behavior (ValueError messages, metadata return shape, pandas in/pandas out).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pandas_db_sdk_spark.client import DataFrameClient


@pytest.fixture()
def client(spark, tmp_path):
    return DataFrameClient(api_url=str(tmp_path / "wh"), auth_token="ignored", spark=spark)


def _sample():
    # reference README.md:46-52
    return pd.DataFrame(
        {
            "date": ["2024-01-01", "2024-01-02"],
            "id": [1, 2],
            "value": [100, 200],
        }
    )


def test_quickstart_roundtrip(client):
    """README.md:40-62: store with a Date key, retrieve, same data."""
    client.load_dataframe(
        df=_sample(), dataframe_name="my-project/dataset1", columns_keys={"date": "Date"}
    )
    got = client.get_dataframe("my-project/dataset1")
    assert sorted(got.columns) == ["date", "id", "value"]
    assert sorted(got["value"].tolist()) == [100, 200]


def test_validation_matches_reference(client):
    """client.py:99-110 guards, same exception type (ValueError)."""
    with pytest.raises(ValueError, match="pandas DataFrame"):
        client.load_dataframe([1, 2], "x")
    with pytest.raises(ValueError):
        client.load_dataframe(_sample(), "")
    with pytest.raises(ValueError, match="key type"):
        client.load_dataframe(_sample(), "x", columns_keys={"date": "Week"})
    with pytest.raises(ValueError, match="not in DataFrame"):
        client.load_dataframe(_sample(), "x", columns_keys={"missing": "Date"})


def test_version_management_keep_last(client):
    """README.md:118-127: keep_last retains only the newest version."""
    client.load_dataframe(_sample(), "reports/daily", external_key="v1")
    client.load_dataframe(_sample(), "reports/daily", external_key="v2", keep_last=True)
    listing = client.list_dataframes("reports")
    assert listing["dataframes"]["reports/daily"]["versions"] == ["v2"]
    assert len(client.get_dataframe("reports/daily")) == 2


def test_multiple_partition_keys(client):
    """README.md:126-138: Date + ID keys combined."""
    df = pd.DataFrame(
        {
            "transaction_date": ["2024-01-01", "2024-01-02"],
            "customer_id": [1500, 2500],
            "amount": [10.0, 20.0],
        }
    )
    out = client.load_dataframe(
        df,
        "transactions",
        columns_keys={"transaction_date": "Date", "customer_id": "ID"},
    )
    assert out["dataframe_name"] == "transactions"
    got = client.get_dataframe("transactions")
    assert sorted(got["customer_id"].tolist()) == [1500, 2500]


def test_use_last_and_external_key_filters(client):
    """client.py:160-165 read predicates."""
    a, b = _sample(), _sample().assign(value=[300, 400])
    client.load_dataframe(a, "ts/m", external_key="k1")
    client.load_dataframe(b, "ts/m", external_key="k2")
    assert sorted(client.get_dataframe("ts/m", external_key="k1")["value"]) == [100, 200]
    assert sorted(client.get_dataframe("ts/m", use_last=True)["value"]) == [300, 400]
    assert len(client.get_dataframe("ts/m")) == 4


def test_list_dataframes_prefix(client):
    """client.py:185-215 + prefix filter (client.py:198)."""
    client.load_dataframe(_sample(), "a/one")
    client.load_dataframe(_sample(), "a/two")
    client.load_dataframe(_sample(), "b/three")
    out = client.list_dataframes(prefix="a/")
    assert out["count"] == 2
    assert set(out["dataframes"]) == {"a/one", "a/two"}


def test_per_user_isolation(spark, tmp_path):
    """B9: different auth identities see disjoint catalogs; the same
    identity shares one (reference service semantics, README.md:23-26)."""
    import pandas as pd
    from pandas_db_sdk_spark.client import DataFrameClient
    from pandas_db_sdk_spark.engine import DatasetNotFound

    wh = str(tmp_path / "wh")
    alice = DataFrameClient(api_url=wh, auth_token="alice-token", spark=spark)
    bob = DataFrameClient(api_url=wh, auth_token="bob-token", spark=spark)
    alice2 = DataFrameClient(api_url=wh, auth_token="alice-token", spark=spark)

    alice.load_dataframe(pd.DataFrame({"x": [1, 2, 3]}), "shared-name")
    bob.load_dataframe(pd.DataFrame({"x": [10]}), "shared-name")

    assert len(alice.get_dataframe("shared-name")) == 3
    assert len(bob.get_dataframe("shared-name")) == 1
    assert len(alice2.get_dataframe("shared-name")) == 3  # same identity → same data
    assert alice.list_dataframes()["count"] == 1
    assert bob.list_dataframes()["count"] == 1
    # raw token never appears on disk
    import os
    for root, dirs, files in os.walk(wh):
        for name in dirs + files:
            assert "alice-token" not in name and "bob-token" not in name


def test_example_scripts_run(spark):
    """The examples/ scripts are living documentation — they must keep
    running against the test corpus (subprocess-free: import and call)."""
    import importlib.util
    import os
    import sys
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name, args in (
        ("corpus_pipeline", ("/root/testdata/sf0.001", tempfile.mkdtemp())),
        ("ann_serving", ("/root/testdata/sf0.001", tempfile.mkdtemp() + "/ix")),
        ("release_audit", ("/root/testdata/sf0.001", tempfile.mkdtemp())),
        ("crawl_pipeline", ("/root/testdata/sf0.001",)),
        ("cleaning_ladder", ("/root/testdata/sf0.001",)),
        ("media_pipeline", ("/root/testdata/sf0.001",)),
    ):
        path = os.path.join(root, "examples", f"{name}.py")
        spec = importlib.util.spec_from_file_location(f"examples_{name}", path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[spec.name] = mod
        spec.loader.exec_module(mod)
        mod.main(*args)
