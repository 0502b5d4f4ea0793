"""Differential oracle tests — mirrors the driver's correctness gate.

For every corpus query with an oracle: run the Spark implementation and the
DuckDB SQL on the same parquet (default sf0.01, override ORACLE_SF_DIR),
then compare row count, column names, and an order-insensitive stringified
value frame — STRICTER than approximate compare, to match the driver's
value-hash. Rows-only queries are checked for successful execution and >0
rows.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pandas_db_sdk_spark.corpus import all_oracles, all_queries

SF_ORACLE = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

QUERIES = all_queries()
ORACLES = all_oracles()

# Queries ALLOWED to return zero rows, per fixture scale. Everything else
# must produce data: a 0-row frame that hash-matches a 0-row oracle is a
# vacuous certification (the c18/c28d lesson — both rode four rounds green
# on empty results because the fixture happened to produce none). Add an
# entry ONLY with a comment proving emptiness is the correct answer at
# that scale. The certification scale (sf0.01, the driver's) allows NO
# empties; sf0.001 is the fast-iteration smoke fixture, where two highly
# selective queries legitimately bottom out:
#   c47b_except — customers-minus-recent-buyers set difference: at
#     sf0.001 every one of the ~150 customers with orders has a
#     qualifying recent order, so the difference is empty (verified
#     against the DuckDB oracle, which is also empty).
#   x19_part_promotion_suppliers — TPC-H Q20-shape (promo parts ×
#     half-year shipped-quantity threshold): the sf0.001 lineitem slice
#     has no supplier clearing the 50%-of-shipped threshold.
EMPTY_OK_BY_SCALE = {
    "sf0.001": frozenset({"c47b_except", "x19_part_promotion_suppliers"}),
}
EMPTY_OK: frozenset = EMPTY_OK_BY_SCALE.get(
    os.path.basename(SF_ORACLE.rstrip("/")), frozenset()
)


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, every value
    stringified (floats via repr → exact), rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = pd.DataFrame()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith("float"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif str(col.dtype).startswith(("int", "uint")):
            out[c] = col.map(lambda v: str(int(v)))
        elif str(col.dtype) == "bool":
            out[c] = col.map(lambda v: str(bool(v)))
        else:
            out[c] = col.astype(str)
    out = out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


@pytest.fixture(scope="module")
def prefetched(spark, request):
    """Every SELECTED query's Spark result, computed CONCURRENTLY up
    front (guide §2.6: actions are only sequential because the driver
    calls them sequentially — N independent read-only jobs overlap their
    scheduling latency, which dominates at sf0.01). Assertions stay
    per-test and UNCHANGED; a prefetch exception is re-computed serially
    inside the owning test, so failure attribution and strictness are
    identical to the serial sweep. Only the names pytest actually
    collected are computed, so ``-k``-subset iteration stays fast.

    Temp views are session-global, so two queries registering the same
    view name would race on the 8 threads: every DataFrame temp-view
    registration is recorded per query, and a name registered by two
    queries fails the prefetch."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    wanted = set()
    for item in request.session.items:
        callspec = getattr(item, "callspec", None)
        if callspec is not None and "name" in callspec.params:
            wanted.add(callspec.params["name"])
    wanted &= set(QUERIES)

    running = threading.local()
    views: dict[str, set[str]] = {}  # temp-view name → queries registering it
    views_lock = threading.Lock()

    def compute(name):
        running.name = name
        try:
            return QUERIES[name](spark, SF_ORACLE).toPandas()
        except Exception as exc:  # pragma: no cover - retried in-test
            return exc

    def compute_rows_only(name):
        running.name = name
        try:
            df = QUERIES[name](spark, SF_ORACLE)
            return (len(df.columns), df.count())
        except Exception as exc:  # pragma: no cover - retried in-test
            return exc

    frame_type = type(spark.range(1))
    with pytest.MonkeyPatch.context() as mp:
        for attr in ("createTempView", "createOrReplaceTempView"):
            def recording(self, view, _register=getattr(frame_type, attr)):
                with views_lock:
                    views.setdefault(view, set()).add(running.name)
                return _register(self, view)

            mp.setattr(frame_type, attr, recording)
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = {
                n: pool.submit(compute if n in ORACLES else compute_rows_only, n)
                for n in sorted(wanted)
            }
            out = {n: f.result() for n, f in futs.items()}
    shared = {v: sorted(qs) for v, qs in views.items() if len(qs) > 1}
    assert not shared, f"queries share temp-view names under concurrent prefetch: {shared}"
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck, prefetched):
    spark_pdf = prefetched.get(name)
    if spark_pdf is None or isinstance(spark_pdf, Exception):
        # serial in-test recompute: deterministic failure attribution
        spark_pdf = QUERIES[name](spark, SF_ORACLE).toPandas()
    oracle_pdf = duck.execute(ORACLES[name]).df()

    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    if name not in EMPTY_OK:
        assert len(spark_pdf) > 0, (
            f"{name}: empty result — a 0-row hash match certifies nothing "
            f"(add to EMPTY_OK only if emptiness is provably correct)"
        )
    assert sorted(map(str.lower, spark_pdf.columns)) == sorted(
        map(str.lower, oracle_pdf.columns)
    ), f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"

    s = normalize(spark_pdf)
    o = normalize(oracle_pdf)
    o.columns = s.columns  # align case after sort
    if not s.equals(o):
        diff_mask = (s != o).any(axis=1)
        sample = pd.concat(
            [s[diff_mask].head(5).add_suffix("_spark"), o[diff_mask].head(5).add_suffix("_oracle")],
            axis=1,
        )
        raise AssertionError(f"{name}: value mismatch on {int(diff_mask.sum())} rows\n{sample}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark, prefetched):
    got = prefetched.get(name)
    if got is None or isinstance(got, Exception):
        df = QUERIES[name](spark, SF_ORACLE)
        got = (len(df.columns), df.count())
    ncols, n = got
    assert ncols > 0
    if name not in EMPTY_OK:
        assert n > 0, f"{name}: rows-only query produced an empty frame"
