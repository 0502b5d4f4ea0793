"""Storage-layer round-trip tests — SURVEY §5.3.

Covers the reference's Tier A/B semantics under the Spark storage layer
(reference client.py:66-215, README.md:189-218): save→load identity across
partition-key combos (Date, ID, both), version accumulation vs keep_last,
use_last resolution, prefix listing, validation guards, and append layout
inheritance. 'NOW' versioning is driven by an injected clock.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark.engine import DataFrameEngine, DatasetNotFound


class FakeClock:
    def __init__(self, start: int = 1_700_000_000_000):
        self.t = start

    def __call__(self) -> int:
        self.t += 1000
        return self.t


@pytest.fixture()
def engine(spark, tmp_path):
    return DataFrameEngine(spark, str(tmp_path / "wh"), clock=FakeClock())


@pytest.fixture(scope="module")
def sample(spark):
    rows = [
        (i, f"2024-01-{(i % 3) + 1:02d}", i * 100, float(i) * 1.5, f"name_{i}")
        for i in range(1, 21)
    ]
    return spark.createDataFrame(rows, "id long, dt string, acct long, amt double, name string")


def _sorted_rows(df, cols=("id",)):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_roundtrip_unpartitioned(engine, sample):
    engine.save(sample, "plain")
    got = engine.load("plain")
    assert sorted(got.columns) == sorted(sample.columns)
    assert _sorted_rows(got.select(*sample.columns)) == _sorted_rows(sample)


def test_roundtrip_date_key(engine, sample, tmp_path):
    engine.save(sample, "by_date", columns_keys={"dt": "Date"})
    got = engine.load("by_date")
    assert _sorted_rows(got.select(*sample.columns)) == _sorted_rows(sample)
    # physical layout: version dir outermost (concurrent-writer isolation),
    # one Hive-style dir per date value inside (README.md:191-198)
    root = tmp_path / "wh" / "by_date" / "__data"
    [vdir] = [p for p in root.iterdir() if p.name.startswith("__version=")]
    dirs = {p.name for p in vdir.iterdir() if p.is_dir()}
    assert dirs == {"__p_dt=2024-01-01", "__p_dt=2024-01-02", "__p_dt=2024-01-03"}


def test_roundtrip_id_key_buckets(engine, sample, tmp_path):
    engine.save(sample, "by_id", columns_keys={"acct": "ID"})
    got = engine.load("by_id")
    assert _sorted_rows(got.select(*sample.columns)) == _sorted_rows(sample)
    # range-bucket dirs from_X_to_Y (README.md:200-207); width=1000
    root = tmp_path / "wh" / "by_id" / "__data"
    [vdir] = [p for p in root.iterdir() if p.name.startswith("__version=")]
    dirs = {p.name for p in vdir.iterdir() if p.is_dir()}
    assert "__p_acct=from_1000_to_2000" in dirs


def test_roundtrip_combined_keys(engine, sample):
    engine.save(sample, "combo", columns_keys={"dt": "Date", "acct": "ID"})
    got = engine.load("combo")
    assert _sorted_rows(got.select(*sample.columns)) == _sorted_rows(sample)


def test_version_accumulation_and_pinning(engine, sample):
    engine.save(sample, "ds")  # NOW → t1
    engine.save(sample, "ds")  # NOW → t2
    info = engine.list_datasets()["dataframes"]["ds"]
    assert len(info["versions"]) == 2
    # default load returns all versions (reference accumulates, README.md:85-88)
    assert engine.load("ds").count() == 2 * sample.count()
    # pin to the first version
    v1 = info["versions"][0]
    assert engine.load("ds", external_key=v1).count() == sample.count()


def test_use_last_resolves_latest(engine, sample):
    engine.save(sample, "ds")
    engine.save(sample.limit(5), "ds")
    got = engine.load("ds", use_last=True)
    assert got.count() == 5


def test_user_defined_external_key(engine, sample):
    engine.save(sample, "ds", external_key="v1.0")
    engine.save(sample.limit(3), "ds", external_key="v2.0")
    assert engine.load("ds", external_key="v1.0").count() == sample.count()
    assert engine.load("ds", external_key="v2.0").count() == 3
    assert engine.list_datasets()["dataframes"]["ds"]["latest"] == "v2.0"


def test_keep_last_prunes_stale_versions(engine, sample):
    engine.save(sample, "ds")
    engine.save(sample.limit(7), "ds", keep_last=True)
    info = engine.list_datasets()["dataframes"]["ds"]
    assert len(info["versions"]) == 1
    # stale version's files are gone: full load == latest load
    assert engine.load("ds").count() == 7


def test_append_inherits_partition_keys(engine, sample):
    engine.save(sample, "ds", columns_keys={"dt": "Date"})
    engine.save(sample, "ds")  # no keys given → inherit Date key
    assert engine.load("ds").count() == 2 * sample.count()
    info = engine.list_datasets()["dataframes"]["ds"]
    assert info["columns_keys"] == {"dt": "Date"}


def test_conflicting_partition_keys_rejected(engine, sample):
    engine.save(sample, "ds", columns_keys={"dt": "Date"})
    with pytest.raises(ValueError, match="created with partition keys"):
        engine.save(sample, "ds", columns_keys={"acct": "ID"})


def test_validation_guards(engine, sample):
    # mirrors client.py:99-110
    with pytest.raises(TypeError):
        engine.save("not a df", "x")
    with pytest.raises(ValueError):
        engine.save(sample, "")
    with pytest.raises(ValueError, match="must be one of"):
        engine.save(sample, "x", columns_keys={"dt": "Hash"})
    with pytest.raises(ValueError, match="not in DataFrame"):
        engine.save(sample, "x", columns_keys={"missing": "Date"})


def test_missing_dataset_raises(engine):
    with pytest.raises(DatasetNotFound):
        engine.load("nope")


def test_prefix_listing(engine, sample):
    engine.save(sample, "proj/a")
    engine.save(sample, "proj/b")
    engine.save(sample, "other/c")
    out = engine.list_datasets(prefix="proj")
    assert sorted(out["dataframes"]) == ["proj/a", "proj/b"]
    assert out["count"] == 2
    assert engine.list_datasets()["count"] == 3


def test_hierarchical_names_nest_on_disk(engine, sample, tmp_path):
    engine.save(sample, "proj/dataset/subset")
    assert (tmp_path / "wh" / "proj" / "dataset" / "subset" / "__data").is_dir()
    assert engine.load("proj/dataset/subset").count() == sample.count()


def test_version_filter_prunes_partitions(engine, sample):
    """The version predicate must land on the partition column so a pinned
    load scans only that version's files (the 100 TB posture)."""
    engine.save(sample, "ds", external_key="v1")
    engine.save(sample, "ds", external_key="v2")
    df = engine.load("ds", external_key="v1", drop_internal=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # parquet scan reports partition count after pruning
    assert engine.load("ds", external_key="v1").count() == sample.count()
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ) if hasattr(df._sc._jvm, "PythonSQLUtils") else plan
    # at minimum the filter is a partition filter, not a post-scan filter
    assert "__version" in plan


def test_bucketed_join_elides_shuffle(engine, spark):
    """Two datasets bucketed on the same key/count must sort-merge join with
    NO Exchange — the co-located join path for repeated big-big joins."""
    facts = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v1")
    )
    dims = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v2")
    )
    engine.save_bucketed(facts, "bj/facts", bucket_by="k", n_buckets=8, sort_by="k")
    engine.save_bucketed(dims, "bj/dims", bucket_by="k", n_buckets=8, sort_by="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = engine.load_bucketed("bj/facts").join(engine.load_bucketed("bj/dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_roundtrip_values(engine, spark):
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    engine.save_bucketed(df, "bkt_vals", bucket_by="k", n_buckets=4)
    got = engine.load_bucketed("bkt_vals")
    assert sorted((r.k, r.v) for r in got.collect()) == sorted(
        (r.k, r.v) for r in df.collect()
    )


def test_schema_preserved_across_roundtrip(engine, spark):
    df = spark.createDataFrame(
        [(1, 1.5, True, "s", None)],
        "a long, b double, c boolean, d string, e string",
    )
    engine.save(df, "typed")
    got = engine.load("typed")
    assert dict(got.dtypes) == dict(df.dtypes)


def test_schema_evolution_append_new_column(engine, spark):
    """Appending a version with an extra column evolves the dataset schema:
    old versions read the new column as NULL, column types stay put."""
    from pyspark.sql import functions as F

    v1 = spark.range(5).select(F.col("id"), (F.col("id") * 2.0).alias("val"))
    v2 = spark.range(5, 10).select(
        F.col("id"), (F.col("id") * 2.0).alias("val"), F.lit("en").alias("lang")
    )
    engine.save(v1, "evolve", external_key="v1")
    engine.save(v2, "evolve", external_key="v2")
    full = engine.load("evolve")
    assert set(full.columns) == {"id", "val", "lang"}
    assert full.count() == 10
    old = engine.load("evolve", external_key="v1")
    assert old.filter(old.lang.isNull()).count() == 5
    new = engine.load("evolve", external_key="v2")
    assert new.filter(new.lang == "en").count() == 5


def test_schema_evolution_rejects_retyped_column(engine, spark):
    from pyspark.sql import functions as F
    import pytest as _pytest

    engine.save(spark.range(3).select(F.col("id"), F.lit(1.0).alias("x")), "retype")
    with _pytest.raises(ValueError, match="schema conflict"):
        engine.save(spark.range(3).select(F.col("id"), F.lit("s").alias("x")), "retype")


def test_delete_dataset_removes_data_and_listing(engine, spark, tmp_path):
    import os

    engine.save(spark.range(10), "doomed")
    path = engine._dataset_entry("doomed")["path"]
    assert os.path.exists(path)
    out = engine.delete_dataset("doomed")
    assert out["deleted"] is True
    assert not os.path.exists(path)
    assert "doomed" not in engine.list_datasets()["dataframes"]
    import pytest as _pytest
    from pandas_db_sdk_spark.engine import DatasetNotFound

    with _pytest.raises(DatasetNotFound):
        engine.load("doomed")


def test_load_is_read_committed(engine, spark, tmp_path):
    """Files from a save that died before its manifest commit must be
    invisible: load() returns only manifest-listed versions."""
    engine.save(spark.range(5), "rc", external_key="good")
    path = engine._dataset_entry("rc")["path"]
    # simulate the torn save: data lands, manifest never updated
    spark.range(100, 103).withColumn("__version", __import__("pyspark").sql.functions.lit("torn")) \
        .write.mode("append").partitionBy("__version").parquet(path)
    got = engine.load("rc")
    assert got.count() == 5
    assert engine.load("rc", external_key="good").count() == 5


def test_concurrent_writers_both_versions_survive(engine, spark):
    """Two simultaneous save() calls on the same dataset must not lose
    either writer's version entry (manifest read-modify-write is serialized
    by the flock in _manifest_lock; the reference is a multi-user service,
    README.md:23-26)."""
    import threading

    df = spark.range(50)
    errs = []

    def writer(label):
        try:
            engine.save(df, "race", external_key=label)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(f"v{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    versions = set(engine.list_datasets()["dataframes"]["race"]["versions"])
    assert versions == {"v0", "v1", "v2", "v3"}
    for v in versions:
        assert engine.load("race", external_key=v).count() == 50


def test_traversal_names_rejected(engine, spark):
    """'..' segments would turn delete_dataset into an arbitrary rmtree."""
    for bad in ("../escape", "a/../../b", ".", "..", "a/./b", ""):
        with pytest.raises(ValueError):
            engine.save(spark.range(3), bad)


def test_prefix_nested_datasets_coexist(engine, spark):
    """'a' and 'a/b' are distinct datasets: the __data leaf keeps b's files
    out of a's partition discovery (reference encourages hierarchical names,
    README.md:66-72)."""
    engine.save(spark.range(10).withColumn("src", F.lit("a")), "pfx")
    engine.save(spark.range(7).withColumn("src", F.lit("ab")), "pfx/child")
    assert engine.load("pfx").count() == 10
    assert engine.load("pfx/child").count() == 7
    # deleting the parent dataset leaves the nested one intact
    engine.delete_dataset("pfx")
    assert engine.load("pfx/child").count() == 7
    with pytest.raises(DatasetNotFound):
        engine.load("pfx")


def test_overwrite_version_is_replay_idempotent(engine, spark):
    """A retried epoch save (same version label) must replace, not append —
    the foreachBatch at-least-once crash-replay contract."""
    engine.save(spark.range(20), "replay", external_key="epoch_0", overwrite_version=True)
    # the retry: same label, same logical batch
    engine.save(spark.range(20), "replay", external_key="epoch_0", overwrite_version=True)
    assert engine.load("replay").count() == 20
    # plain append semantics still available for non-streaming use
    engine.save(spark.range(20), "replay2", external_key="k")
    engine.save(spark.range(20), "replay2", external_key="k")
    assert engine.load("replay2").count() == 40


def test_overwrite_tolerates_missing_version_dir(engine, spark):
    """Overwriting a committed label whose dir vanished from disk (the fsck
    'missing_versions' state) must land the staged tree, not abandon the
    write on FileNotFoundError — the recovery path for a replayed epoch
    after partial data loss."""
    import os
    import shutil as _sh

    engine.save(spark.range(7), "ghost", external_key="e0", overwrite_version=True)
    entry = engine._dataset_entry("ghost")
    vdir = None
    for d in os.listdir(entry["path"]):
        if "e0" in d:
            vdir = os.path.join(entry["path"], d)
    assert vdir is not None
    _sh.rmtree(vdir)
    engine.save(spark.range(9), "ghost", external_key="e0", overwrite_version=True)
    assert engine.load("ghost").count() == 9


def test_as_of_time_travel(engine, spark):
    """load(as_of=t) resolves the newest NOW-stamped version <= t."""
    engine.save(spark.range(10), "tt")          # clock → t1
    engine.save(spark.range(20), "tt")          # clock → t2
    v1, v2 = engine.list_datasets()["dataframes"]["tt"]["versions"]
    assert engine.load("tt", as_of=int(v1)).count() == 10
    assert engine.load("tt", as_of=int(v1) + 1).count() == 10
    assert engine.load("tt", as_of=int(v2)).count() == 20
    with pytest.raises(DatasetNotFound):
        engine.load("tt", as_of=int(v1) - 1)


def test_ref_layout_datasource_reads_chunk_tree(engine, spark, tmp_path):
    """The pandas_db_ref DataSource reads the reference's chunk-tree layout
    partition-parallel, injects the partition column, and prunes by value."""
    from pandas_db_sdk_spark import migrate, refsource

    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", float(i)) for i in range(1, 31)],
        "id long, dt string, amt double",
    )
    engine.save(df, "refsrc", columns_keys={"dt": "Date"})
    dest = str(tmp_path / "reftree")
    migrate.export_reference_layout(engine, "refsrc", dest)

    refsource.register(spark)
    got = spark.read.format("pandas_db_ref").option("path", dest).load()
    assert got.count() == 30
    assert "dt" in got.columns
    assert {r.dt for r in got.select("dt").distinct().collect()} == {
        "2024-01-01", "2024-01-02", "2024-01-03"
    }
    assert got.filter(got.id == 7).first().amt == 7.0
    # partition pruning via option: only that value's chunks become tasks
    one = (
        spark.read.format("pandas_db_ref")
        .option("path", dest)
        .option("partition_value", "2024-01-02")
        .load()
    )
    assert one.count() == df.filter(df.dt == "2024-01-02").count()


def test_checks_one_pass_and_assert_gate(spark):
    from pandas_db_sdk_spark import checks

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id long, v double"
    )
    out = {r.rule: (r.n_violations, r.pass_rate) for r in checks.check(
        df, {"v_positive": F.col("v") > 0, "id_set": F.col("id").isNotNull()}
    ).collect()}
    assert out["v_positive"] == (2, 0.333333)  # -1 fails, NULL counts as violation
    assert out["id_set"] == (0, 1.0)


def test_attach_checks_rides_the_write_job(engine, spark, tmp_path):
    """Observation-based checks: violation counts come out of the SAME job
    that writes the data — no second scan."""
    from pandas_db_sdk_spark import checks

    df = spark.createDataFrame([(1, 5.0), (2, -2.0), (3, 7.0)], "id long, v double")
    observed, results = checks.attach_checks(
        df, {"v_positive": F.col("v") > 0, "id_set": F.col("id").isNotNull()}
    )
    engine.save(observed, "observed_ds")
    got = results()
    assert got == {"v_positive": 1, "id_set": 0}
    assert engine.load("observed_ds").count() == 3


# ---------------------------------------------------------------- merge

# ---------------------------------------------------------------- sql

def test_sql_over_named_datasets(engine, spark, sample):
    engine.save(sample, "sqlns/orders")
    engine.save(sample.select("id", "name"), "sqlns/names")
    out = engine.sql(
        """SELECT o.id, o.amt, n.name
           FROM orders o JOIN names n ON o.id = n.id
           WHERE o.amt > 10 ORDER BY o.id""",
        datasets={"orders": "sqlns/orders", "names": "sqlns/names"},
    )
    rows = out.collect()
    assert all(r.amt > 10 for r in rows)
    assert rows[0].name == f"name_{rows[0].id}"


def test_sql_default_registers_all_with_sanitized_names(engine, sample):
    engine.save(sample, "a/b")
    got = engine.sql("SELECT count(*) AS n FROM a_b").first()
    assert got.n == 20


def test_sql_use_last_pins_latest_version(engine, spark, sample):
    engine.save(sample, "v/t", external_key="v1")
    engine.save(sample.limit(5), "v/t", external_key="v2")
    all_rows = engine.sql("SELECT count(*) AS n FROM v_t").first().n
    latest = engine.sql("SELECT count(*) AS n FROM v_t", use_last=True).first().n
    assert all_rows == 25 and latest == 5


def test_sql_sanitized_view_collision_raises(engine, sample):
    """'a/b' and 'a_b' sanitize to the same view name — the default
    registration must refuse rather than silently keep whichever
    registered last (a query could read the WRONG dataset)."""
    engine.save(sample, "col/l")
    engine.save(sample.limit(3), "col_l")
    with pytest.raises(ValueError, match="col_l"):
        engine.sql("SELECT count(*) AS n FROM col_l")
    # an explicit mapping disambiguates
    got = engine.sql(
        "SELECT count(*) AS n FROM t", datasets={"t": "col_l"}
    ).first()
    assert got.n == 3


def test_now_version_unique_under_frozen_clock(spark, tmp_path):
    """Two 'NOW' saves inside one clock tick must get DISTINCT version
    labels: label reuse would append the second save into the first's
    version dir (duplication keep_last can never prune)."""
    frozen = lambda: 1_700_000_000_000
    eng = DataFrameEngine(spark, str(tmp_path / "whf"), clock=frozen)
    eng.save(spark.range(5), "froz")
    eng.save(spark.range(7), "froz")
    ds = eng.list_datasets()["dataframes"]["froz"]
    assert len(ds["versions"]) == 2
    assert len(set(ds["versions"])) == 2
    assert eng.load("froz", use_last=True).count() == 7
    assert eng.load("froz").count() == 12


# ---------------------------------------------------------------- DML quartet


def test_list_datasets_pagination(engine, spark):
    for i in range(7):
        engine.save(spark.range(2), f"pg/d{i}")
    full = engine.list_datasets(prefix="pg/")
    assert full["count"] == 7 and full["returned"] == 7
    page = engine.list_datasets(prefix="pg/", limit=3, offset=2)
    assert page["count"] == 7 and page["returned"] == 3
    assert list(page["dataframes"]) == ["pg/d2", "pg/d3", "pg/d4"]
    tail = engine.list_datasets(prefix="pg/", limit=10, offset=5)
    assert list(tail["dataframes"]) == ["pg/d5", "pg/d6"]


def test_describe_dataset_per_version_stats(engine, spark):
    """DESCRIBE: per-version file/byte/row stats from footers + listing.
    Two saves → two versions with the right row counts; schema and
    partition keys surface; totals add up."""
    df = spark.range(10).withColumnRenamed("id", "k")
    engine.save(df, "desc/t", external_key="v1")
    engine.save(spark.range(4).withColumnRenamed("id", "k"), "desc/t", external_key="v2")
    d = engine.describe_dataset("desc/t")
    assert d["name"] == "desc/t" and d["latest"] == "v2"
    by_v = {v["version"]: v for v in d["versions"]}
    assert by_v["v1"]["n_rows"] == 10 and by_v["v2"]["n_rows"] == 4
    assert all(v["n_files"] >= 1 and v["n_bytes"] > 0 for v in d["versions"])
    assert d["total_rows"] == 14
    assert [f["name"] for f in d["schema"]["fields"]] == ["k"]

    import pytest as _pytest
    from pandas_db_sdk_spark.engine import DatasetNotFound

    with _pytest.raises(DatasetNotFound):
        engine.describe_dataset("desc/absent")


def test_crash_between_write_and_commit_leaves_dataset_consistent(spark, tmp_path):
    """Durability ordering: parquet files land BEFORE the manifest commit,
    so a crash in between must leave (a) the previous version fully
    readable via use_last, (b) the orphaned half-written version invisible
    to loads, and (c) a clean retry able to commit normally."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine

    clock = iter(range(1000, 1010)).__next__
    eng = DataFrameEngine(spark, str(tmp_path / "wh"), clock=clock)
    df1 = spark.range(10).select(F.col("id").alias("v"))
    eng.save(df1, "ds")

    # simulate a crash after the parquet write, before the manifest commit
    real_lock = eng._manifest_lock

    def boom():
        raise RuntimeError("simulated crash before manifest commit")

    eng._manifest_lock = boom
    df2 = spark.range(20).select(F.col("id").alias("v"))
    try:
        eng.save(df2, "ds")
    except RuntimeError:
        pass
    eng._manifest_lock = real_lock

    # (a)+(b): latest load sees ONLY the committed version
    assert eng.load("ds", use_last=True).count() == 10
    assert eng.list_datasets()["count"] == 1
    # (c): a retry commits cleanly and becomes the new latest
    eng.save(df2, "ds")
    assert eng.load("ds", use_last=True).count() == 20


def test_save_records_provenance_in_describe(spark, tmp_path):
    """Every committed version carries bounded provenance: source file
    count + sample (metadata-only) and the canonicalized-plan fingerprint
    — the 'where did this version come from' audit the reference SDK
    never had."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    clock = iter(range(2000, 2010)).__next__
    eng = DataFrameEngine(spark, str(tmp_path / "wh"), clock=clock)
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    eng.save(src, "p1")
    eng.save(spark.range(5), "p2")  # synthesized frame: no input files

    v1 = eng.describe_dataset("p1")["versions"][0]["provenance"]
    assert v1["n_input_files"] == 1
    assert v1["input_sample"][0].endswith("nation.parquet")
    assert isinstance(v1["plan_hash"], int)

    v2 = eng.describe_dataset("p2")["versions"][0]["provenance"]
    assert v2["n_input_files"] == 0 and v2["input_sample"] == []


def test_retry_after_crash_never_reuses_orphan_version_dir(spark, tmp_path):
    """A crashed save leaves an uncommitted __version= dir; a retry whose
    clock returns the SAME tick must bump past it — appending into the
    orphan would commit its half-written rows alongside the retry's."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine

    # clock deliberately returns 3000 twice (crash + immediate retry)
    ticks = iter([3000, 3000, 3001, 3002]).__next__
    eng = DataFrameEngine(spark, str(tmp_path / "wh"), clock=ticks)
    eng.save(spark.range(5).select(F.col("id").alias("v")), "ds")  # v3000

    real_lock = eng._manifest_lock
    eng._manifest_lock = lambda: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        eng.save(spark.range(7).select(F.col("id").alias("v")), "ds")  # orphan
    except RuntimeError:
        pass
    eng._manifest_lock = real_lock

    eng.save(spark.range(9).select(F.col("id").alias("v")), "ds")
    assert eng.load("ds", use_last=True).count() == 9  # not 7+9, not orphan


def test_fsck_reports_and_repairs_orphans(spark, tmp_path):
    """fsck surfaces crash leftovers (orphan version dirs, stale
    provenance) and repair removes them without touching committed data."""
    import os

    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.engine import DataFrameEngine

    ticks = iter(range(4000, 4010)).__next__
    eng = DataFrameEngine(spark, str(tmp_path / "wh"), clock=ticks)
    eng.save(spark.range(6).select(F.col("id").alias("v")), "ds")

    real_lock = eng._manifest_lock
    eng._manifest_lock = lambda: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        eng.save(spark.range(8).select(F.col("id").alias("v")), "ds")
    except RuntimeError:
        pass
    eng._manifest_lock = real_lock

    rep = eng.fsck("ds")["ds"]
    assert rep["orphan_versions"] == ["4001"]
    assert rep["missing_versions"] == []

    # a young orphan is reported but NOT deleted (could be a live writer)
    rep = eng.fsck("ds", repair=True)["ds"]
    assert rep["orphan_versions"] == ["4001"] and rep["repaired"] == []
    ds_path = eng._dataset_entry("ds")["path"]
    assert os.path.isdir(os.path.join(ds_path, "__version=4001"))

    # past the grace period it is removed
    rep = eng.fsck("ds", repair=True, min_age_seconds=0)["ds"]
    assert rep["repaired"] == ["4001"]
    # orphan dir gone, committed data untouched, clean bill on re-check
    assert not os.path.isdir(os.path.join(ds_path, "__version=4001"))
    assert eng.load("ds", use_last=True).count() == 6
    assert eng.fsck("ds")["ds"]["orphan_versions"] == []


def test_save_expectations_gate_commit(spark, tmp_path):
    """save(expectations=...): counters ride the write job (observe — no
    extra scan); a violation deletes the staged version dir and raises
    BEFORE the manifest commit, so readers never see the bad version and
    a later valid save works normally."""
    import os

    from pandas_db_sdk_spark.engine import DataFrameEngine, DataQualityError, DatasetNotFound

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    bad = spark.range(10).selectExpr("id", "CASE WHEN id > 6 THEN NULL ELSE id * 2 END AS v")
    with pytest.raises(DataQualityError, match="v_not_null \\(3 rows\\)"):
        eng.save(bad, "gated", expectations={"v_not_null": "v IS NOT NULL"})
    with pytest.raises(DatasetNotFound):
        eng.load("gated")
    # staged files cleaned up — fsck sees nothing to repair
    good = spark.range(10).selectExpr("id", "id * 2 AS v")
    eng.save(good, "gated", expectations={"v_not_null": "v IS NOT NULL", "v_even": "v % 2 = 0"})
    assert eng.load("gated").count() == 10
    assert eng.fsck("gated")["gated"]["orphan_versions"] == []


def test_sql_version_pinning(spark, tmp_path):
    """sql(versions=...) — the VERSION AS OF analogue: a pinned view reads
    exactly that version, an unpinned one follows use_last, and an unknown
    view name errors instead of being silently ignored."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(spark.range(3).selectExpr("id", "'a' AS tag"), "tt", external_key="v1")
    eng.save(spark.range(5).selectExpr("id", "'b' AS tag"), "tt", external_key="v2")
    got = eng.sql(
        "SELECT count(*) AS n FROM t", datasets={"t": "tt"}, versions={"t": "v1"}
    ).first()
    assert got.n == 3
    latest = eng.sql(
        "SELECT count(*) AS n FROM t", datasets={"t": "tt"}, use_last=True
    ).first()
    assert latest.n == 5
    both = eng.sql("SELECT count(*) AS n FROM t", datasets={"t": "tt"}).first()
    assert both.n == 8
    with pytest.raises(ValueError, match="unregistered"):
        eng.sql("SELECT 1", datasets={"t": "tt"}, versions={"nope": "v1"})


def test_concurrent_now_saves_get_distinct_versions(spark, tmp_path):
    """ADVICE r4 #1: two truly concurrent NOW-saves with a FROZEN clock
    (every call returns the same tick) must still commit two distinct
    versions with no duplicated rows — the mkdir reservation is the only
    thing separating them, since the manifest can't see an uncommitted
    writer."""
    import threading

    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"), clock=lambda: 12345)
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    eng.save(df, "race")  # create the dataset so both racers append

    errs = []

    def racer():
        try:
            eng.save(df, "race")
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=racer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    versions = eng.describe_dataset("race")["versions"]
    labels = [v["version"] for v in versions]
    assert len(labels) == 5 and len(set(labels)) == 5, labels
    assert eng.load("race").count() == 250  # 5 versions x 50 rows, none doubled


def test_restore_and_retain_last(spark, tmp_path):
    """restore: an old version's rows re-commit as the new latest (history
    intact, unknown version errors); retain_last: only the newest n
    versions survive on disk AND in the manifest, and the data of pruned
    versions is gone while the kept ones still read."""
    from pandas_db_sdk_spark.engine import DataFrameEngine, DatasetNotFound

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    for i, n in enumerate((3, 5, 7)):
        eng.save(spark.range(n).selectExpr("id"), "r", external_key=f"v{i}")
    eng.restore("r", "v0", new_key="rollback")
    assert eng.load("r", use_last=True).count() == 3  # v0's rows are latest again
    assert eng.load("r").count() == 3 + 5 + 7 + 3      # history intact
    with pytest.raises(DatasetNotFound):
        eng.restore("r", "nope")

    report = eng.retain_last("r", 2)
    assert report["deleted_versions"] == ["v0", "v1"]
    desc = eng.describe_dataset("r")
    assert [v["version"] for v in desc["versions"]] == ["v2", "rollback"]
    assert eng.load("r").count() == 7 + 3
    assert eng.load("r", use_last=True).count() == 3
    assert eng.fsck("r")["r"]["orphan_versions"] == []


def test_fsck_orphan_age_uses_tree_mtime(spark, tmp_path):
    """ADVICE r4 #2: a live save writing into nested __p_* partition
    subdirs doesn't refresh the top version dir's mtime — fsck must age an
    orphan by the NEWEST mtime in its tree, so an old-looking dir with a
    fresh nested file survives repair while a genuinely old orphan goes."""
    import os
    import time as _t

    from pandas_db_sdk_spark.engine import DataFrameEngine, VERSION_COL

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(spark.range(5).selectExpr("id"), "fs", external_key="v1")
    path = eng._dataset_entry("fs")["path"]

    live = os.path.join(path, f"{VERSION_COL}=inflight")
    os.makedirs(os.path.join(live, "__p_d=2024-01-01"))
    with open(os.path.join(live, "__p_d=2024-01-01", "part-0.parquet"), "w") as f:
        f.write("x")  # fresh nested write
    old = _t.time() - 7200
    os.utime(live, (old, old))  # top dir looks 2h old

    dead = os.path.join(path, f"{VERSION_COL}=dead")
    os.makedirs(dead)
    os.utime(dead, (old, old))

    report = eng.fsck("fs", repair=True, min_age_seconds=3600)["fs"]
    assert "dead" in report["repaired"]
    assert "inflight" not in report["repaired"]
    assert os.path.isdir(live) and not os.path.isdir(dead)


def test_overwrite_failed_expectations_keeps_committed_version(spark, tmp_path):
    """ADVICE r5 (medium): overwrite_version=True on an ALREADY-COMMITTED
    label must stage the rewrite aside — a failing expectations gate (or
    any abort) leaves the committed tree byte-identical and readable, so
    'a failed save is invisible to readers' holds for overwrites too."""
    import os

    from pandas_db_sdk_spark.engine import DataFrameEngine, DataQualityError

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    good = spark.range(10).selectExpr("id", "id * 2 AS v")
    eng.save(good, "ow", external_key="epoch_0")
    bad = spark.range(4).selectExpr("id", "CAST(NULL AS BIGINT) AS v")
    with pytest.raises(DataQualityError, match="v_not_null"):
        eng.save(
            bad,
            "ow",
            external_key="epoch_0",
            overwrite_version=True,
            expectations={"v_not_null": "v IS NOT NULL"},
        )
    # the committed version survived the aborted overwrite, values intact
    got = eng.load("ow")
    assert got.count() == 10
    assert got.agg({"v": "sum"}).collect()[0][0] == 90
    # no hidden stage/retired debris left behind
    ds_path = eng._dataset_entry("ow")["path"]
    assert [n for n in os.listdir(ds_path) if n.startswith(".__")] == []
    # a clean retry of the overwrite still replaces the version
    eng.save(
        spark.range(3).selectExpr("id", "id AS v"),
        "ow",
        external_key="epoch_0",
        overwrite_version=True,
        expectations={"v_not_null": "v IS NOT NULL"},
    )
    assert eng.load("ow").count() == 3


def test_fsck_reaps_stale_staging_dirs(spark, tmp_path):
    """A crash mid-overwrite can leave hidden .__stage-/.__retired- trees;
    fsck reports them and repair reaps them under the same age guard as
    orphan versions (young trees are kept — they may be a live writer)."""
    import os

    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(spark.range(5), "stg", external_key="v1")
    ds_path = eng._dataset_entry("stg")["path"]
    fake = os.path.join(ds_path, ".__stage-__version=v1-deadbeef0000")
    os.makedirs(fake)
    with open(os.path.join(fake, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    rep = eng.fsck("stg")["stg"]
    assert rep["stale_staging"] == [".__stage-__version=v1-deadbeef0000"]
    # too young to reap
    rep = eng.fsck("stg", repair=True, min_age_seconds=3600)["stg"]
    assert os.path.isdir(fake)
    # old enough
    rep = eng.fsck("stg", repair=True, min_age_seconds=0.0)["stg"]
    assert not os.path.isdir(fake)
    assert eng.load("stg").count() == 5


# ---------------------------------------------------------- incremental rollups


def test_rollup_incremental_matches_full_recompute(engine, spark):
    """The materialized-view contract: after any append sequence,
    read_rollup == the full groupBy over everything — while each refresh
    only ever aggregated the NEW versions."""
    df1 = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)], "k string, n long, v double"
    )
    df2 = spark.createDataFrame(
        [("a", 5, 1.5), ("c", 7, 70.0)], "k string, n long, v double"
    )
    df3 = spark.createDataFrame(
        [("b", 0, -5.0), ("c", 9, 0.25)], "k string, n long, v double"
    )
    engine.save(df1, "facts")
    engine.define_rollup(
        "facts_by_k",
        "facts",
        ["k"],
        {
            "n_rows": ("count", None),
            "sum_v": ("sum", "v"),
            "min_n": ("min", "n"),
            "max_n": ("max", "n"),
            "avg_v": ("avg", "v"),
        },
    )
    r1 = engine.refresh_rollup("facts_by_k")
    assert len(r1["refreshed_versions"]) == 1
    engine.save(df2, "facts")
    engine.save(df3, "facts")
    r2 = engine.refresh_rollup("facts_by_k")
    assert len(r2["refreshed_versions"]) == 2

    got = {
        r["k"]: r.asDict() for r in engine.read_rollup("facts_by_k").collect()
    }
    full = {
        r["k"]: r.asDict()
        for r in engine.load("facts")
        .groupBy("k")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("v").alias("sum_v"),
            F.min("n").alias("min_n"),
            F.max("n").alias("max_n"),
            F.avg("v").alias("avg_v"),
        )
        .collect()
    }
    assert set(got) == set(full) == {"a", "b", "c"}
    for k in full:
        assert got[k]["n_rows"] == full[k]["n_rows"]
        assert got[k]["min_n"] == full[k]["min_n"]
        assert got[k]["max_n"] == full[k]["max_n"]
        assert abs(got[k]["sum_v"] - full[k]["sum_v"]) < 1e-9
        assert abs(got[k]["avg_v"] - full[k]["avg_v"]) < 1e-9

    # idempotent: nothing new -> no-op, state unchanged
    r3 = engine.refresh_rollup("facts_by_k")
    assert r3["refreshed_versions"] == []
    assert r3["state_version"] == r2["state_version"]


def test_rollup_avg_skips_nulls(engine, spark):
    """avg state counts NON-NULL values (SQL AVG), not rows: a group with
    nulls divides by count(col); an all-null group reads back NULL. The
    standalone count aggregate stays count(*) by design."""
    df1 = spark.createDataFrame(
        [("a", 10.0), ("a", None), ("n", None)], "k string, v double"
    )
    df2 = spark.createDataFrame(
        [("a", 20.0), ("a", None), ("n", None)], "k string, v double"
    )
    engine.save(df1, "nullfacts")
    engine.define_rollup(
        "nullfacts_by_k",
        "nullfacts",
        ["k"],
        {"n_rows": ("count", None), "avg_v": ("avg", "v")},
    )
    engine.refresh_rollup("nullfacts_by_k")
    engine.save(df2, "nullfacts")
    engine.refresh_rollup("nullfacts_by_k")
    got = {
        r["k"]: r.asDict() for r in engine.read_rollup("nullfacts_by_k").collect()
    }
    assert got["a"]["n_rows"] == 4 and got["n"]["n_rows"] == 2
    assert abs(got["a"]["avg_v"] - 15.0) < 1e-12  # 30 / 2, not 30 / 4
    assert got["n"]["avg_v"] is None  # all-null group: SQL AVG is NULL


def test_rollup_refresh_scans_only_new_versions(engine, spark):
    """The 100 TB property: the refresh's source scan is partition-pruned
    to the unprocessed version dirs — appending to a large corpus must not
    rescan it."""
    big = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    )
    engine.save(big, "corpus")
    engine.define_rollup("corpus_by_k", "corpus", ["k"], {"s": ("sum", "v")})
    engine.refresh_rollup("corpus_by_k")
    engine.save(
        spark.createDataFrame([(1, 5.0)], "k long, v double"), "corpus"
    )
    spec = engine._rollup_spec("corpus_by_k")
    src = engine._dataset_entry("corpus")
    new = [str(v) for v in src["versions"] if str(v) not in set(spec["processed"])]
    assert len(new) == 1
    pruned = engine.load("corpus", drop_internal=False).filter(
        F.col("__version").isin(new)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__version" in pf  # the scan prunes to the new version dirs
    engine.refresh_rollup("corpus_by_k")
    got = {r["k"]: r["s"] for r in engine.read_rollup("corpus_by_k").collect()}
    want = {
        r["k"]: r["s"]
        for r in engine.load("corpus").groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_rollup_validation_and_crash_semantics(engine, spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    engine.save(df, "src_ds")
    with pytest.raises(DatasetNotFound):
        engine.define_rollup("r", "missing_src", ["k"], {"s": ("sum", "v")})
    with pytest.raises(ValueError):
        engine.define_rollup("r", "src_ds", ["nope"], {"s": ("sum", "v")})
    with pytest.raises(ValueError):
        engine.define_rollup("r", "src_ds", ["k"], {"s": ("median", "v")})
    with pytest.raises(ValueError):
        engine.define_rollup("r", "src_ds", ["k"], {"s": ("sum", "nope")})
    with pytest.raises(ValueError):
        engine.define_rollup("src_ds", "src_ds", ["k"], {"s": ("sum", "v")})
    engine.define_rollup("r", "src_ds", ["k"], {"s": ("sum", "v")})
    with pytest.raises(ValueError):  # duplicate definition
        engine.define_rollup("r", "src_ds", ["k"], {"s": ("sum", "v")})
    with pytest.raises(DatasetNotFound):
        engine.refresh_rollup("undefined_rollup")
    with pytest.raises(ValueError):  # never refreshed
        engine.read_rollup("r")
    # orphan-state crash: a state version written but spec not updated is
    # invisible and the next refresh redoes the merge from the old base
    engine.refresh_rollup("r")
    spec_before = engine._rollup_spec("r")
    engine.save(spark.createDataFrame([("b", 2.0)], "k string, v double"), "src_ds")
    # simulate the crash window: save state, then die before spec update —
    # by snapshotting the manifest and restoring it post-refresh
    import json as _json

    with open(engine._manifest_path) as fh:
        manifest_snapshot = fh.read()
    engine.refresh_rollup("r")
    m = _json.loads(manifest_snapshot)
    m["datasets"] = engine._read_manifest()["datasets"]  # keep the orphan version
    engine._write_manifest(m)
    assert engine._rollup_spec("r")["state_version"] == spec_before["state_version"]
    # retry converges to the correct totals, never double-counted
    engine.refresh_rollup("r")
    got = {r["k"]: r["s"] for r in engine.read_rollup("r").collect()}
    assert got == {"a": 1.0, "b": 2.0}


# ------------------------------------------------------------------ saved views


def test_rollup_approx_distinct_is_mergeable_sketch_state(engine, spark):
    """approx_distinct rollup state is a datasketches HLL sketch: each
    refresh unions the NEW versions' sketches into the stored state, and
    the estimate matches the exact distinct over everything (HLL is exact
    for small cardinalities) — the incremental distinct-count dashboard
    an exact aggregate cannot maintain without keeping the key domain."""
    df1 = spark.createDataFrame(
        [("a", i % 7) for i in range(50)], "k string, u long"
    )
    df2 = spark.createDataFrame(
        [("a", i % 13) for i in range(50)] + [("b", i) for i in range(9)],
        "k string, u long",
    )
    engine.save(df1, "visits")
    engine.define_rollup(
        "visits_by_k", "visits", ["k"],
        {"n_rows": ("count", None), "uniq_u": ("approx_distinct", "u")},
    )
    engine.refresh_rollup("visits_by_k")
    engine.save(df2, "visits")
    engine.refresh_rollup("visits_by_k")
    got = {
        r["k"]: r.asDict() for r in engine.read_rollup("visits_by_k").collect()
    }
    # exact at these cardinalities: a = {0..12} = 13, b = {0..8} = 9
    assert got["a"]["uniq_u"] == 13 and got["a"]["n_rows"] == 100
    assert got["b"]["uniq_u"] == 9 and got["b"]["n_rows"] == 9


def test_rollup_state_format_mismatch_forces_full_recompute(engine, spark):
    """ADVICE r7: avg's denominator moved count(*) -> count(col) between
    state formats; merging an old-format state with new increments would
    mix denominators. A spec stamped with an older (or missing, for
    pre-stamp manifests) state_format must trigger a FULL recompute on
    the next refresh — and come out with correct SQL-AVG semantics."""
    df1 = spark.createDataFrame(
        [("a", 10.0), ("a", None)], "k string, v double"
    )
    df2 = spark.createDataFrame(
        [("a", 20.0), ("a", None)], "k string, v double"
    )
    engine.save(df1, "fmtfacts")
    engine.define_rollup(
        "fmtfacts_by_k", "fmtfacts", ["k"], {"avg_v": ("avg", "v")}
    )
    spec = engine._rollup_spec("fmtfacts_by_k")
    assert spec["state_format"] == engine._ROLLUP_STATE_FORMAT
    engine.refresh_rollup("fmtfacts_by_k")

    # Simulate a state written by format-1 code: count(*) denominator,
    # and a spec that predates the stamp entirely.
    old = engine.load(
        "fmtfacts_by_k", external_key=engine._rollup_spec("fmtfacts_by_k")["state_version"]
    )
    from pyspark.sql import functions as F

    corrupted = old.withColumn(
        "__s_avg_v_cnt", F.lit(2).cast("long")  # count(*) counted the null
    )
    info = engine.save(corrupted, "fmtfacts_by_k")
    with engine._manifest_lock():
        m = engine._read_manifest()
        live = m["rollups"]["fmtfacts_by_k"]
        live["state_version"] = str(info["version"])
        del live["state_format"]  # pre-stamp manifest
        engine._write_manifest(m)

    # Without migration this refresh would merge cnt=2 (count(*)) with
    # cnt=1 (count(col)) -> avg 30/3 = 10. With migration: 30/2 = 15.
    engine.save(df2, "fmtfacts")
    out = engine.refresh_rollup("fmtfacts_by_k")
    assert len(out["refreshed_versions"]) == 2  # full recompute, both versions
    spec = engine._rollup_spec("fmtfacts_by_k")
    assert spec["state_format"] == engine._ROLLUP_STATE_FORMAT
    got = {r["k"]: r["avg_v"] for r in engine.read_rollup("fmtfacts_by_k").collect()}
    assert abs(got["a"] - 15.0) < 1e-12


def test_rollup_migrate_with_no_source_versions_discards_stale_state(engine, spark):
    """ADVICE r8: the state-format migration path used to return early
    when the source had no visible versions (e.g. all retired), leaving
    read_rollup serving old-format state indefinitely — it must instead
    discard the stale state and stamp the spec."""
    import pytest as _pytest

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    engine.save(df, "mignov")
    engine.define_rollup("mignov_by_k", "mignov", ["k"], {"n": ("count", None)})
    engine.refresh_rollup("mignov_by_k")

    # simulate: pre-stamp spec + every source version retired
    with engine._manifest_lock():
        m = engine._read_manifest()
        del m["rollups"]["mignov_by_k"]["state_format"]
        m["datasets"]["mignov"]["versions"] = []
        engine._write_manifest(m)

    out = engine.refresh_rollup("mignov_by_k")
    assert out == {"refreshed_versions": [], "state_version": None}
    spec = engine._rollup_spec("mignov_by_k")
    assert spec["state_format"] == engine._ROLLUP_STATE_FORMAT
    assert spec["state_version"] is None and spec["processed"] == []
    with _pytest.raises(ValueError, match="never been refreshed"):
        engine.read_rollup("mignov_by_k")


def test_branch_dataset_zero_copy_fork_and_isolation(spark, tmp_path):
    """r11 branching contract: the branch starts with every source
    version (load parity), then the two evolve independently — a save on
    the branch never appears on main, and RETENTION ON MAIN cannot
    corrupt the branch (hardlinked inodes outlive the source's directory
    entries). Lineage is recorded; double-branch raises."""
    import pytest as _pytest

    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    eng.save(df1, "main/ds", external_key="v1")
    eng.save(df2, "main/ds", external_key="v2")

    info = eng.branch_dataset("main/ds", "exp/ds")
    assert info["versions"] == ["v1", "v2"]

    # load parity at the fork point, per version and latest
    assert {r.id for r in eng.load("exp/ds", use_last=True).collect()} == {3}
    assert {r.id for r in eng.load("exp/ds", external_key="v1").collect()} == {1, 2}

    # divergence: branch save invisible on main and vice versa
    eng.save(spark.createDataFrame([(9, "z")], "id long, v string"),
             "exp/ds", external_key="v3")
    eng.save(spark.createDataFrame([(7, "m")], "id long, v string"),
             "main/ds", external_key="m3")
    assert {r.id for r in eng.load("exp/ds", use_last=True).collect()} == {9}
    assert {r.id for r in eng.load("main/ds", use_last=True).collect()} == {7}
    # full-history reads diverge too: m3 only on main, v3 only on branch
    assert {r.id for r in eng.load("exp/ds").collect()} == {1, 2, 3, 9}
    assert {r.id for r in eng.load("main/ds").collect()} == {1, 2, 3, 7}
    listing = eng.list_datasets()["dataframes"]
    assert "v3" not in listing["main/ds"]["versions"]
    assert "m3" not in listing["exp/ds"]["versions"]

    # retention on main deletes its v1/v2 dirs; the branch still reads them
    eng.retain_last("main/ds", 1)
    assert {r.id for r in eng.load("exp/ds", external_key="v1").collect()} == {1, 2}
    assert {r.id for r in eng.load("exp/ds", external_key="v2").collect()} == {3}

    # lineage recorded; name collision refused
    desc = eng.describe_dataset("exp/ds")
    assert desc["branched_from"]["source"] == "main/ds"
    assert eng.describe_dataset("main/ds")["branched_from"] is None
    with _pytest.raises(ValueError, match="already exists"):
        eng.branch_dataset("main/ds", "exp/ds")


def test_branch_dataset_retry_after_crash_mid_link(spark, tmp_path):
    """ADVICE r11 (low): a retry after a crash between hardlinking and
    the manifest commit must be idempotent — the first attempt's links
    are already on disk (FileExistsError from os.link), and the old
    OSError fallback's shutil.copy2 onto a path that is already a
    hardlink of the source raised SameFileError, leaving orphan files
    and a failed branch.  The crash is simulated by pre-linking part of
    the source tree into the branch directory (exactly the on-disk
    state a mid-branch crash leaves), then calling branch_dataset."""
    import os

    from pandas_db_sdk_spark.engine import VERSION_COL, DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "m2", external_key="v1",
    )
    src = eng._dataset_path("m2")
    dst = eng._dataset_path("f2")
    # first attempt "crashed" after linking some files, before manifest
    vdir = f"{VERSION_COL}=v1"
    for root, _dirs, files in os.walk(os.path.join(src, vdir)):
        rel = os.path.relpath(root, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for fn in files:
            os.link(os.path.join(root, fn), os.path.join(dst, rel, fn))
        break  # partial: only the top level of the version tree

    info = eng.branch_dataset("m2", "f2")  # retry must succeed
    assert info["versions"] == ["v1"]
    assert {r.id for r in eng.load("f2").collect()} == {1, 2}


def test_branch_dataset_retry_replaces_truncated_copy(spark, tmp_path):
    """ADVICE r12 (low): a prior attempt that fell back to shutil.copy2
    (cross-device warehouse) and crashed MID-COPY leaves a truncated
    destination file; the retry's os.link raises FileExistsError and
    must NOT keep the short file — it verifies inode/size and redoes
    the transfer."""
    import os

    from pandas_db_sdk_spark.engine import VERSION_COL, DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "m3", external_key="v1",
    )
    src = eng._dataset_path("m3")
    dst = eng._dataset_path("f3")
    vdir = f"{VERSION_COL}=v1"
    # simulate the crashed copy: every file exists at dst but truncated
    for root, _dirs, files in os.walk(os.path.join(src, vdir)):
        rel = os.path.relpath(root, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for fn in files:
            with open(os.path.join(root, fn), "rb") as fh:
                head = fh.read(max(1, os.path.getsize(fh.name) // 2))
            with open(os.path.join(dst, rel, fn), "wb") as fh:
                fh.write(head)

    info = eng.branch_dataset("m3", "f3")  # retry must heal the files
    assert info["versions"] == ["v1"]
    assert {r.id for r in eng.load("f3").collect()} == {1, 2}
    for root, _dirs, files in os.walk(os.path.join(src, vdir)):
        rel = os.path.relpath(root, src)
        for fn in files:
            assert os.path.getsize(os.path.join(dst, rel, fn)) == \
                os.path.getsize(os.path.join(root, fn))


def test_branch_card_lineage_and_retention_deltas(spark, tmp_path):
    """r12 branching trio queryability (VERDICT r11 #8): branch_card
    labels fork-inherited versions at_fork=1, branch-grown versions
    post_fork=1, non-branch datasets all-zero with NULL lineage; row
    counts track each version; retention on main never perturbs the
    branch's card (the hardlink isolation, now visible in the audit
    surface)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(
        spark.createDataFrame([(i, "a") for i in range(4)], "id long, v string"),
        "m", external_key="v1",
    )
    eng.save(
        spark.createDataFrame([(9, "b")], "id long, v string"),
        "m", external_key="v2",
    )
    eng.branch_dataset("m", "f")
    eng.save(
        spark.createDataFrame([(7, "c"), (8, "c")], "id long, v string"),
        "f", external_key="b3",
    )

    card_m = {
        r.version: (r.n_rows, r.branched_from, r.at_fork, r.post_fork)
        for r in eng.branch_card("m").collect()
    }
    assert card_m == {"v1": (4, None, 0, 0), "v2": (1, None, 0, 0)}
    card_f = {
        r.version: (r.n_rows, r.branched_from, r.at_fork, r.post_fork)
        for r in eng.branch_card("f").collect()
    }
    assert card_f == {
        "v1": (4, "m", 1, 0),
        "v2": (1, "m", 1, 0),
        "b3": (2, "m", 0, 1),
    }

    # retention on main deletes its fork-point dirs; the branch card
    # still counts them (hardlinked inodes survive)
    eng.retain_last("m", 1)
    card_f2 = {
        r.version: r.n_rows for r in eng.branch_card("f").collect()
    }
    assert card_f2 == {"v1": 4, "v2": 1, "b3": 2}


def test_schema_history_tracks_adds_and_removes(spark, tmp_path):
    """r12 schema-evolution card: per-version add/remove diffs from
    parquet footers, internal columns excluded, first version reported
    as all-added; partitioned datasets include their partition-source
    columns but never the __p_* internals."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        "ds", external_key="v1",
    )
    eng.save(
        spark.createDataFrame([(2, "b", 1.5)], "id long, v string, w double"),
        "ds", external_key="v2",
    )
    eng.save(
        spark.createDataFrame([(3, 2.5)], "id long, w double"),
        "ds", external_key="v3",
    )
    got = {
        r.version: (r.n_columns, r.added, r.removed)
        for r in eng.schema_history("ds").collect()
    }
    assert got == {
        "v1": (2, "id,v", ""),
        "v2": (3, "w", ""),
        "v3": (2, "", "v"),
    }

    # partitioned dataset: user columns only, no __p_* leakage
    eng.save(
        spark.createDataFrame([(1, 5)], "id long, b long"),
        "pds", columns_keys={"b": "ID"}, external_key="p1",
    )
    row = eng.schema_history("pds").collect()[0]
    assert row.added == "b,id" and "__p_" not in row.added


# ---------------------------------------------------------------- crash safety
#
# Retention and deletion commit the manifest first and remove files after
# it: a crash at the manifest write must leave every committed row readable.


def _crash_at(monkeypatch, attr):
    def crash(*_args, **_kwargs):
        raise RuntimeError(f"crash at {attr}")

    monkeypatch.setattr(DataFrameEngine, attr, staticmethod(crash))


def test_keep_last_crash_at_commit_keeps_before_state(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    eng = DataFrameEngine(spark, wh)
    eng.save(spark.range(3), "ds", external_key="v0")
    eng.save(spark.range(5), "ds", external_key="v1")
    with monkeypatch.context() as m:
        _crash_at(m, "_write_manifest")
        with pytest.raises(RuntimeError):
            eng.save(spark.range(7), "ds", external_key="v2", keep_last=True)

    fresh = DataFrameEngine(spark, wh)
    assert fresh.load("ds").count() == 3 + 5
    rep = fresh.fsck("ds", min_age_seconds=0)["ds"]
    assert rep["orphan_versions"] == ["v2"] and rep["missing_versions"] == []
    assert fresh.fsck("ds", repair=True, min_age_seconds=0)["ds"]["repaired"] == ["v2"]
    assert fresh.fsck("ds")["ds"]["orphan_versions"] == []
    assert fresh.load("ds").count() == 3 + 5


def test_retain_last_crash_at_commit_or_reap(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    eng = DataFrameEngine(spark, wh)
    for i, n in enumerate((3, 5, 7)):
        eng.save(spark.range(n), "ds", external_key=f"v{i}")
    with monkeypatch.context() as m:
        _crash_at(m, "_write_manifest")
        with pytest.raises(RuntimeError):
            eng.retain_last("ds", 1)

    fresh = DataFrameEngine(spark, wh)
    assert fresh.load("ds").count() == 3 + 5 + 7
    rep = fresh.fsck("ds", min_age_seconds=0)["ds"]
    assert rep["orphan_versions"] == [] and rep["missing_versions"] == []

    # a crash after the commit leaves the after state plus unlisted orphans
    with monkeypatch.context() as m:
        _crash_at(m, "_reap")
        with pytest.raises(RuntimeError):
            fresh.retain_last("ds", 1)
    fresh = DataFrameEngine(spark, wh)
    assert fresh.load("ds").count() == 7
    rep = fresh.fsck("ds", min_age_seconds=0)["ds"]
    assert rep["orphan_versions"] == ["v0", "v1"] and rep["missing_versions"] == []
    rep = fresh.fsck("ds", repair=True, min_age_seconds=0)["ds"]
    assert rep["repaired"] == ["v0", "v1"]
    assert fresh.load("ds").count() == 7


def test_delete_dataset_crash_at_commit_keeps_dataset(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    eng = DataFrameEngine(spark, wh)
    eng.save(spark.range(4), "ds", external_key="v0")
    with monkeypatch.context() as m:
        _crash_at(m, "_write_manifest")
        with pytest.raises(RuntimeError):
            eng.delete_dataset("ds")

    fresh = DataFrameEngine(spark, wh)
    assert fresh.load("ds").count() == 4
    rep = fresh.fsck(min_age_seconds=0)["ds"]
    assert rep["orphan_versions"] == [] and rep["missing_versions"] == []
