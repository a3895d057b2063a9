"""Tables register from the schema they were written with.

``catalog.replace_parquet`` leaves ``SCHEMA_FILE`` beside the data and
``catalog.register_table`` reads the table with it instead of inferring
it. After every writer the registered view must look exactly like a
schema-inferring Parquet read of the same dir: same schema (types,
nullability, column order, metadata) and same rows."""

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from arnab_spark import catalog
from arnab_spark.config import load_config
from arnab_spark.session import Session
from tests.test_incremental import _write
from tests.test_write_path import _attach, _sql

#: one column of every type the matrix covers; ``k`` drives row values
_COLUMNS = (
    "CAST(k AS INT) AS i, CAST(k AS BIGINT) * 10 AS b, "
    "CAST(k / 4 AS DECIMAL(12,2)) AS d, concat('s', k) AS s, "
    "CAST(concat('v', k) AS VARCHAR(10)) AS vc, date_add(DATE '2020-01-02', k) AS dt, "
    "CAST('2020-01-02 03:04:05' AS TIMESTAMP) AS ts, "
    "TIMESTAMP_NTZ '2020-01-02 03:04:05' AS tsn, array(k, k + 1) AS arr, "
    "named_struct('a', k, 'b', 'z') AS st, map('k', k) AS mp, "
    "CAST(concat('bin', k) AS BINARY) AS bn, CAST(k AS DOUBLE) / 2 AS dbl, "
    "k % 2 = 0 AS bo"
)
_ROWS = "VALUES (1, 'a'), (2, 'b'), (3, 'c') AS v(k, p)"
_SELECT = f"SELECT {_COLUMNS}, p FROM {_ROWS}"


def _stored(dest):
    with open(os.path.join(dest, catalog.SCHEMA_FILE), encoding="utf-8") as f:
        return StructType.fromJson(json.load(f))


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_registered_as_written(session, name, dest):
    """The view ``name`` reads ``dest`` with the stored schema, and it
    equals what schema inference makes of the dir."""
    inferred = session.read.parquet(dest)
    assert _stored(dest) == inferred.schema
    assert session.table(name).schema == inferred.schema
    assert _rows(session.table(name)) == _rows(inferred)


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Number of Spark jobs ``fn()`` runs (a job group of its own: the
    status tracker keeps a group's earlier jobs)."""
    sc = spark.sparkContext
    group = f"jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------- replace + register


@pytest.mark.parametrize(
    "where, pcols, layout",
    [
        ("true", [], "flat"),
        ("true", ["p"], "hive"),
        ("true", ["p", "s"], "hive"),
        ("false", ["p"], "flat"),  # empty result: written flat
        ("true", ["b"], "flat"),  # BIGINT dirs read back as INT: flat
    ],
    ids=["flat", "kept-partitions", "two-levels", "empty", "type-fallback"],
)
def test_replace_then_register_matches_inference(spark, tmp_path, where, pcols, layout):
    df = spark.sql(f"{_SELECT} WHERE {where}")
    dest = str(tmp_path / "t")
    n = catalog.replace_parquet(spark, dest, df, pcols)
    assert n == df.count()
    assert any("=" in d for d in os.listdir(dest)) == (layout == "hive")
    catalog.register_table(spark, "t_reg", dest)
    _assert_registered_as_written(spark, "t_reg", dest)
    if layout == "hive":
        assert spark.table("t_reg").columns[-len(pcols):] == pcols


def test_field_metadata_survives(spark, tmp_path):
    df = spark.sql(_SELECT).withColumn("m", F.col("i").alias("m", metadata={"k": 1}))
    dest = str(tmp_path / "t")
    catalog.replace_parquet(spark, dest, df, ["p"])
    catalog.register_table(spark, "t_meta", dest)
    _assert_registered_as_written(spark, "t_meta", dest)
    assert spark.table("t_meta").schema["m"].metadata == {"k": 1}


def test_register_with_schema_file_runs_no_job(spark, tmp_path):
    dest = str(tmp_path / "t")
    catalog.replace_parquet(spark, dest, spark.sql(_SELECT), ["p"])
    assert _jobs(spark, lambda: catalog.register_table(spark, "t_nojob", dest)) == 0
    os.remove(os.path.join(dest, catalog.SCHEMA_FILE))
    # the control: inference reads a footer in a job of its own
    assert _jobs(spark, lambda: catalog.register_table(spark, "t_nojob", dest)) >= 1


def test_partitioned_replace_runs_only_the_write(spark, tmp_path):
    """The row count and the partition-type check cost no job of their
    own: a partitioned replace runs the write's one job."""
    df = spark.sql(_SELECT)
    dest = str(tmp_path / "t")
    assert _jobs(spark, lambda: catalog.replace_parquet(spark, dest, df, ["p"])) == 1
    assert sorted(d for d in os.listdir(dest) if "=" in d) == ["p=a", "p=b", "p=c"]


def test_dir_without_schema_file_still_attaches(spark, tmp_path):
    root = str(tmp_path)
    _write(root, "models/m.sql", _SELECT)
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  m:\n    materialize: table\n",
    )
    assert Session(load_config(root), spark.newSession()).run(quiet=True).ok
    dest = os.path.join(root, "wh", "m")
    os.remove(os.path.join(dest, catalog.SCHEMA_FILE))
    fresh, warnings = _attach(spark, os.path.join(root, "wh"))
    assert warnings == ""
    assert fresh.table("m").schema == fresh.read.parquet(dest).schema
    assert _rows(fresh.table("m")) == _rows(fresh.read.parquet(dest))


def test_attach_warns_on_dir_without_part_files(spark, tmp_path):
    """With a given schema Spark would read a dir with no part file as
    an empty table; attach must still flag it."""
    wh = str(tmp_path / "wh")
    catalog.replace_parquet(spark, os.path.join(wh, "t"), spark.sql(_SELECT))
    catalog.record_model(wh, "t", "table")
    for f in os.listdir(os.path.join(wh, "t")):
        if f.endswith(".parquet"):
            os.remove(os.path.join(wh, "t", f))
    _fresh, warnings = _attach(spark, wh)
    assert "could not attach model 't'" in warnings


# ---------------------------------------------------------------- writers


@pytest.mark.parametrize(
    "materialize, partition_by",
    [
        ("table", None),
        ("table", "p"),
        ("table", "b"),  # partition-type fallback
        ("incremental", None),
        ("incremental", "p"),
    ],
)
def test_model_writers(spark, tmp_path, materialize, partition_by):
    root = str(tmp_path)
    _write(root, "models/m.sql", _SELECT)
    layout = f"    partition_by: {partition_by}\n" if partition_by else ""
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  m:\n"
        f"    materialize: {materialize}\n    unique_key: i\n{layout}",
    )
    dest = os.path.join(root, "wh", "m")
    for _ in range(2):  # the second incremental run merges into the first
        session = spark.newSession()
        report = Session(load_config(root), session).run(quiet=True)
        assert report.ok, report.errors
        assert report.results["m"].n_rows == 3
        _assert_registered_as_written(session, "m", dest)
    fresh, warnings = _attach(spark, os.path.join(root, "wh"))
    assert warnings == ""
    _assert_registered_as_written(fresh, "m", dest)


@pytest.fixture
def script(spark, tmp_path):
    """A connection on a fresh warehouse holding the table ``t``
    written by ``CREATE TABLE``; yields (session, warehouse dir)."""
    wh = str(tmp_path / "wh")
    session, _ = _attach(spark, wh)
    _sql(session, f"CREATE TABLE t AS {_SELECT}")
    _assert_registered_as_written(session, "t", os.path.join(wh, "t"))
    return session, wh


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE t SET d = d + 1 WHERE i = 1",
        "DELETE FROM t WHERE i = 2",
        "DELETE FROM t",
        f"INSERT INTO t SELECT {_COLUMNS}, p FROM VALUES (4, 'd') AS v(k, p)",
        f"CREATE OR REPLACE TABLE t AS SELECT {_COLUMNS}, p FROM {_ROWS} WHERE k > 1",
        "ALTER TABLE t ADD COLUMN extra DOUBLE",
        "ALTER TABLE t RENAME COLUMN s TO s2",
    ],
    ids=[
        "update",
        "delete",
        "delete-all",
        "append",
        "create-or-replace",
        "add-column",
        "rename-column",
    ],
)
def test_script_writers(script, stmt):
    session, wh = script
    _sql(session, stmt)
    _assert_registered_as_written(session, "t", os.path.join(wh, "t"))
    fresh, warnings = _attach(session, wh)
    assert warnings == ""
    _assert_registered_as_written(fresh, "t", os.path.join(wh, "t"))


def test_rename_to_keeps_schema_file(script):
    session, wh = script
    _sql(session, "ALTER TABLE t RENAME TO t2")
    _assert_registered_as_written(session, "t2", os.path.join(wh, "t2"))
    fresh, warnings = _attach(session, wh)
    assert warnings == ""
    _assert_registered_as_written(fresh, "t2", os.path.join(wh, "t2"))


@pytest.mark.parametrize(
    "stmts",
    [
        ["UPDATE m SET d = d + 1 WHERE i = 1"],
        ["DELETE FROM m WHERE i = 2"],
        [
            "DELETE FROM m WHERE i = 2",
            f"INSERT INTO m SELECT {_COLUMNS}, p FROM VALUES (5, 'e') AS v(k, p)",
        ],
        ["DELETE FROM m WHERE i > 0"],  # every partition dies: flat and empty
    ],
    ids=["update", "delete", "delete-then-append", "delete-all-partitions"],
)
def test_partition_fast_paths(spark, tmp_path, monkeypatch, stmts):
    """The statements take the partition-level paths, which write the
    live dir and keep its schema file; only the all-partitions-dead
    rewrite replaces the table (and its schema file)."""
    from arnab_spark import _dialect_dml

    def no_full_swap(spark, dest, df, partition_cols=()):
        assert not partition_cols and df.isEmpty(), "took the full table swap"
        return catalog.replace_parquet(spark, dest, df, partition_cols)

    monkeypatch.setattr(_dialect_dml, "replace_parquet", no_full_swap)
    root = str(tmp_path)
    _write(root, "models/m.sql", _SELECT)
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  m:\n"
        "    materialize: table\n    partition_by: p\n",
    )
    assert Session(load_config(root), spark.newSession()).run(quiet=True).ok
    wh, dest = os.path.join(root, "wh"), os.path.join(root, "wh", "m")
    session, _ = _attach(spark, wh)
    for stmt in stmts:
        _sql(session, stmt)
        _assert_registered_as_written(session, "m", dest)
    fresh, warnings = _attach(spark, wh)
    assert warnings == ""
    _assert_registered_as_written(fresh, "m", dest)
