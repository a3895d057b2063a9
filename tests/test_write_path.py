"""The one write path: every table write (table model, incremental
model, DML on a warehouse table, script-level CREATE [OR REPLACE]
TABLE) replaces its Parquet dir through ``catalog.replace_parquet``.

Fault injection per caller: an exception inside the write keeps the
old rows readable and the catalog entry attachable, and a crash between
the swap's two renames is recovered by the next write or by
``attach_warehouse``."""

import contextlib
import io
import json
import os
import types

import duckdb
import pytest
from pyspark.sql.types import StructType

from arnab_spark.catalog import OLD, SCHEMA_FILE, STAGING
from arnab_spark.config import Config, load_config
from arnab_spark.dialect import transpile_statement
from arnab_spark.session import Session
from tests.test_incremental import _write

#: fails at execution time (not analysis) once a row has id > 100
_FAILING = "CASE WHEN id > 100 THEN raise_error('boom') ELSE id END"


def _source(root, rows):
    src = os.path.join(root, "src.parquet")
    values = ", ".join(f"({i}, '{t}')" for i, t in rows)
    duckdb.sql(f"COPY (SELECT * FROM (VALUES {values}) t(id, tag)) TO '{src}'")
    return src


def _model_project(tmp_path, materialize):
    root = str(tmp_path)
    src = _source(root, [(1, "a"), (2, "b")])
    _write(
        root,
        "models/u.sql",
        f"SELECT {_FAILING} AS id, tag FROM read_parquet('{src}')",
    )
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  u:\n"
        f"    materialize: {materialize}\n    unique_key: id\n",
    )
    return root


def _attach(spark, db_path):
    """A new connection on the warehouse; returns (session, attach
    warnings printed)."""
    session = spark.newSession()
    with contextlib.redirect_stdout(io.StringIO()) as out:
        Session(Config(db_path=db_path), session)
    return session, out.getvalue()


def _rows(session, name):
    return sorted(tuple(r) for r in session.table(name).collect())


def _schema_file_matches(session, dest):
    """The table dir's schema file describes the data it holds."""
    with open(os.path.join(dest, SCHEMA_FILE), encoding="utf-8") as f:
        stored = StructType.fromJson(json.load(f))
    return stored == session.read.parquet(dest).schema


def _sql(session, stmt):
    out = transpile_statement(stmt, session)
    if out.strip():
        session.sql(out).collect()


def _script_table(spark, wh):
    """A warehouse table ``t`` written by a script-level CREATE TABLE."""
    session, _ = _attach(spark, wh)
    _sql(session, "CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a'), (2, 'b')) v(id, tag)")
    return session


@pytest.mark.parametrize("materialize", ["table", "incremental"])
def test_failed_model_write_keeps_old_table(spark, tmp_path, materialize):
    root = _model_project(tmp_path, materialize)
    wh = os.path.join(root, "wh")
    assert Session(load_config(root), spark.newSession()).run(quiet=True).ok
    _source(root, [(101, "x")])
    session = spark.newSession()
    report = Session(load_config(root), session).run(quiet=True)
    assert "boom" in str(report.errors["u"])
    assert _rows(session, "u") == [(1, "a"), (2, "b")]
    fresh, warnings = _attach(spark, wh)
    assert warnings == "" and _rows(fresh, "u") == [(1, "a"), (2, "b")]
    assert not os.path.exists(os.path.join(wh, "u" + STAGING))


@pytest.mark.parametrize(
    "stmt",
    [
        f"UPDATE t SET id = {_FAILING.replace('id > 100', 'id > 1')}",
        f"CREATE OR REPLACE TABLE t AS SELECT {_FAILING.replace('id > 100', 'id > 1')} "
        "AS id, tag FROM t",
    ],
    ids=["update", "create-or-replace"],
)
def test_failed_script_write_keeps_old_table(spark, tmp_path, stmt):
    wh = str(tmp_path / "wh")
    session = _script_table(spark, wh)
    with pytest.raises(Exception, match="boom"):
        _sql(session, stmt)
    assert _rows(session, "t") == [(1, "a"), (2, "b")]
    fresh, warnings = _attach(spark, wh)
    assert warnings == "" and _rows(fresh, "t") == [(1, "a"), (2, "b")]


@pytest.fixture
def crash(monkeypatch):
    """While ``crash.armed``, the swap's second rename (staging → dest)
    raises, as if the process died between the two renames."""
    state = types.SimpleNamespace(armed=False)
    real = os.rename

    def rename(src, dst):
        if state.armed and str(src).endswith(STAGING):
            raise OSError("crash between renames")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    return state


@pytest.mark.parametrize("materialize", ["table", "incremental"])
def test_model_crash_between_renames_recovers(
    spark, tmp_path, crash, materialize
):
    root = _model_project(tmp_path, materialize)
    dest = os.path.join(root, "wh", "u")
    assert Session(load_config(root), spark.newSession()).run(quiet=True).ok
    _source(root, [(3, "c")])
    crash.armed = True
    report = Session(load_config(root), spark.newSession()).run(quiet=True)
    assert "crash between renames" in str(report.errors["u"])
    assert not os.path.exists(dest) and os.path.isdir(dest + OLD)
    crash.armed = False
    # a new connection restores the old copy...
    fresh, warnings = _attach(spark, os.path.join(root, "wh"))
    assert warnings == "" and _rows(fresh, "u") == [(1, "a"), (2, "b")]
    assert _schema_file_matches(fresh, dest)
    # ...and the next write goes through
    session = spark.newSession()
    assert Session(load_config(root), session).run(quiet=True).ok
    want = [(3, "c")] if materialize == "table" else [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(session, "u") == want and _schema_file_matches(session, dest)
    assert not os.path.exists(dest + OLD) and not os.path.exists(dest + STAGING)


def test_model_crash_recovered_by_next_write(spark, tmp_path, crash):
    """Without a new connection in between, the next write itself
    restores the old copy before it merges into it."""
    root = _model_project(tmp_path, "incremental")
    dest = os.path.join(root, "wh", "u")
    session = spark.newSession()
    sess = Session(load_config(root), session)
    assert sess.run(quiet=True).ok
    _source(root, [(3, "c")])
    crash.armed = True
    assert not sess.run(quiet=True).ok
    crash.armed = False
    assert not os.path.exists(dest)
    _source(root, [(4, "d")])
    assert sess.run(quiet=True).ok
    assert _rows(session, "u") == [(1, "a"), (2, "b"), (4, "d")]
    assert _schema_file_matches(session, dest)


@pytest.mark.parametrize(
    "stmt",
    ["UPDATE t SET tag = 'z'", "CREATE OR REPLACE TABLE t AS SELECT id, 'z' AS tag FROM t"],
    ids=["update", "create-or-replace"],
)
def test_script_crash_between_renames_recovers(spark, tmp_path, crash, stmt):
    wh = str(tmp_path / "wh")
    session = _script_table(spark, wh)
    crash.armed = True
    with pytest.raises(OSError, match="crash between renames"):
        _sql(session, stmt)
    assert not os.path.exists(os.path.join(wh, "t"))
    crash.armed = False
    fresh, warnings = _attach(spark, wh)
    assert warnings == "" and _rows(fresh, "t") == [(1, "a"), (2, "b")]
    assert _schema_file_matches(fresh, os.path.join(wh, "t"))
    _sql(fresh, stmt)
    assert _rows(fresh, "t") == [(1, "z"), (2, "z")]
    assert _schema_file_matches(fresh, os.path.join(wh, "t"))


def test_empty_partitioned_table_model_keeps_schema(spark, tmp_path):
    root = str(tmp_path)
    _write(root, "models/e.sql", "SELECT * FROM VALUES (1, 'a') AS v(id, p) WHERE false")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  e:\n"
        "    materialize: table\n    partition_by: p\n",
    )
    report = Session(load_config(root), spark.newSession()).run(quiet=True)
    assert report.ok, report.errors
    assert report.results["e"].n_rows == 0
    back = spark.read.parquet(os.path.join(root, "wh", "e"))
    assert back.count() == 0 and sorted(back.columns) == ["id", "p"]


def test_partition_column_type_survives_table_model(spark, tmp_path):
    """A VARCHAR partition column of digits would read back from hive
    dirs as INT; the replace falls back to a flat layout instead."""
    root = str(tmp_path)
    _write(root, "models/s.sql", "SELECT * FROM VALUES (1, '10'), (2, '20') AS v(id, p)")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: wh\nmodels:\n  s:\n"
        "    materialize: table\n    partition_by: p\n",
    )
    session = spark.newSession()
    assert Session(load_config(root), session).run(quiet=True).ok
    assert dict(session.table("s").dtypes)["p"] == "string"
    assert _rows(session, "s") == [(1, "10"), (2, "20")]
