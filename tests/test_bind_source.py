"""File sources bind once per session (``dialect.bind_source``).

A ``read_parquet('p')`` & friends relation becomes a session temp view
over the files, read with a schema inferred once per process. These
tests pin what that must not change: cataloged views over any source
re-attach in a new session, a view sees files added, deleted and
rewritten after it was created (DuckDB is the oracle), a session with
other SQL confs gets its own schema — and what it must save: analyzing
a view over a bound source runs no Spark job."""

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.classic.dataframe import DataFrame

from arnab_spark import catalog
from arnab_spark.config import load_config
from arnab_spark.dialect import set_warehouse_for, transpile_statement
from arnab_spark.session import Session
from arnab_spark.spark_utils import configure
from tests.test_register_schema import _jobs


def _rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def _project(tmp_path, models, tables=()):
    mdir = tmp_path / "models"
    mdir.mkdir()
    for mid, sql in models.items():
        (mdir / f"{mid}.sql").write_text(sql)
    lines = [f"models_dir: {mdir}", f"db_path: {tmp_path / 'wh'}", "models:"]
    for mid in tables:
        lines += [f"  {mid}:", "    materialize: table"]
    (tmp_path / "config.yaml").write_text("\n".join(lines) + "\n")
    return load_config(str(tmp_path), None, None)


def _parquet(path, **cols):
    pq.write_table(pa.table(cols), str(path))
    return str(path)


# ------------------------------------------------------------ re-attach


@pytest.mark.parametrize("kind", ["csv_auto", "json_auto", "list"])
def test_view_over_any_source_reattaches(spark, tmp_path, capsys, kind):
    """A view over ``read_csv_auto``, ``read_json_auto`` or a path list
    (and a view downstream of it) re-attaches in a new session: the
    catalog keeps the bound view's source beside the SELECT."""
    data = tmp_path / "data"
    data.mkdir()
    if kind == "csv_auto":
        (data / "s.csv").write_text("k,name\n1,a\n2,b\n3,c\n")
        src = f"read_csv_auto('{data / 's.csv'}')"
    elif kind == "json_auto":
        (data / "s.json").write_text('{"k": 1, "name": "a"}\n{"k": 2, "name": "b"}\n')
        src = f"read_json_auto('{data / 's.json'}')"
    else:
        a = _parquet(data / "a.parquet", k=[1, 2], name=["a", "b"])
        b = _parquet(data / "b.parquet", k=[3], name=["c"])
        src = f"read_parquet(['{a}', '{b}'])"
    cfg = _project(
        tmp_path,
        {
            "from_src": f"SELECT k, name FROM {src}",
            "downstream": "SELECT k * 10 AS k10, name FROM from_src",
        },
    )
    assert Session(cfg, spark).run(quiet=True).ok
    before = _rows(spark, "SELECT * FROM downstream")
    entry = catalog.load_catalog(cfg.db_path)["from_src"]
    (name,) = entry["sources"]
    assert name in entry["select"] and "_arnab_src_" in name
    capsys.readouterr()
    fresh = spark.newSession()
    Session(cfg, fresh)
    assert "warning" not in capsys.readouterr().out
    assert _rows(fresh, "SELECT * FROM downstream") == before
    assert _rows(fresh, "SELECT * FROM from_src") == _rows(spark, "SELECT * FROM from_src")


def test_script_view_reattaches_under_an_alias(spark, tmp_path):
    """A script's non-TEMP ``CREATE VIEW`` over a file source persists
    its source in the warehouse catalog; ``ATTACH … AS alias`` in
    another session binds it again."""
    csv = tmp_path / "s.csv"
    csv.write_text("k,name\n1,a\n2,b\n")
    wh = str(tmp_path / "wh")
    session = spark.newSession()
    set_warehouse_for(session, wh)
    transpile_statement(f"CREATE VIEW pv AS SELECT k, name FROM read_csv_auto('{csv}')", session)
    assert "sources" in catalog.load_catalog(wh)["pv"]
    fresh = spark.newSession()
    assert transpile_statement(f"ATTACH '{wh}' AS ext", fresh) == ""
    assert _rows(fresh, transpile_statement("SELECT * FROM ext.pv", fresh)) == [(1, "a"), (2, "b")]


def test_old_file_query_entry_still_attaches(spark, tmp_path):
    """An entry written before the ``sources`` map (Spark's file-query
    text in the SELECT) attaches as it always did."""
    p = _parquet(tmp_path / "s.parquet", k=[1, 2])
    wh = tmp_path / "wh"
    catalog.record_model(str(wh), "old", "view", f"SELECT k FROM parquet.`{p}`")
    assert "sources" not in catalog.load_catalog(str(wh))["old"]
    fresh = spark.newSession()
    assert catalog.attach_warehouse(fresh, str(wh)) == ["old"]
    assert _rows(fresh, "SELECT * FROM old") == [(1,), (2,)]


def test_vanished_source_warns_with_its_path(spark, tmp_path, capsys):
    p = _parquet(tmp_path / "gone.parquet", k=[1])
    cfg = _project(tmp_path, {"v": f"SELECT k FROM read_parquet('{p}')"})
    assert Session(cfg, spark).run(quiet=True).ok
    os.remove(p)
    capsys.readouterr()
    Session(cfg, spark.newSession())
    out = capsys.readouterr().out
    assert "could not attach model 'v'" in out and "gone.parquet" in out


def test_no_session_or_remote_path_keeps_file_query_text(spark):
    assert transpile_statement("SELECT * FROM read_parquet('/no/such.parquet')") == (
        "SELECT * FROM parquet.`/no/such.parquet`"
    )
    assert transpile_statement("SELECT * FROM read_parquet('s3a://b/x.parquet')", spark) == (
        "SELECT * FROM parquet.`s3a://b/x.parquet`"
    )
    assert transpile_statement("SELECT * FROM 'hdfs://n/x.parquet'", spark) == (
        "SELECT * FROM parquet.`hdfs://n/x.parquet`"
    )


# ---------------------------------------------------------- late binding


def test_view_sees_file_changes_like_duckdb(spark, tmp_path):
    """DuckDB views re-read their files at query time; a view over a
    bound glob must follow an added file, a deleted file and a file
    rewritten in place with a new column the same way."""
    d = tmp_path / "d"
    d.mkdir()
    glob_ = f"{d}/*.parquet"
    _parquet(d / "a.parquet", x=[1, 2], y=["a", "b"])
    session = spark.newSession()
    configure(session)
    con = duckdb.connect()
    create = f"CREATE VIEW v AS SELECT x, y FROM read_parquet('{glob_}')"
    con.execute(create)
    assert transpile_statement(create, session) == ""

    def check(sql):
        spark_sql = transpile_statement(sql, session)
        got = _rows(session, spark_sql)
        assert got == sorted(con.execute(sql).fetchall())
        return got

    assert check("SELECT * FROM v") == [(1, "a"), (2, "b")]
    _parquet(d / "b.parquet", x=[3, 4, 5], y=["c", "d", "e"])
    assert len(check("SELECT * FROM v")) == 5
    os.remove(d / "a.parquet")
    assert check("SELECT * FROM v") == [(3, "c"), (4, "d"), (5, "e")]
    _parquet(d / "b.parquet", x=[6, 7], y=["f", "g"], z=[1.5, 2.5])
    assert check("SELECT * FROM v") == [(6, "f"), (7, "g")]
    assert check(f"SELECT * FROM read_parquet('{glob_}')") == [(6, "f", 1.5), (7, "g", 2.5)]


def test_unreadable_change_fails_only_where_read(spark, tmp_path):
    """A source rewritten into something Spark cannot read does not
    fail unrelated statements (every statement re-stats the session's
    sources); a statement that reads it fails instead of reading the
    old files."""
    p = _parquet(tmp_path / "s.parquet", k=[1, 2])
    session = spark.newSession()
    configure(session)
    transpile_statement(f"CREATE VIEW v AS SELECT k FROM read_parquet('{p}')", session)
    assert _rows(session, "SELECT * FROM v") == [(1,), (2,)]
    with open(p, "wb") as f:
        f.write(b"not parquet")
    assert _rows(session, transpile_statement("SELECT 1 AS one", session)) == [(1,)]
    with pytest.raises(AnalysisException):
        session.sql(transpile_statement("SELECT * FROM v", session)).collect()


def test_session_with_other_confs_gets_its_own_schema(spark, tmp_path):
    """The process-wide schema cache is valid only for the SQL confs it
    was inferred under: ``binaryAsString`` changes a BINARY column's
    inferred type, so that session must not get the cached schema."""
    p = _parquet(tmp_path / "b.parquet", k=[1], bn=[b"xy"])
    sql = f"SELECT * FROM read_parquet('{p}')"
    plain, as_string = spark.newSession(), spark.newSession()
    configure(plain)
    configure(as_string)
    as_string.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert dict(plain.sql(transpile_statement(sql, plain)).dtypes)["bn"] == "binary"
    assert dict(as_string.sql(transpile_statement(sql, as_string)).dtypes)["bn"] == "string"
    assert as_string.sql(transpile_statement(sql, as_string)).collect()[0].bn == "xy"


# ------------------------------------------------------------ job counts


def test_unchanged_source_binds_once_per_session(spark, tmp_path, monkeypatch):
    p = _parquet(tmp_path / "s.parquet", k=[1, 2, 3])
    session = spark.newSession()
    configure(session)
    views = []
    orig = DataFrame.createOrReplaceTempView
    monkeypatch.setattr(
        DataFrame, "createOrReplaceTempView", lambda df, n: (views.append(n), orig(df, n))[1]
    )
    first = transpile_statement(f"SELECT k FROM read_parquet('{p}')", session)
    assert len(views) == 1
    # the bare-string shorthand names the same source
    again = transpile_statement(f"SELECT k FROM '{p}' WHERE k > 1", session)
    assert len(views) == 1 and first.split()[-1] in again
    assert _jobs(session, lambda: session.sql(again).schema) == 0


def _source_project(tmp_path, src):
    return _project(
        tmp_path,
        {
            "src_a": f"SELECT k, g FROM read_parquet('{src}')",
            "src_b": f"FROM '{src}' SELECT k % 7 AS k, g",
            "mid": "SELECT a.k, a.g, b.k AS kb FROM src_a a JOIN src_b b ON a.k = b.k",
            "top": "SELECT g, k + kb AS v FROM mid",
        },
        tables=("top",),
    )


def test_reattaching_views_over_bound_source_runs_no_job(spark, tmp_path):
    src = _parquet(tmp_path / "s.parquet", k=list(range(20)), g=[i % 3 for i in range(20)])
    cfg = _source_project(tmp_path, src)
    assert Session(cfg, spark).run(quiet=True).ok
    Session(cfg, spark.newSession())  # warm: this process has the schema
    fresh = spark.newSession()
    assert _jobs(fresh, lambda: Session(cfg, fresh)) == 0
    entry = json.loads((tmp_path / "wh" / catalog.CATALOG_FILE).read_text())["src_a"]
    assert list(entry["sources"].values()) == [
        {"format": "parquet", "paths": [src], "options": {}}
    ]


def test_warm_run_runs_only_the_table_write(spark, tmp_path, monkeypatch):
    """A warm ``Session.run`` over source views, views and one table
    model runs Spark jobs only inside the table's write."""
    src = _parquet(tmp_path / "s.parquet", k=list(range(20)), g=[i % 3 for i in range(20)])
    cfg = _source_project(tmp_path, src)
    assert Session(cfg, spark).run(quiet=True).ok
    Session(cfg, spark.newSession()).run(quiet=True)  # warm
    fresh = spark.newSession()
    write_jobs = []
    orig = catalog.replace_parquet

    def replace(spark_, dest, df, pcols=()):
        sc = spark_.sparkContext
        outer, rows = sc.getLocalProperty("spark.jobGroup.id"), []
        write_jobs.append(_jobs(spark_, lambda: rows.append(orig(spark_, dest, df, pcols))))
        sc.setJobGroup(outer, outer)
        return rows[0]

    monkeypatch.setattr(catalog, "replace_parquet", replace)
    session = Session(cfg, fresh)
    assert _jobs(fresh, lambda: session.run(quiet=True)) == 0
    assert len(write_jobs) == 1 and write_jobs[0] >= 1
