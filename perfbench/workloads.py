"""The benchmark's workloads. Each one generates its inputs from the
seed into its work directory, runs one pass through the product's
public entry points, and checks its outputs against DuckDB running the
same SQL files.

- ``wide-dag``: ``Session.run`` over a generated layered project; per
  model overhead (graph build, catalog, count readback, the per-job
  floor) dominates, execution work is tiny.
- ``dml-script``: ``cli.main([... "run-file", script])`` over a
  generated script of DDL, DML and reads on a warehouse table; the
  dialect shim executes most of the work itself.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys

import duckdb

import gen
from arnab_spark import cli
from arnab_spark.catalog import record_model
from arnab_spark.config import load_config
from arnab_spark.node import Node
from arnab_spark.oracle import compare_frames
from arnab_spark.session import Session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLE = os.path.join(ROOT, "examples", "duckdb_dialect")

# model tables are read back from the warehouse with DuckDB
_PARQUET = "SELECT * FROM read_parquet('{}/*.parquet')"


def _compare_tables(con, warehouse: str, tables: list[str]):
    out = []
    for t in tables:
        spark_df = duckdb.sql(_PARQUET.format(os.path.join(warehouse, t))).df()
        out.append(compare_frames(t, spark_df, con.execute(f"SELECT * FROM {t}").df()))
    return out


def _example_probe(work: str, sources: dict, spark) -> tuple[int, int]:
    """Known defects on the shipped ``duckdb_dialect`` example (its
    source re-pointed at the generated orders): failures when it runs a
    second time in the same session, and attach warnings when a new
    connection opens on its warehouse."""
    proj = os.path.join(work, "example_duckdb_dialect")
    shutil.copytree(EXAMPLE, proj, ignore=shutil.ignore_patterns("warehouse"))
    path = os.path.join(proj, "models", "orders_src.sql")
    with open(path) as f:
        src = f.read()
    with open(path, "w") as f:
        f.write(re.sub(r"read_parquet\('[^']*'\)", f"read_parquet('{sources['orders']}')", src))
    cfg = load_config(proj)
    sess = Session(cfg, spark.newSession())
    sess.run(quiet=True)
    failures = len(sess.run(quiet=True).errors)
    with contextlib.redirect_stdout(io.StringIO()) as out:
        Session(cfg, spark.newSession())
    return failures, out.getvalue().count("could not attach")


class WideDag:
    HELD_OUT_SEED = 60611
    WIDTHS = (4, 3)  # models per layer after the 3 sources

    def __init__(self, work: str, seed: int):
        self.work = work
        self.sources = gen.write_tables(os.path.join(work, "data"), 1, seed)
        self.project = os.path.join(work, "project")
        gen.write_wide_dag(self.project, self.sources, seed, self.WIDTHS)
        self.cfg = load_config(self.project)

    def run_pass(self, spark) -> tuple[int, int]:
        report = Session(self.cfg, spark.newSession()).run(quiet=True)
        return len(report.executed) + len(report.errors), len(report.errors)

    def check(self):
        graph = Session(self.cfg)
        order = graph.build_graph()
        con = duckdb.connect()
        tables = []
        for nid in order:
            node = graph.nodes[nid]
            kind = "VIEW" if node.materialize == "view" else "TABLE"
            con.execute(f"CREATE {kind} {nid} AS {node.rendered_src.strip().rstrip(';')}")
            if kind == "TABLE":
                tables.append(nid)
        return _compare_tables(con, self.cfg.db_path, tables)

    def defect_probe(self, spark) -> tuple[int, int]:
        sess = Session(self.cfg, spark.newSession())
        sess.run(quiet=True)
        own = len(sess.run(quiet=True).errors)
        failures, warnings = _example_probe(self.work, self.sources, spark)
        return own + failures, warnings


class DmlScript:
    HELD_OUT_SEED = 90023
    SCALE = 2  # base table: 2x the shipped examples' lineitem
    BATCHES = 3

    def __init__(self, work: str, seed: int):
        self.work = work
        self.sources = gen.write_tables(os.path.join(work, "data"), self.SCALE, seed)
        self.warehouse = os.path.join(work, "warehouse")
        # the warehouse an earlier run left behind: one table, written
        # without Spark so the cold pass is the process's first Spark work
        os.makedirs(os.path.join(self.warehouse, "base"))
        shutil.copy(
            self.sources["lineitem"], os.path.join(self.warehouse, "base", "part-0.parquet")
        )
        record_model(self.warehouse, "base", "table")
        self.script = os.path.join(work, "script.sql")
        with open(self.script, "w") as f:
            f.write(gen.dml_script(seed, self.BATCHES))
        with open(self.script) as f:
            self.n_statements = len(Node.split_statements(f.read()))
        self.session = None
        self.clock = None  # the run's OpClock, set by the caller
        # run-file opens its connection through cli._get_spark; each pass
        # hands it a new session, the twin of a new CLI process
        cli._get_spark = lambda _master: self.session

    def _run_file(self, spark, path: str, new_session: bool = True) -> str:
        if new_session:
            self.session = spark.newSession()
        with contextlib.redirect_stdout(io.StringIO()) as out:
            cli.main(["-d", self.warehouse, "run-file", path])
        sys.stdout.write(out.getvalue())  # the caller counts attach warnings
        return out.getvalue()

    def run_pass(self, spark) -> tuple[int, int]:
        out = self._run_file(spark, self.script)
        done = len(self.clock.starts)
        if "ERROR" in out:
            done -= 1  # the statement that raised
        return self.n_statements, self.n_statements - done

    def check(self):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW base AS SELECT * FROM read_parquet('{self.sources['lineitem']}')"
        )
        with open(self.script) as f:
            for stmt in Node.split_statements(f.read()):
                con.execute(stmt)
        return _compare_tables(con, self.warehouse, ["work", "summary"])

    def defect_probe(self, spark) -> tuple[int, int]:
        self._run_file(spark, self.script)
        again = self._run_file(spark, self.script, new_session=False)
        failures, warnings = _example_probe(self.work, self.sources, spark)
        return int("ERROR" in again) + failures, warnings


WORKLOADS = {"wide-dag": WideDag, "dml-script": DmlScript}
