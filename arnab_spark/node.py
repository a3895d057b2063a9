"""Model node: source rendering, dependency population, statement
execution (reference: src/node.rs).

A node is one ``.sql`` model file. Life cycle (reference: node.rs:62-107
``render_and_populate_refs`` then node.rs:125-207
``execute_sql_statements``):

1. strip comments → 2. concat macros + source and Jinja-render with an
EMPTY context (only ``{% macro %}`` definitions and their calls expand —
no vars, no ``ref()``; reference: node.rs:100-106) → 3. extract
referenced relations and intersect with known model ids → 4. at run
time: split statements, validate exactly one record-returning statement,
wrap it in the materialization DDL, execute via ``spark.sql``.

The Spark materialization mapping (reference: node.rs:156-174):

- ``view``  → ``CREATE OR REPLACE TEMP VIEW {id} AS (...)`` — a lazy
  plan; chained views collapse into one Catalyst plan, so filters cross
  model boundaries (the reference gets this via DuckDB view inlining).
- ``table`` → execute the SELECT and replace the Parquet dir
  ``{db_path}/{id}`` with it (:func:`arnab_spark.catalog.replace_parquet`:
  staged write, then swap — a failing run keeps the previous table),
  then register a view over the Parquet. This persists across sessions
  like the reference's file-backed DuckDB catalog (reference:
  main.rs:126-132), and at scale gives downstream models a pruned
  columnar scan instead of a recomputation.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field
from enum import Enum

from arnab_spark import catalog
from arnab_spark.depparse import get_sql_references
from arnab_spark.dialect import table_backing_for, transpile_statement
from arnab_spark.errors import ArnabError, StatementExecutionError

class NodeKind(Enum):
    """Reference: node.rs:17-22 — only Sql is implemented there; PYTHON
    was commented out pending "how to pass data to-from python", a
    blocker that evaporates on PySpark (a Python model is a function
    returning a DataFrame)."""

    SQL = "sql"
    PYTHON = "python"


@dataclass
class NodeExecutionResult:
    """Reference: node.rs:24-26 ``NodeExecutionResult::Sql{n_rows}``."""

    n_rows: int | None = None  # None for views (no action executed)
    materialize: str = "view"


@dataclass
class Node:
    """Reference: node.rs:29-38."""

    path: str
    id: str
    raw_src: str
    rendered_src: str = ""
    prevs: set[str] = field(default_factory=set)
    nexts: set[str] = field(default_factory=set)
    kind: NodeKind = NodeKind.SQL
    materialize: str = "view"
    unique_key: str | None = None  # incremental merge key(s), comma-separated
    #: physical-layout hints for table/incremental materializations
    #: (beyond-reference, essential at warehouse scale): hive-style
    #: directory partitioning and within-partition clustering, both
    #: comma-separated column lists
    partition_by: str | None = None
    cluster_by: str | None = None
    python_fn: object | None = None  # PYTHON models: (spark) -> DataFrame

    # -- rendering ---------------------------------------------------

    @staticmethod
    def strip_comments(src: str) -> str:
        """Drop ``--`` line comments (including trailing ones) and
        ``/* ... */`` blocks, string-literal-aware (reference:
        node.rs:68-77 strips whole lines only; a trailing ``-- join x``
        comment would otherwise leak into dependency extraction and a
        ``;`` inside a comment would split statements)."""
        out: list[str] = []
        i, n = 0, len(src)
        in_str = False
        while i < n:
            ch = src[i]
            if in_str:
                out.append(ch)
                if ch == "'":
                    if i + 1 < n and src[i + 1] == "'":
                        out.append(src[i + 1])
                        i += 1
                    else:
                        in_str = False
            elif ch == "'":
                in_str = True
                out.append(ch)
            elif ch == "-" and i + 1 < n and src[i + 1] == "-":
                while i < n and src[i] != "\n":
                    i += 1
                continue  # keep the newline itself
            elif ch == "/" and i + 1 < n and src[i + 1] == "*":
                end = src.find("*/", i + 2)
                i = n if end == -1 else end + 2
                continue
            else:
                out.append(ch)
            i += 1
        return "".join(out)

    def render(self, macro_sources: dict[str, str], known_ids: set[str]) -> None:
        """Render macros and populate ``prevs``
        (reference: node.rs:62-107 ``render_and_populate_refs``)."""
        cleaned = self.strip_comments(self.raw_src)
        combined = "\n".join(list(macro_sources.values()) + [cleaned])
        try:
            import jinja2

            env = jinja2.Environment(undefined=jinja2.StrictUndefined)
            rendered = env.from_string(combined).render()  # empty context
        except ImportError:  # pragma: no cover - jinja2 is available here
            rendered = combined
        except Exception as exc:
            raise ArnabError(f"macro rendering failed for {self.path}: {exc}") from exc
        self.rendered_src = rendered
        self.prevs = get_sql_references(rendered) & known_ids

    # -- execution ---------------------------------------------------

    @staticmethod
    def split_statements(src: str) -> list[str]:
        """Split on ``;`` outside string literals (improves on the
        reference's naive split, node.rs:127-131, which breaks on ';'
        inside strings — SURVEY.md §7 risk register)."""
        stmts, buf, in_str = [], [], False
        i, n = 0, len(src)
        while i < n:
            ch = src[i]
            if in_str:
                buf.append(ch)
                if ch == "'":
                    if i + 1 < n and src[i + 1] == "'":
                        buf.append(src[i + 1])
                        i += 1
                    else:
                        in_str = False
            elif ch == "'":
                in_str = True
                buf.append(ch)
            elif ch == ";":
                stmts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
            i += 1
        stmts.append("".join(buf))
        return [s.strip() for s in stmts if s.strip()]

    @staticmethod
    def will_produce_records(stmt: str) -> bool:
        """First 50 chars, uppercased, starts with SELECT or WITH
        (reference: node.rs:112-123) — plus FROM and VALUES, which the
        reference's embedded DuckDB also treats as record-returning
        (FROM-first syntax; the dialect shim canonicalizes it to
        SELECT-first before execution)."""
        head = stmt[:50].upper().lstrip()
        return head.startswith(("SELECT", "WITH", "FROM", "VALUES"))

    def materialization_sql(self, select_stmt: str, db_path: str | None) -> tuple[str, str | None]:
        """Wrap the record-returning statement per the materialization
        (reference: node.rs:156-174). Returns (ddl_or_select, parquet_path):
        for views, a CREATE TEMP VIEW DDL; for tables, the bare SELECT
        plus the Parquet destination the caller writes to."""
        if self.materialize == "view":
            return f"CREATE OR REPLACE TEMPORARY VIEW {self.id} AS ({select_stmt})", None
        if self.materialize in ("table", "incremental"):
            if not db_path:
                raise ArnabError(
                    f"model {self.id}: materialize={self.materialize} requires "
                    f"db_path (warehouse dir)"
                )
            return select_stmt, f"{db_path}/{self.id}"
        raise ArnabError(
            f"unknown materialization '{self.materialize}' for model {self.id}"
        )  # reference: node.rs:170-173

    def _layout(self, df):
        """Apply the model's physical-layout hints ahead of a parquet
        write; returns ``(df, partition_cols)``.

        ``partition_by`` → hive-style directory layout
        (``writer.partitionBy``) with a ``repartition`` on the
        partition columns FIRST: without it every write task holds a
        sliver of every partition value and writes its own small file
        into every directory — the small-files explosion that kills
        100 TB warehouse scans. With it, each partition value lands in
        exactly one task → one well-sized file per directory, and
        date/tenant filters prune at PLANNING time
        (``PartitionFilters`` in the scan).

        ``cluster_by`` → ``sortWithinPartitions`` on
        (partition cols + cluster cols): rows with equal/adjacent
        cluster keys become contiguous parquet row groups, so their
        column min/max statistics prune row groups on point/range
        filters — the poor man's Z-order, zero read-side cost.

        Unknown columns RAISE (fail-loud doctrine, same as
        unique_key)."""
        pcols = (
            [c.strip() for c in self.partition_by.split(",")]
            if self.partition_by
            else []
        )
        ccols = (
            [c.strip() for c in self.cluster_by.split(",")]
            if self.cluster_by
            else []
        )
        missing = [c for c in pcols + ccols if c not in df.columns]
        if missing:
            raise ArnabError(
                f"model {self.id}: partition_by/cluster_by column(s) "
                f"{missing} not in output {df.columns}"
            )
        if pcols:
            df = df.repartition(*pcols)
        if ccols:
            df = df.sortWithinPartitions(*(pcols + ccols))
        return df, pcols

    def _merge_incremental(self, spark, df, dest: str):
        """Incremental materialization — the reference's explicitly
        deferred roadmap item (reference: README.md:54-58), essential at
        100 TB where full recomputation is unaffordable. Returns the
        relation that replaces ``dest``.

        Semantics: the first run writes the full result. Later runs
        merge into the existing Parquet: with ``unique_key``, new rows
        win per key and untouched keys are preserved (delete+insert
        upsert); without it, the run's rows are appended. The merged
        relation reads ``dest``, which stays intact until the staged
        replace promotes the result. At warehouse scale the same merge
        runs per partition (or via MERGE INTO on a lakehouse table
        format).
        """
        catalog.recover(dest)  # merge into the last complete copy
        if not os.path.isdir(dest):
            return df
        existing = spark.read.parquet(dest)
        if not self.unique_key:
            return existing.unionByName(df)
        keys = [k.strip() for k in self.unique_key.split(",")]
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ArnabError(
                f"model {self.id}: unique_key column(s) {missing} not in output"
            )
        survivors = existing.join(df.select(*keys).distinct(), on=keys, how="left_anti")
        return df.unionByName(survivors)

    def _materialize(self, spark, db_path: str | None, df, select_sql: str | None = None):
        """The one materialization step for SQL and Python models
        (reference: node.rs:156-189). A view registers the relation: a
        SQL view as a temp view over ``select_sql``, recorded in the
        catalog so later sessions re-create it; a Python view has no
        SELECT to record. A table or incremental model replaces its
        Parquet dir, registers a view over it, records the backing (so
        dialect-level DML persists through the same replace) and the
        catalog entry, and returns the row count."""
        if self.materialize == "view":
            if select_sql is None:
                df.createOrReplaceTempView(self.id)
                return NodeExecutionResult(None, "view")
            spark.sql(self.materialization_sql(select_sql, db_path)[0])
            if db_path:
                # persist the model in the warehouse catalog so later
                # sessions reattach it — parity with the reference's
                # DuckDB-file persistence (node.rs:156-174, main.rs:126-132)
                catalog.record_model(db_path, self.id, "view", select_sql)
            return NodeExecutionResult(None, "view")
        _, dest = self.materialization_sql(select_sql, db_path)
        if self.materialize == "incremental":
            df = self._merge_incremental(spark, df, dest)
        df, pcols = self._layout(df)
        catalog.replace_parquet(spark, dest, df, pcols)
        spark.read.parquet(dest).createOrReplaceTempView(self.id)
        table_backing_for(spark)[self.id.lower()] = dest
        catalog.record_model(db_path, self.id, self.materialize)
        # row-count readback (reference: node.rs:179-189)
        return NodeExecutionResult(spark.table(self.id).count(), self.materialize)

    def execute(self, spark, db_path: str | None) -> NodeExecutionResult:
        """Run the model (reference: node.rs:125-207). A Python model's
        DataFrame, or a SQL model's single record-returning statement,
        is materialized; the other statements (SET etc.) run in order."""
        if self.kind is NodeKind.PYTHON:
            # a Python model is a function returning a DataFrame
            # (unblocks the reference's abandoned plan, node.rs:19-20)
            if self.python_fn is None:
                raise ArnabError(f"python model {self.id} has no callable")
            try:
                return self._materialize(spark, db_path, self.python_fn(spark))
            except ArnabError:
                raise
            except Exception as exc:
                raise StatementExecutionError(str(exc), f"<python:{self.id}>", self.path) from exc
        statements = self.split_statements(self.rendered_src)
        record_stmts = [s for s in statements if self.will_produce_records(s)]
        if len(record_stmts) != 1:  # reference: node.rs:133-144
            raise ArnabError(
                f"model {self.id} must contain exactly one record-returning "
                f"statement, found {len(record_stmts)}"
            )
        result = NodeExecutionResult(None, "view")
        for stmt in statements:
            if stmt in ("", ";"):
                continue  # reference skips "No statement to prepare" (node.rs:193-198)
            try:
                # transpile inside the try: remote fetches / csv sniffing
                # can fail and deserve the same statement+path context
                stmt = transpile_statement(stmt, spark)
                if not stmt.strip():
                    continue  # consumed by the shim (e.g. CREATE MACRO)
                if self.will_produce_records(stmt):
                    df = None if self.materialize == "view" else spark.sql(stmt)
                    result = self._materialize(spark, db_path, df, stmt)
                else:
                    spark.sql(stmt)
            except ArnabError:
                raise
            except Exception as exc:
                raise StatementExecutionError(str(exc), stmt, self.path) from exc
        return result


def format_elapsed(seconds: float) -> str:
    """Human elapsed-time formatter (reference: session.rs:294-316)."""
    if seconds < 1:
        return f"{seconds * 1000:.0f}ms"
    if seconds < 60:
        return f"{seconds:.2f}s"
    mins, secs = divmod(seconds, 60)
    return f"{int(mins)}m{secs:.0f}s"


class Timer:
    """Tiny context timer for per-node status lines
    (reference: session.rs:234-253)."""

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.start
        return False
