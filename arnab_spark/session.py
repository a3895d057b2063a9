"""Pipeline session: model discovery, macro loading, DAG build,
topological sort, run loop (reference: src/session.rs).

Differences from the reference, each an intentional improvement flagged
in SURVEY.md §1.3/§7:

- duplicate model ids error out (the reference silently keeps the last
  glob entry, session.rs:115);
- toposort detects cycles via ``graphlib`` (the reference's DFS recurses
  forever, session.rs:282-292);
- sibling order is lexicographic, so run order is deterministic (the
  reference inherits HashMap iteration order);
- model execution errors are collected and reported without aborting the
  run (parity with session.rs:234-277) but ``strict`` mode exits nonzero.
"""

from __future__ import annotations

import glob as globlib
import os
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from arnab_spark import catalog
from arnab_spark.config import Config
from arnab_spark.dialect import (
    _macros_for,
    dropped_macros_for,
    reap_returning_view,
    session_tables_for,
    set_warehouse_for,
)
from arnab_spark.errors import ArnabError, CyclicDependencyError, UnknownModelType
from arnab_spark.node import Node, NodeExecutionResult, NodeKind, Timer, format_elapsed
from arnab_spark.spark_utils import configure


def open_connection(spark, config: Config) -> None:
    """Open a connection on ``spark`` for ``run`` and ``run-file`` —
    the twin of the reference opening its DuckDB file and applying its
    SET loop before dispatch (main.rs:126-155). Parity confs (UTC,
    nanos-timestamp reads, …) go first so ``spark_settings`` can
    override them; then the warehouse's models reattach, so a session
    sees them before (or without) running the pipeline. Raises
    :class:`ArnabError` when a setting cannot be applied (fatal, like
    the reference's SET loop)."""
    configure(spark)
    for k, v in config.engine_settings.items():
        try:
            spark.conf.set(k, str(v))
        except Exception as exc:  # e.g. CANNOT_MODIFY_CONFIG (static conf)
            raise ArnabError(f"failed to apply spark_settings {k}={v}: {exc}") from exc
    if config.db_path:
        set_warehouse_for(spark, config.db_path)
        catalog.attach_warehouse(spark, config.db_path)


def close_connection(spark, config: Config) -> None:
    """End of a ``run`` or ``run-file``: persist the session's non-TEMP
    macros in the warehouse, like the reference's macros persist in the
    DuckDB file, and reap the last RETURNING view so no
    ``__arnab_returning_*`` view survives a completed run."""
    if config.db_path:
        catalog.record_macros(config.db_path, _macros_for(spark), dropped_macros_for(spark))
    reap_returning_view(spark)


@dataclass
class RunReport:
    """Outcome of one pipeline run (status printing:
    reference session.rs:234-277)."""

    executed: list[str] = field(default_factory=list)
    results: dict[str, NodeExecutionResult] = field(default_factory=dict)
    errors: dict[str, Exception] = field(default_factory=dict)
    elapsed: float = 0.0

    @property
    def ok(self) -> bool:
        return not self.errors


class Session:
    """Reference: session.rs:43-54 ``Session{config, db_conn}`` — the
    connection here is a SparkSession."""

    def __init__(self, config: Config, spark=None):
        """``spark=None`` is allowed for execution-free uses (viz builds
        the graph but never runs SQL, reference §3.3)."""
        self.config = config
        self.spark = spark
        self.nodes: dict[str, Node] = {}
        if spark is not None:
            open_connection(spark, config)

    # -- graph build (reference: session.rs:56-181) -------------------

    def discover_models(self) -> dict[str, Node]:
        """Recursive scan of models_dir (reference: session.rs:57-62,
        85-116). Non-.sql/.py files raise UnknownModelType
        (session.rs:98-104); duplicate ids error (improvement)."""
        nodes: dict[str, Node] = {}
        # glob everything (not '*.*') so extension-less files hit the
        # UnknownModelType error instead of being silently skipped
        pattern = os.path.join(self.config.models_dir, "**", "*")
        for path in sorted(globlib.glob(pattern, recursive=True)):
            if not os.path.isfile(path):
                continue
            stem, ext = os.path.splitext(os.path.basename(path))
            if ext == ".sql":
                kind = NodeKind.SQL
            elif ext == ".py":
                kind = NodeKind.PYTHON
            else:
                raise UnknownModelType(f"unknown model type: {path}")
            if stem in nodes:
                raise ArnabError(
                    f"duplicate model id '{stem}': {nodes[stem].path} and {path}"
                )
            with open(path, encoding="utf-8") as f:
                src = f.read()
            nodes[stem] = Node(
                path=path,
                id=stem,
                raw_src=src,
                kind=kind,
                materialize=self.config.materialization_for(stem),
                unique_key=(self.config.models.get(stem) or {}).get("unique_key"),
                partition_by=(self.config.models.get(stem) or {}).get("partition_by"),
                cluster_by=(self.config.models.get(stem) or {}).get("cluster_by"),
            )
        return nodes

    def load_macros(self) -> dict[str, str]:
        """Read every file under macro_path (reference: session.rs:65-80)."""
        macros: dict[str, str] = {}
        if not self.config.macro_path:
            return macros
        for path in sorted(globlib.glob(os.path.join(self.config.macro_path, "*"))):
            if os.path.isfile(path):
                with open(path, encoding="utf-8") as f:
                    macros[path] = f.read()
        return macros

    def build_graph(self) -> list[str]:
        """Discover, render, link, and topologically sort
        (reference: session.rs:56-181). Returns ids in execution order."""
        self.nodes = self.discover_models()
        macros = self.load_macros()
        known = set(self.nodes)
        for node in self.nodes.values():
            if node.kind is NodeKind.SQL:
                node.render(macros, known)
            else:
                self._load_python_model(node, known)
        # invert edges; warn on references to unknown models
        # (reference: session.rs:136-155)
        for node in self.nodes.values():
            for prev in sorted(node.prevs):
                self.nodes[prev].nexts.add(node.id)
        ts = TopologicalSorter(
            {nid: sorted(self.nodes[nid].prevs) for nid in sorted(self.nodes)}
        )
        try:
            order = list(ts.static_order())
        except CycleError as exc:
            raise CyclicDependencyError(f"model dependency cycle: {exc.args[1]}") from exc
        return order

    def _load_python_model(self, node: Node, known: set[str]) -> None:
        """PYTHON model kind: the .py file defines ``model(spark) ->
        DataFrame`` and optionally ``DEPENDS = ["other_model", ...]``."""
        namespace: dict = {}
        try:
            exec(compile(node.raw_src, node.path, "exec"), namespace)
        except Exception as exc:
            raise ArnabError(f"loading python model {node.path}: {exc}") from exc
        fn = namespace.get("model")
        if not callable(fn):
            raise ArnabError(f"python model {node.path} must define model(spark)")
        node.python_fn = fn
        node.prevs = set(namespace.get("DEPENDS", ())) & known

    # -- run loop (reference: session.rs:189-279) ---------------------

    def run(self, quiet: bool = False) -> RunReport:
        # temp tables live for one run, like the reference's DuckDB temp
        # objects live for one connection: drop the previous run's now,
        # not at its end, so the models stay queryable between runs
        tables = session_tables_for(self.spark)
        for name in tables:
            self.spark.catalog.dropTempView(name)
        tables.clear()
        report = RunReport()
        with Timer() as total:
            order = self.build_graph()
            for nid in order:
                node = self.nodes[nid]
                with Timer() as t:
                    try:
                        result = node.execute(self.spark, self.config.db_path)
                        report.results[nid] = result
                        report.executed.append(nid)
                        status = (
                            "CREATE VIEW"
                            if result.n_rows is None
                            else f"SELECT {result.n_rows}"
                        )
                    except Exception as exc:  # collected, not fatal
                        report.errors[nid] = exc
                        status = "ERROR"
                if not quiet:
                    label = f"[{nid}]"
                    print(f"{label:.<60} {status} ({format_elapsed(t.elapsed)})")
        report.elapsed = total.elapsed
        close_connection(self.spark, self.config)
        if not quiet:
            if report.errors:
                print(f"\n{len(report.errors)} model(s) failed:")
                for nid, exc in report.errors.items():
                    print(f"  {nid}: {exc}")
            print(f"done in {format_elapsed(report.elapsed)}")
        return report

    # -- visualization (reference: session.rs:183-187) ----------------

    def to_dot(self) -> str:
        """DOT text in the reference's shape (reference: graphviz.rs:11-41)."""
        if not self.nodes:
            self.build_graph()
        lines = ["digraph LR {"]
        for nid in sorted(self.nodes):
            lines.append(f"  {nid};")
        for nid in sorted(self.nodes):
            for nxt in sorted(self.nodes[nid].nexts):
                lines.append(f"  {nid} -> {nxt};")
        lines.append("}")
        return "\n".join(lines)
