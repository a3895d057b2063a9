"""Seeded input generators for the product-path benchmark.

Everything here is a pure function of its arguments: the same seed
writes byte-identical inputs. Nothing reads outside the benchmark's
own work directory.

- ``write_tables``: TPC-H-ish ``orders`` and ``lineitem`` Parquet files
  with the fixture schemas the example projects read (FIXTURES.md), at
  ``scale`` times the shipped examples' scale (scale 1 = 1,500 orders).
- ``write_wide_dag``: a layered model project in DuckDB dialect.
- ``dml_script``: a ``run-file`` script of DDL, DML and reads.

The generated SQL keeps to the rewrite surface the dialect shim
documents (``arnab_spark/dialect.py`` module docstring): ``count()``,
``read_parquet``, FROM-first, ``* EXCLUDE``, top-level ``QUALIFY`` only,
``GROUP BY ALL``, ``strftime``, ``CREATE MACRO`` and the DML lift. It is
also plain DuckDB 1.0 SQL with exact arithmetic (BIGINT and DECIMAL), so
DuckDB running the same files is an exact oracle for Spark's outputs.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tables(out_dir: str, scale: int, seed: int) -> dict[str, str]:
    """Write the source tables; returns table name -> file path."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    n_orders = 1500 * scale
    day0 = np.datetime64("1992-01-01", "ms")
    odays = rng.integers(0, 3500, n_orders)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, 150 * scale, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
            "o_orderdate": day0 + odays.astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, 200 * scale, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 10 * scale, n_li).astype(np.int64),
            "l_linenumber": lineno,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": day0
            + (np.repeat(odays, lines) + rng.integers(1, 121, n_li)).astype(
                "timedelta64[D]"
            ),
        }
    )

    for name, table in (("orders", orders), ("lineitem", lineitem)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths


# ----------------------------------------------------------- wide DAG

_MACROS = """\
{% macro bucket(col, n) %}((({{ col }}) % {{ n }} + {{ n }}) % {{ n }}){% endmacro %}
{% macro clip(col) %}CAST(({{ col }}) % 1000003 AS BIGINT){% endmacro %}
"""


_KINDS = ("agg", "count", "from_first", "qualify", "exclude", "join", "union", "macro")


def _wide_model(rng: random.Random, kind: str, parents: list[str]) -> str:
    """One model of template ``kind`` over ``parents`` (joins and unions
    read both, the rest the first). Every model outputs (k, g, v), all
    BIGINT, with v kept below 2**20 so no sum can overflow."""
    p, q = parents
    m = rng.randint(3, 17)
    # each template projects in a subquery first, so no select-list
    # alias shadows an input column (the engines resolve that clash
    # differently)
    if kind == "agg":
        return (
            f"SELECT k2 AS k, g2 AS g, {{{{ clip('sum(v)') }}}} AS v\n"
            f"FROM (SELECT g AS k2, {{{{ bucket('g * {m} + k', 23) }}}} AS g2, v FROM {p}) t\n"
            f"GROUP BY ALL"
        )
    if kind == "count":
        return (
            f"SELECT k, g, count() AS v\n"
            f"FROM (SELECT k % {m * 11} AS k, g FROM {p}) t\nGROUP BY ALL"
        )
    if kind == "from_first":
        return f"FROM {p}\nSELECT k, g, (v * {m} + 1) % 1000003 AS v\nWHERE k % {m} <> 1"
    if kind == "qualify":
        return (
            f"SELECT k, g, v\nFROM {p}\n"
            f"QUALIFY row_number() OVER (PARTITION BY g ORDER BY v DESC, k) <= {m}"
        )
    if kind == "exclude":
        return (
            f"SELECT * EXCLUDE (g), {{{{ bucket('k + v', {m}) }}}} AS g\nFROM {p}"
        )
    if kind == "macro":
        return (
            f"SELECT {{{{ bucket('k', 997) }}}} AS k, g,\n"
            f"       {{{{ clip('v * {m}') }}}} AS v\nFROM {p}"
        )
    if kind == "join":
        return (
            f"SELECT a.k, a.g, {{{{ clip('a.v + b.v') }}}} AS v\n"
            f"FROM {p} a\n"
            f"JOIN (SELECT g, {{{{ clip('sum(v)') }}}} AS v FROM {q} GROUP BY g) b\n"
            f"  ON a.g = b.g"
        )
    return (
        f"SELECT k, g, {{{{ clip('sum(v)') }}}} AS v\n"
        f"FROM (SELECT k % 997 AS k, g, v FROM {p}\n"
        f"      UNION ALL SELECT k % 997 AS k, g, v FROM {q}) u\n"
        f"GROUP BY ALL"
    )


def write_wide_dag(
    project_dir: str,
    sources: dict[str, str],
    seed: int,
    widths: tuple[int, ...],
) -> dict[str, str]:
    """Write a layered model project (models/, macros/, config.yaml).

    Layer 0 holds three source views over ``sources``; layer ``i`` has
    ``widths[i-1]`` models, each reading one or two models of the two
    layers below, with the templates in a fixed rotation. Every model
    that no other model reads is a table, so every model feeds some
    checked table. The wiring is the same for every seed, so every seed
    does the same amount of work; the seed picks the constants in the
    SQL and the source data. Returns {model id: materialize}.
    """
    rng = random.Random(seed)
    models_dir = os.path.join(project_dir, "models")
    macro_dir = os.path.join(project_dir, "macros")
    os.makedirs(models_dir, exist_ok=True)
    os.makedirs(macro_dir, exist_ok=True)
    with open(os.path.join(macro_dir, "helpers.sql"), "w") as f:
        f.write(_MACROS)

    li, od = sources["lineitem"], sources["orders"]
    layers = [
        {
            "src_li_a": f"SELECT l_orderkey AS k, l_partkey % 50 AS g,\n"
            f"       CAST(floor(l_quantity) AS BIGINT) AS v\nFROM read_parquet('{li}')",
            "src_li_b": f"FROM '{li}'\nSELECT l_partkey AS k, l_suppkey AS g,\n"
            f"       CAST(floor(l_extendedprice * 100) AS BIGINT) % 1000003 AS v",
            "src_orders": f"SELECT o_custkey AS k, o_orderkey % 40 AS g,\n"
            f"       CAST(floor(o_totalprice) AS BIGINT) % 1000003 AS v\n"
            f"FROM read_parquet('{od}')",
        }
    ]
    n = 0
    read: set[str] = set()
    for depth, width in enumerate(widths, start=1):
        pool = list(layers[-1]) + (list(layers[-2]) if depth > 1 else [])
        layer = {}
        for j in range(width):
            kind = _KINDS[n % len(_KINDS)]
            parents = [pool[j % len(pool)], pool[(j + depth) % len(pool)]]
            layer[f"m{depth}_{j:02d}"] = _wide_model(rng, kind, parents)
            read.update(parents if kind in ("join", "union") else parents[:1])
            n += 1
        layers.append(layer)

    derived = [mid for layer in layers[1:] for mid in layer]
    tables = {m for m in derived if m not in read}
    materialize = {}
    for depth, layer in enumerate(layers):
        for mid, sql in layer.items():
            materialize[mid] = "table" if mid in tables else "view"
            with open(os.path.join(models_dir, f"{mid}.sql"), "w") as f:
                f.write(f"-- generated, layer {depth}\n{sql}\n")

    lines = [
        "models_dir: models",
        "macro_path: macros",
        "db_path: warehouse",
        "spark_settings:",
        '  spark.sql.shuffle.partitions: "4"',
        "models:",
    ]
    for mid in sorted(tables):
        lines += [f"  {mid}:", "    materialize: table"]
    with open(os.path.join(project_dir, "config.yaml"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return materialize


# --------------------------------------------------------- DML script


def dml_script(seed: int, n_batches: int) -> str:
    """A ``run-file`` script over the warehouse table ``base``.

    It rebuilds ``work`` anew first, so every pass leaves the
    same final state and passes stay comparable. ``summary`` captures
    the reads' results in a checkable table.
    """
    rng = random.Random(seed)
    mod = n_batches + 1
    stmts = [
        "CREATE MACRO net(p, d) AS p * (1 - d)",
        "CREATE OR REPLACE TABLE work AS\n"
        "SELECT l_orderkey, l_linenumber, l_partkey,\n"
        "       CAST(l_quantity AS BIGINT) AS qty,\n"
        "       CAST(l_extendedprice AS DECIMAL(12,2)) AS price,\n"
        "       CAST(l_discount AS DECIMAL(4,2)) AS disc,\n"
        "       l_returnflag AS flag,\n"
        "       CAST(l_shipdate AS DATE) AS shipdate\n"
        f"FROM base WHERE l_orderkey % {mod} = 0",
    ]
    batches = list(range(1, mod))
    rng.shuffle(batches)
    reads = [
        "SELECT strftime(shipdate, '%Y-%m') AS month, flag, count() AS n,\n"
        "       sum(price) AS revenue\nFROM work\nGROUP BY ALL",
        "SELECT flag, sum(net(price, disc)) AS net_revenue, count() AS n\n"
        "FROM work\nGROUP BY ALL",
        "FROM work\nSELECT l_partkey % 20 AS bucket, max(qty) AS top_qty, count() AS n\n"
        "GROUP BY ALL",
    ]
    for i, b in enumerate(batches):
        stmts.append(
            "INSERT INTO work\n"
            "SELECT l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS BIGINT),\n"
            "       CAST(l_extendedprice AS DECIMAL(12,2)), CAST(l_discount AS DECIMAL(4,2)),\n"
            "       l_returnflag, CAST(l_shipdate AS DATE)\n"
            f"FROM base WHERE l_orderkey % {mod} = {b}"
        )
        if i % 2 == 1:
            q = rng.randint(5, 45)
            stmts.append(
                f"UPDATE work SET price = price + {rng.randint(1, 9)}.{rng.randint(10, 99)}\n"
                f"WHERE qty > {q} AND l_orderkey % {mod} = {b}"
            )
        if i % 3 == 2:
            stmts.append(
                f"DELETE FROM work WHERE qty < {rng.randint(2, 6)} "
                f"AND flag = '{rng.choice('ANR')}'"
            )
        stmts.append(reads[i % len(reads)])
    stmts.append(
        "CREATE OR REPLACE TABLE summary AS\n"
        "SELECT strftime(shipdate, '%Y-%m') AS month, flag, count() AS n,\n"
        "       sum(net(price, disc)) AS net_revenue, CAST(sum(qty) AS BIGINT) AS qty\n"
        "FROM work\nGROUP BY ALL"
    )
    return ";\n\n".join(stmts) + ";\n"
