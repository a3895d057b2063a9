"""Persistent model catalog — parity with the reference's file-backed
DuckDB catalog.

In the reference, every model lands in the ``db_path`` DuckDB file
(``CREATE OR REPLACE VIEW/TABLE``, reference: node.rs:156-174) which the
next process reopens (reference: main.rs:126-132) — so ``run-file``
scripts and later sessions see previously materialized models without
re-running the pipeline. Spark temp views are session-scoped, so this
module records every materialized model in a JSON sidecar inside the
warehouse directory and re-applies it on attach:

- ``table`` / ``incremental`` models re-register as views over their
  persisted Parquet (:func:`register_table`),
- ``view`` models re-create their (transpiled) SELECT as a temp view.
  A SELECT over a file source names the source's bound view
  (``_arnab_src_<md5>``, see :func:`arnab_spark.dialect.bind_source`);
  the entry's ``"sources"`` map (``{name: {format, paths, options}}``)
  lets attach bind those names again before it re-creates the view.
  Entries written before the map existed hold Spark's file-query text
  (``parquet.`p```) and attach as they are.

Entries keep pipeline (topological) order: a view recorded after its
upstream table re-applies after it, so references resolve. Upserts
update in place — re-running one model must not move it past a
downstream view in the order. A view whose upstream vanished re-raises
only on *query*, like a DuckDB view over a dropped table; attach warns
and skips it. Sidecar writes are read-modify-writes under one ``flock``.

Table data changes through :func:`replace_parquet`, the one crash-safe
way to replace a model's or a script table's Parquet dir. It leaves the
table's schema next to its data (``SCHEMA_FILE``, promoted with the data
in the same swap), the way DuckDB's catalog knows every table's schema:
registering a table — at attach, or after a write — reads that schema
instead of inferring it, so it neither scans the data nor runs a
schema-inference Spark job on a Parquet footer. A dir without the file
(written before it existed, or by a path that drops it) still registers
through inference.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arnab_spark.errors import ArnabError

CATALOG_FILE = "_arnab_catalog.json"
MACROS_FILE = "_arnab_macros.json"
LOCK_FILE = "_arnab.lock"
#: the schema a table dir was written with, kept inside the dir (Spark's
#: and pyarrow's listings skip ``_``-prefixed files)
SCHEMA_FILE = "_arnab_schema.json"

#: suffixes of the two sibling dirs a Parquet replace passes through
STAGING, OLD = "__staging", "__old"


def has_part_files(root: str) -> bool:
    """True when ``root`` holds at least one ``.parquet`` part file
    (``_SUCCESS`` and friends don't count) — the readability invariant
    every replace must leave behind. A file listing, not a Spark read."""
    return any(
        f.endswith(".parquet") for _r, _d, files in os.walk(root) for f in files
    )


def recover(dest: str) -> None:
    """Undo a replace that crashed between its two renames: ``dest`` is
    gone but its old copy survived, so put the old copy back (that
    write is lost, the earlier data is not)."""
    if not os.path.isdir(dest) and os.path.isdir(dest + OLD):
        os.rename(dest + OLD, dest)


def _nullable(dt):
    """``dt`` with every field, array element and map value nullable —
    the shape Spark gives any Parquet read (``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def replace_parquet(spark, dest: str, df, partition_cols=()) -> int:
    """Replace the Parquet dir ``dest`` with ``df`` and return its row
    count — the one crash-safe replace every table write goes through
    (the Spark twin of DuckDB's atomic ``CREATE OR REPLACE TABLE``,
    reference: node.rs:156-174). The count comes from the write itself
    (an ``Observation`` on ``df``), not from a second job.

    ``df`` is written to a staging dir first, so a failing write leaves
    ``dest`` untouched (``df`` may itself read ``dest``) and removes the
    staging dir. Two repairs keep the staged copy readable with the
    right types:

    - an EMPTY relation written with ``partitionBy`` produces no part
      file (only ``_SUCCESS``), which reads back as
      UNABLE_TO_INFER_SCHEMA — DuckDB keeps an empty table with its
      schema, so the schema-bearing empty part file is written flat;
    - hive dirs carry partition values as text and the read re-infers
      their type (a VARCHAR column of digits reads back as INT) — when
      any partition column reads back with another type, type fidelity
      beats layout and the data is rewritten flat (the partition types
      come from the directory names: no Spark job).

    The staged dir then gets its ``SCHEMA_FILE``: ``df``'s schema made
    nullable, with kept partition columns last — what a Parquet read of
    the dir would infer. Then the old copy moves aside, staging is
    promoted and the old copy dropped: a crash at any point leaves the
    old or the new data (each with its own schema) intact, and
    :func:`recover` (run here and by :func:`attach_warehouse`) restores
    the old copy after a crash between the two renames."""
    recover(dest)
    staging, old = dest + STAGING, dest + OLD
    pcols = list(partition_cols)
    data = T.StructType([f for f in df.schema if f.name not in pcols])
    rows = Observation()
    try:
        writer = df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(staging)
        if not has_part_files(staging):
            spark.createDataFrame([], df.schema).write.mode("overwrite").parquet(staging)
            pcols = []
        elif pcols:
            back, want = dict(spark.read.schema(data).parquet(staging).dtypes), dict(df.dtypes)
            if any(back.get(c) != want[c] for c in pcols):
                df.write.mode("overwrite").parquet(staging)
                pcols = []
        if not has_part_files(staging):
            raise ArnabError(f"staged write of {dest} left no parquet part file")
        schema = df.schema
        if pcols:  # a hive read puts the partition columns last
            schema = T.StructType(list(data) + [df.schema[c] for c in pcols])
        with open(os.path.join(staging, SCHEMA_FILE), "w", encoding="utf-8") as f:
            f.write(_nullable(schema).json())
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)  # dest is untouched
        raise
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(dest):
        os.rename(dest, old)
    os.rename(staging, dest)
    shutil.rmtree(old, ignore_errors=True)
    return rows.get["n"]


def read_table(spark, dest: str):
    """A DataFrame over the table dir ``dest``, read with the schema it
    was written with (``SCHEMA_FILE``): no Spark job. A dir without the
    file falls back to schema inference (one footer-read job)."""
    path = os.path.join(dest, SCHEMA_FILE)
    if not os.path.isfile(path):
        return spark.read.parquet(dest)
    if not has_part_files(dest):
        # with a given schema Spark would read it as an empty table
        raise ArnabError(f"table dir {dest} holds no parquet part file")
    with open(path, encoding="utf-8") as f:
        schema = T.StructType.fromJson(json.load(f))
    return spark.read.schema(schema).parquet(dest)


def register_table(spark, name: str, dest: str) -> None:
    """Register the table dir ``dest`` as the temp view ``name``."""
    read_table(spark, dest).createOrReplaceTempView(name)


def _read_json(path: str) -> dict:
    if not os.path.isfile(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def load_catalog(db_path: str) -> dict[str, dict]:
    return _read_json(os.path.join(db_path, CATALOG_FILE))


def _write_json(db_path: str, name: str, update) -> None:
    """Read-modify-write the JSON sidecar ``name`` in ``db_path`` under
    an exclusive ``flock`` on ``LOCK_FILE``, so concurrent writers never
    lose an update. ``update(data)`` edits the dict in place and returns
    whether to write it. Temp file + ``os.replace``, so a crash
    mid-write leaves the previous file intact."""
    os.makedirs(db_path, exist_ok=True)
    path = os.path.join(db_path, name)
    with open(os.path.join(db_path, LOCK_FILE), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        data = _read_json(path)
        if not update(data):
            return
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=1)
        os.replace(tmp, path)


def record_model(
    db_path: str, model_id: str, materialize: str, select_sql: str | None = None
) -> None:
    """Upsert one model's catalog entry."""
    entry = {"materialize": materialize}
    if select_sql is not None:
        from arnab_spark.dialect import bound_sources_in

        entry["select"] = select_sql
        sources = bound_sources_in(select_sql)
        if sources:
            entry["sources"] = sources

    def upsert(cat: dict) -> bool:
        # dict assignment keeps an existing key's insertion position —
        # exactly the in-place upsert the ordering contract needs
        cat[model_id] = entry
        return True

    _write_json(db_path, CATALOG_FILE, upsert)


def remove_model(db_path: str, model_id: str) -> None:
    """Delete one model/table's catalog entry (script-level DROP TABLE)."""
    _write_json(db_path, CATALOG_FILE, lambda cat: cat.pop(model_id, None) is not None)


def record_macros(db_path: str, macros: dict, dropped: set | None = None) -> None:
    """Persist the session's NON-TEMP DuckDB-style macros (parity: the
    reference's CREATE MACRO lands in the db_path DuckDB file and is
    visible to every later process, while CREATE TEMP MACRO dies with
    the connection). ``dropped`` names are REMOVED from the persisted
    file — DROP MACRO must be durable like DuckDB's, not resurrect on
    the next session (round-5 advice). Snapshot-write is idempotent."""
    persistent = {
        name: {"params": params, "body": body, "is_table": is_table}
        for name, (params, body, is_table, is_temp) in macros.items()
        if not is_temp
    }
    dropped = dropped or set()
    if not persistent and not dropped:
        return
    path = os.path.join(db_path, MACROS_FILE)

    def merge(existing: dict) -> bool:
        for name in dropped:
            existing.pop(name, None)
        existing.update(persistent)
        # nothing persisted and nothing to erase: leave no file behind
        return bool(existing) or os.path.isfile(path)

    _write_json(db_path, MACROS_FILE, merge)


def _attach_macros(spark, db_path: str) -> list[str]:
    stored = _read_json(os.path.join(db_path, MACROS_FILE))
    if not stored:
        return []
    from arnab_spark.dialect import _macros_for

    reg = _macros_for(spark)
    for name, e in stored.items():
        reg.setdefault(name, (e["params"], e["body"], e["is_table"], False))
    return sorted(stored)


def _replace_model_ref(sql: str, name: str, repl: str) -> str:
    """Replace whole-word, unqualified, non-call references to model
    ``name`` in ``sql`` with ``repl`` — quote-aware, skipping ``x.name``
    member access and ``name(...)`` function calls."""
    out: list[str] = []
    quote: str | None = None
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"', "`"):
            quote = ch
            out.append(ch)
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            tok = sql[i:j]
            prev = next((c for c in reversed(out) if not c.isspace()), "")
            k = j
            while k < n and sql[k].isspace():
                k += 1
            nxt = sql[k] if k < n else ""
            if tok.lower() == name.lower() and prev != "." and nxt != "(":
                out.append(repl)
            else:
                out.append(tok)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def attach_warehouse(spark, db_path: str, prefix: str = "") -> list[str]:
    """Re-expose every cataloged model in ``spark``'s session — the
    Spark twin of reopening the reference's DuckDB file. Returns the
    attached model ids; broken entries (e.g. a table dir deleted out
    from under the catalog) are warned and skipped, never fatal.

    ``prefix`` namespaces the registered views (the ATTACH … AS alias
    path registers ``alias__model``): view-model SELECTs get their
    sibling-model references rewritten to the prefixed names so the
    chain still resolves (the same over-approximate-then-intersect dep
    extraction the engine uses, reference: node.rs:94-98)."""
    attached: list[str] = []
    # macros first: a cataloged view's SELECT may call one
    _attach_macros(spark, db_path)
    cat = load_catalog(db_path)
    for model_id, entry in cat.items():
        try:
            if entry["materialize"] in ("table", "incremental"):
                dest = os.path.join(db_path, model_id)
                recover(dest)
                register_table(spark, prefix + model_id, dest)
                if not prefix:
                    # the session's OWN warehouse is writable: record the
                    # backing dir so dialect-level DML persists through a
                    # staged swap (ATTACH-aliased catalogs stay read-only)
                    from arnab_spark.dialect import table_backing_for

                    table_backing_for(spark)[model_id.lower()] = dest
            else:
                from arnab_spark.dialect import bind_source

                select = entry["select"]
                for name, src in entry.get("sources", {}).items():
                    text = bind_source(spark, src["format"], src["paths"], src["options"])
                    # a vanished file binds as file-query text: Spark
                    # then names the missing path
                    select = select.replace(name, text)
                if prefix:
                    from arnab_spark.depparse import get_sql_references

                    for ref in get_sql_references(select) & set(cat):
                        select = _replace_model_ref(select, ref, prefix + ref)
                spark.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {prefix + model_id} "
                    f"AS ({select})"
                )
            attached.append(model_id)
        except Exception as exc:  # noqa: BLE001 — attach is best-effort
            print(f"warning: could not attach model '{model_id}': {exc}")
    return attached
