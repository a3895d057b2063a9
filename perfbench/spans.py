"""Span tracing of the product path, from outside ``arnab_spark``.

``Tracer.install`` wraps the public functions of each module (and the
PySpark calls the modules make) with spans. A span records its name,
start, end, parent, pass id and the py4j calls made directly inside it.
Spans stay in memory; ``per_layer`` turns them, plus the Spark event
log, into per-layer self times and counters.

Nothing in ``arnab_spark/`` changes: every wrapper is installed on the
module or class attribute the product code looks up at call time.
While ``Tracer.active`` is false the wrappers only forward the call.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict

# span tuple slots
NAME, START, END, PARENT, PASS, PY4J_N, PY4J_S = range(7)

SPARK_SPANS = {
    "SparkSession.sql",
    "DataFrameWriter.parquet",
    "DataFrameWriter.save",
    "DataFrame.count",
}
WRITE_SPANS = {"DataFrameWriter.parquet", "DataFrameWriter.save"}
TRANSPILE = "transpile_statement"

# self time of a non-Spark span -> layer metric
LAYER_OF = {
    "get_spark": "spark_utils.get_spark_s",
    "Session.__init__": "session.open_s",
    "SparkSession.newSession": "session.open_s",
    "Session.build_graph": "session.build_graph_s",
    "Session.discover_models": "session.discover_s",
    "Session.run": "session.run_self_s",
    "Node.render": "node.render_s",
    "Node.execute": "node.execute_self_s",
    "get_sql_references": "depparse.refs_s",
    TRANSPILE: "dialect.transpile_self_s",
    "attach_warehouse": "catalog.attach_s",
    "record_model": "catalog.record_s",
    "record_macros": "catalog.record_s",
    "cli.main": "cli.stmt_s",
}

# a Spark span's time goes to the layer of its nearest non-Spark
# ancestor; these (ancestor, span) pairs have a metric of their own
SPARK_LAYER_OF = {
    ("Node.execute", "SparkSession.sql"): "node.analyze_s",
    ("Node.execute", "DataFrameWriter.parquet"): "node.write_s",
    ("Node.execute", "DataFrameWriter.save"): "node.write_s",
    ("Node.execute", "DataFrame.count"): "node.readback_s",
    ("cli.main", "DataFrameWriter.save"): "cli.noop_sink_s",
}


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.active = False
        self.pass_id = -1
        # pass id -> counter name -> value
        self.counters: dict = defaultdict(lambda: defaultdict(float))
        # perf_counter -> epoch seconds, to place Spark jobs in spans
        self.epoch_offset = time.time() - time.perf_counter()

    # -- recording ---------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.pass_id, 0, 0.0])
        idx = len(self.spans) - 1
        self.stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][END] = time.perf_counter()
        self.stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if on_result is not None:
                on_result(args, result)
            return result

        setattr(owner, attr, wrapper)

    def _hook_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if not tracer.active:
                    return _orig(conn, command)
                t = time.perf_counter()
                try:
                    return _orig(conn, command)
                finally:
                    if tracer.stack:
                        span = tracer.spans[tracer.stack[-1]]
                        span[PY4J_N] += 1
                        span[PY4J_S] += time.perf_counter() - t
                    else:
                        tracer.counters[tracer.pass_id]["py4j.calls"] += 1

            cls.send_command = send_command

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from arnab_spark import catalog, cli, depparse, node, session, spark_utils

        def count():
            return self.counters[self.pass_id]

        def attached(_args, ids):
            count()["catalog.attached"] += len(ids)

        def built(args, _order):
            nodes = args[0].nodes
            count()["session.models"] += len(nodes)
            count()["session.edges"] += sum(len(n.prevs) for n in nodes.values())

        def recorded(args, _result):
            # record_model rewrites the whole catalog file each call
            path = os.path.join(args[0], catalog.CATALOG_FILE)
            count()["catalog.json_bytes_rewritten"] += os.path.getsize(path)

        def macros_recorded(args, _result):
            path = os.path.join(args[0], catalog.MACROS_FILE)
            if os.path.isfile(path):
                count()["catalog.json_bytes_rewritten"] += os.path.getsize(path)

        self.wrap(spark_utils, "get_spark", "get_spark")
        self.wrap(session.Session, "__init__", "Session.__init__")
        self.wrap(session.Session, "build_graph", "Session.build_graph", built)
        self.wrap(session.Session, "discover_models", "Session.discover_models")
        self.wrap(session.Session, "run", "Session.run")
        self.wrap(node.Node, "render", "Node.render")
        self.wrap(node.Node, "execute", "Node.execute")
        self.wrap(node, "get_sql_references", "get_sql_references")
        self.wrap(depparse, "get_sql_references", "get_sql_references")
        self.wrap(node, "transpile_statement", TRANSPILE)
        self.wrap(cli, "transpile_statement", TRANSPILE)
        self.wrap(catalog, "attach_warehouse", "attach_warehouse", attached)
        self.wrap(catalog, "record_model", "record_model", recorded)
        self.wrap(catalog, "record_macros", "record_macros", macros_recorded)
        self.wrap(cli, "main", "cli.main")
        self.wrap(SparkSession, "newSession", "SparkSession.newSession")
        self.wrap(SparkSession, "sql", "SparkSession.sql")
        self.wrap(DataFrameWriter, "parquet", "DataFrameWriter.parquet")
        self.wrap(DataFrameWriter, "save", "DataFrameWriter.save")
        self.wrap(DataFrame, "count", "DataFrame.count")
        self._hook_py4j()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "pass", "py4j_calls", "py4j_s"],
                    "epoch_offset": self.epoch_offset,
                    "spans": self.spans,
                },
                f,
            )


# ------------------------------------------------------ event log


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_metrics(plan: dict, name: str):
    """Accumulator ids of every metric called ``name`` in a plan tree."""
    for m in plan.get("metrics") or []:
        if m.get("name") == name:
            yield m["accumulatorId"]
    for child in plan.get("children") or []:
        yield from _plan_metrics(child, name)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs from an uncompressed Spark event log, each with its group,
    submission time and summed task metrics; and the SQL executions
    that wrote files, each with its start time and file count."""
    # Spark 4 writes a directory of rolled files, events_<n>_<app id>
    files = sorted(
        (os.path.join(root, f) for root, _, names in os.walk(log_dir) for f in names
         if not f.startswith(("appstatus", "."))),
        key=lambda p: int(os.path.basename(p).split("_")[1])
        if os.path.basename(p).startswith("events_") else 0,
    )
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    executions: dict[int, dict] = {}
    files_acc: dict[int, int] = {}  # "number of written files" id -> execution
    for ev in _events(files):
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if kind == "SparkListenerSQLExecutionStart":
                executions[eid] = {"submit": ev["time"] / 1000.0, "files": 0}
            for acc in _plan_metrics(ev["sparkPlanInfo"], "number of written files"):
                files_acc[acc] = eid
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in ev["accumUpdates"]:
                if acc in files_acc:
                    executions[files_acc[acc]]["files"] += value
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "id": ev["Job ID"],
                "group": props.get("spark.jobGroup.id", ""),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": 0,
                "tasks": 0,
                "task_run_s": 0.0,
                "task_wait_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "shuffle_write_bytes": 0,
                "output_bytes": 0,
                "output_rows": 0,
            }
            jobs[job["id"]] = job
            for sid in ev["Stage IDs"]:
                stage_job[sid] = job["id"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_submit[sid] = info.get("Submission Time", 0)
            if sid in stage_job:
                jobs[stage_job[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_job:
                continue
            job = jobs[stage_job[sid]]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            launch = info.get("Launch Time", 0)
            if stage_submit.get(sid):
                job["task_wait_s"] += max(0, launch - stage_submit[sid]) / 1000.0
            job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out = m.get("Output Metrics") or {}
            job["output_bytes"] += out.get("Bytes Written", 0)
            job["output_rows"] += out.get("Records Written", 0)
    writes = [e for e in executions.values() if e["files"]]
    return sorted(jobs.values(), key=lambda j: j["id"]), writes


# ------------------------------------------------------ accounting


def _innermost(spans: list[list], idxs: list[int], epoch_offset: float, t: float) -> int:
    """Deepest span of ``idxs`` whose interval holds epoch time ``t``."""
    best, best_start = -1, None
    for i in idxs:
        s = spans[i]
        if s[START] + epoch_offset <= t <= s[END] + epoch_offset:
            if best_start is None or s[START] >= best_start:
                best, best_start = i, s[START]
    return best


def _ancestor(spans, i: int, names) -> int:
    while i >= 0 and spans[i][NAME] not in names:
        i = spans[i][PARENT]
    return i


def _non_spark_ancestor(spans, i: int) -> int:
    i = spans[i][PARENT]
    while i >= 0 and spans[i][NAME] in SPARK_SPANS:
        i = spans[i][PARENT]
    return i


def layer_times(spans: list[list], passes: set[int]) -> dict[str, float]:
    """Self time of every span in ``passes``, summed per layer metric."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s[PASS] in passes and s[PARENT] >= 0:
            child_time[s[PARENT]] += s[END] - s[START]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s[PASS] not in passes:
            continue
        self_s = s[END] - s[START] - child_time[i]
        name = s[NAME]
        if name in SPARK_SPANS:
            anc = _non_spark_ancestor(spans, i)
            anc_name = spans[anc][NAME] if anc >= 0 else None
            if _ancestor(spans, i, {TRANSPILE}) >= 0:
                metric = "dialect.shim_spark_s"
            elif (anc_name, name) in SPARK_LAYER_OF:
                metric = SPARK_LAYER_OF[(anc_name, name)]
            elif anc_name in LAYER_OF:
                metric = LAYER_OF[anc_name]
            else:
                metric = "spark.unowned_s"
            out[metric] += self_s
        elif name == TRANSPILE:
            # py4j calls made by the shim itself (DML persist, probes,
            # swaps) are Spark work, the rest is text rewriting
            out["dialect.shim_spark_s"] += s[PY4J_S]
            out["dialect.transpile_self_s"] += self_s - s[PY4J_S]
        else:
            out[LAYER_OF[name]] += self_s
    return out


def per_layer(
    tracer: Tracer, passes: list[int], pass_walls: list[float], log: tuple | None
) -> dict[str, float]:
    """Per-pass means over the traced ``passes`` (wall times
    ``pass_walls``) and the set-up's ``get_spark`` time, plus the
    unattributed share of the passes' wall."""
    n = len(passes)
    pset = set(passes)
    spans = tracer.spans
    out = {k: v / n for k, v in layer_times(spans, pset).items()}
    wall = sum(pass_walls)
    out["trace.unattributed_share"] = (wall - sum(out.values()) * n) / wall
    out["trace.passes"] = n
    out["trace.run_s"] = statistics.median(pass_walls)
    setup = next(s for s in spans if s[PASS] == -1 and s[NAME] == "get_spark")
    out["spark_utils.get_spark_s"] = setup[END] - setup[START]
    for p in passes:
        for k, v in tracer.counters[p].items():
            out[k] = out.get(k, 0.0) + v / n

    idxs = [i for i, s in enumerate(spans) if s[PASS] in pset]
    calls = defaultdict(float)
    for i in idxs:
        s = spans[i]
        calls["py4j.calls"] += s[PY4J_N]
        if s[NAME] == TRANSPILE:
            calls["dialect.statements"] += 1
        if _ancestor(spans, i, {TRANSPILE}) >= 0:
            calls["dialect.py4j_calls"] += s[PY4J_N]
        if s[NAME] in ("record_model", "record_macros"):
            calls["catalog.record_calls"] += 1
    for k, v in calls.items():
        out[k] = v / n

    if log is not None:
        jobs, writes = log
        eo = tracer.epoch_offset
        groups = {f"pb:{p}:" for p in passes}
        mine = [j for j in jobs if j["group"][: j["group"].find(":", 3) + 1] in groups]
        agg = defaultdict(float)
        for j in mine:
            for k in ("stages", "tasks", "task_run_s", "task_wait_s", "gc_s",
                      "input_bytes", "shuffle_write_bytes", "output_bytes"):
                agg["spark." + k] += j[k]
            agg["spark.jobs"] += 1
            i = _innermost(spans, idxs, eo, j["submit"])
            if i < 0:
                continue
            name = spans[i][NAME]
            if name in WRITE_SPANS:
                agg["useful"] += 1
            if _ancestor(spans, i, {TRANSPILE}) >= 0:
                agg["dialect.shim_jobs"] += 1
            elif spans[_non_spark_ancestor(spans, i)][NAME] == "Node.execute":
                if name == "DataFrame.count":
                    agg["node.readback_jobs"] += 1
                if name in WRITE_SPANS:
                    agg["node.rows_written"] += j["output_rows"]
                    agg["node.bytes_written"] += j["output_bytes"]
        for w in writes:
            i = _innermost(spans, idxs, eo, w["submit"])
            if (
                i >= 0
                and spans[i][NAME] in WRITE_SPANS
                and spans[_non_spark_ancestor(spans, i)][NAME] == "Node.execute"
            ):
                agg["node.files_written"] += w["files"]
        jobs_n = agg.pop("spark.jobs", 0)
        out["spark.useful_job_share"] = agg.pop("useful", 0) / jobs_n if jobs_n else 0.0
        out["spark.jobs"] = jobs_n / n
        for k, v in agg.items():
            out[k] = v / n
    return out
