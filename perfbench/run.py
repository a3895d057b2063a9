"""Product-path benchmark: ``Session.run`` and ``run-file`` on generated
workloads, end to end (``--trace 0``) or per layer (``--trace 1``).

    python3 perfbench/run.py --workload wide-dag --seed 1 --seconds 15 --trace 0

One Python process on ``local[4]`` runs one workload as a closed loop
with one client:

1. set-up: process start, ``get_spark``, and a first connection
   (``Session``) on an empty warehouse;
2. the cold pass: the first pass in the fresh process;
3. warm passes until ``--seconds`` have passed and at least
   ``MIN_WARM_PASSES`` have run. A warm pass opens a new
   connection (``spark.newSession()``) on the warehouse the previous
   pass left behind, then runs the project or script;
4. output checks against DuckDB running the same SQL files, outside the
   timed loop.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (see BENCHMARK.json). The line before it,
prefixed ``# meta``, holds the run's metadata. Notes on what each
metric means are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "4"
# warm ops below this count make op_s.p90 a weak estimate
P90_MIN_OPS = 100
# the warm loop runs at least this many passes. Pass times fall by about
# a third over the first passes as the JIT warms up, so the pass count
# moves run_s and the op percentiles; BENCHMARK.json's run_seconds is
# set below the time these passes take on a 4-core box, so this floor,
# not the clock, fixes the count there
MIN_WARM_PASSES = 8


def _process_start_epoch() -> float:
    """Wall-clock time this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _spark_env(work: str, trace: bool) -> None:
    """Point Spark's temporary files, warehouse and event log at ``work``
    (absolute paths, so Python and the JVM agree on them)."""
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # temporary files of Python, the launcher and the JVM stay in the
    # work directory too; the JVM's perf counters stay in memory
    os.environ["TMPDIR"] = tmp
    lines = [
        f"spark.sql.warehouse.dir {work}/spark-warehouse",
        "spark.driver.extraJavaOptions -XX:+PerfDisableSharedMem "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work}/eventlog",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a small heap keeps the JVM's footprint, and so peak_rss_mb, tied
    # to the work rather than to how far the collector lets the heap grow;
    # peak_rss_mb is the footprint under this cap, not at the product's
    # 8 GB default (perfbench/README.md)
    os.environ["ARNAB_SPARK_DRIVER_MEM"] = "512m"


def open_first_connection(work: str):
    """Set-up: start Spark and open a connection on an empty warehouse."""
    from arnab_spark import spark_utils
    from arnab_spark.config import Config
    from arnab_spark.session import Session

    spark = spark_utils.get_spark("perfbench", cpus=CPUS)
    empty = os.path.join(work, "empty")
    os.makedirs(os.path.join(empty, "models"), exist_ok=True)
    Session(
        Config(db_path=os.path.join(empty, "warehouse"), models_dir=os.path.join(empty, "models")),
        spark,
    )
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is None:
        return  # already stopped
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> list[int]:
    """Box-wide CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_s(pid) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _quantile(values: list[float], q: int) -> float:
    """Exact q-th percentile (inclusive linear interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _metrics(kind: str, values: dict) -> dict:
    """The result's metrics: every ``kind`` metric BENCHMARK.json names,
    with its unit from there; a counter that never fired reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }


def _meta(args, workload) -> dict:
    import duckdb
    import pyspark

    rev = None
    with contextlib.suppress(Exception):
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": workload.HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_rev": rev,
    }


class OpClock:
    """Latency of each op: one model in ``run`` (a ``Node.execute``
    call) or one statement in ``run-file`` (from one top-level
    ``transpile_statement`` call to the next, or to the end of the
    script). Installed in both modes; it reads the clock once per op,
    and in trace mode also gives each op its own Spark job group."""

    def __init__(self):
        self.starts: list[float] = []
        self.set_group = None  # callable(op_name) in trace mode

    def _mark(self, name: str) -> None:
        self.starts.append(time.perf_counter())
        if self.set_group is not None:
            self.set_group(name)

    def install(self) -> None:
        from arnab_spark import cli, node

        clock = self
        execute = node.Node.execute

        def timed_execute(self, *args, **kwargs):
            clock._mark(self.id)
            try:
                return execute(self, *args, **kwargs)
            finally:
                clock.starts.append(-time.perf_counter())

        node.Node.execute = timed_execute
        transpile = cli.transpile_statement

        def timed_transpile(stmt, spark=None):
            clock._mark(f"stmt{len(clock.starts)}")
            return transpile(stmt, spark)

        cli.transpile_statement = timed_transpile

    def latencies(self, end: float) -> list[float]:
        """Op latencies since the last reset; an op with no explicit end
        ends where the next op (or the pass, at ``end``) starts."""
        out = []
        marks = self.starts
        for i, t in enumerate(marks):
            if t < 0:
                continue
            nxt = marks[i + 1] if i + 1 < len(marks) else end
            out.append(abs(nxt) - t)
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = _process_start_epoch()
    load_start = os.getloadavg()
    ticks_start = _cpu_ticks()
    # set-up is timed from process start; importing the product first
    # also makes a checkout without it fail before anything is written
    import arnab_spark  # noqa: F401

    trace = bool(args.trace)
    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _spark_env(work, trace)
        os.chdir(work)
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
            tracer.active = True
        spark = open_first_connection(work)
        setup_main = time.time() - t_proc
        if tracer is not None:
            tracer.active = False
        result = _measure(args, work, spark, tracer, setup_main)
    finally:
        if spark is not None:
            _stop_spark(spark)  # no-op when the run already stopped it
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    meta, line = result
    meta["loadavg_start"] = load_start
    meta["loadavg_end"] = os.getloadavg()
    # steal is CPU time the hypervisor gave to other guests: a noisy
    # neighbour shows here rather than in the load average
    delta = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    meta["cpu_steal_share"] = delta[7] / max(1, sum(delta))
    meta["cpu_busy_share"] = 1 - (delta[3] + delta[4]) / max(1, sum(delta))
    meta["run_wall_s"] = time.time() - t_proc
    print("# meta " + json.dumps(meta))
    print(json.dumps(line))
    return 0


def _measure(args, work, spark, tracer, setup_main):
    import workloads

    trace = tracer is not None
    workload = workloads.WORKLOADS[args.workload](work, args.seed)
    clock = OpClock()
    clock.install()
    workload.clock = clock
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    if trace:
        sc = spark.sparkContext
        pass_box = {"id": 0}

        def set_group(op: str) -> None:
            sc.setJobGroup(f"pb:{pass_box['id']}:{op}", "", False)

        clock.set_group = set_group

    def one_pass(pass_id: int, traced: bool):
        clock.starts = []
        if trace:
            pass_box["id"] = pass_id
            set_group("open")
            tracer.pass_id = pass_id
            tracer.active = traced
        cpu0, jcpu0 = time.process_time(), _cpu_s(jvm_pid)
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()) as out:
            ops, failed = workload.run_pass(spark)
        t1 = time.perf_counter()
        if trace:
            tracer.active = False
            if traced:
                c = tracer.counters[pass_id]
                c["proc.py_cpu_s"] += time.process_time() - cpu0
                c["proc.jvm_cpu_s"] += _cpu_s(jvm_pid) - jcpu0
                c["catalog.attach_warnings"] += out.getvalue().count("could not attach")
        return t1 - t0, ops, failed, clock.latencies(t1)

    attempted = failed_ops = 0
    cold, ops, failed, _ = one_pass(0, traced=trace)
    attempted += ops
    failed_ops += failed

    walls = {True: [], False: []}
    traced_ids = []
    latencies: list[float] = []
    t_end = time.perf_counter() + args.seconds
    pass_id = 0
    while True:
        pass_id += 1
        traced = trace and pass_id % 2 == 0
        wall, ops, failed, lat = one_pass(pass_id, traced)
        attempted += ops
        failed_ops += failed
        walls[traced].append(wall)
        if traced:
            traced_ids.append(pass_id)
        else:
            latencies += lat
        if time.perf_counter() >= t_end and pass_id >= MIN_WARM_PASSES:
            break

    if trace:
        pass_box["id"] = "post"
        set_group("-")  # later jobs belong to no measured pass
    rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
    checks = workload.check()
    mismatches = sum(1 for c in checks if not c.ok)
    for c in checks:
        if not c.ok:
            print(str(c), file=sys.stderr)
    extra = {}
    if trace:
        with contextlib.redirect_stdout(io.StringIO()):
            (
                extra["session.reuse_failures"],
                extra["catalog.example_attach_warnings"],
            ) = workload.defect_probe(spark)
    java = spark._jvm.System.getProperty("java.version")
    _stop_spark(spark)

    failed_total = failed_ops + mismatches
    meta = _meta(args, workload)
    meta.update({
        "java": java,
        "setup_s": setup_main,
        "cold_run_s": cold,
        "warm_passes": len(walls[False]),
        "warm_pass_s": walls[False],
        "warm_ops": len(latencies),
        "p90_sample_ok": len(latencies) >= P90_MIN_OPS,
        "failed_ops": failed_ops,
        "check_mismatches": mismatches,
        "checks": [f"{c.name}:{'OK' if c.ok else 'MISMATCH'}:{c.spark_rows}" for c in checks],
        "failed_share": failed_total / attempted,
        "peak_rss_mb_by_process": rss,
    })
    line = {"correct": failed_total == 0, "attempted": attempted, "failed": failed_total}

    if not trace:
        line["metrics"] = _metrics("end_to_end", {
            "setup_s": setup_main,
            "cold_run_s": cold,
            "run_s": statistics.median(walls[False]),
            "op_s.p50": _quantile(latencies, 50),
            "op_s.p90": _quantile(latencies, 90),
            "peak_rss_mb": rss["python"] + rss["jvm"],
        })
        return meta, line

    from spans import per_layer, read_event_log

    layer = per_layer(
        tracer, traced_ids, walls[True], read_event_log(os.path.join(work, "eventlog"))
    )
    layer.update(extra)
    layer["trace.overhead"] = layer["trace.run_s"] / statistics.median(walls[False])
    meta["untraced_run_s"] = statistics.median(walls[False])
    spans_path = os.path.join(HERE, "results", f"{args.workload}-s{args.seed}-spans.json")
    tracer.dump(spans_path)
    meta["spans_file"] = os.path.relpath(spans_path, ROOT)
    line["metrics"] = _metrics("per_layer", layer)
    return meta, line


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    sys.exit(main())
