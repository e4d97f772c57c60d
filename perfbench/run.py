"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from the
seed, builds the engine session at ``local[<usable cores / 2>]``, runs a cold
first pass, warm-up passes until two consecutive passes agree within
``SETTLE`` (between the workload's ``min_warmup`` and ``max_warmup``
passes), then measures ``--seconds // nominal_pass_s`` passes (at least
three); each op's time is its median over them.  Outputs are checked
after the timed region.  The last stdout line
is one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it holds the run metadata.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def _process_start() -> float:
    """Wall-clock time this process started (setup_s counts from here)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


#: process start on the perf_counter clock
T_PROCESS_PERF = time.perf_counter() - (time.time() - _process_start())

SETUP_REPS = 3
MIN_MEASURED = 3
SETTLE = 0.10
DRIVER_MEMORY = "1g"
END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
              ("op_geomean_s", "s"), ("peak_rss_mb", "MB")]


def _tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants (the driver JVM,
    the PySpark daemon and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total / 2**20


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _git_sha(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=False)
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def stop_jvm() -> None:
    """Stop the SparkContext and the driver JVM it launched, and wait for
    the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # half the usable cores: the task threads, the pandas-UDF workers
        # they feed, the JIT and GC threads and the driver then fit on the
        # cores instead of queueing for them
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)

    def conf(self, trace: bool) -> dict[str, str]:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap: resident memory then tracks what the run
            # touches, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.work}/tmp",
        }
        if trace:
            from tracing import eventlog_conf

            conf.update(eventlog_conf(os.path.join(self.work, "eventlog")))
        return conf

    def setup(self, workload):
        """SETUP_REPS set-ups: session build, input generation, preparation.
        The first counts from process start (JVM launch included); the
        others stop the session and set up again on the running JVM."""
        import gen
        from dataengineer_spark.session import build_session

        self.setups, self.builds = [], []
        spark = None
        for rep in range(SETUP_REPS):
            t0 = T_PROCESS_PERF if rep == 0 else time.perf_counter()
            if spark is not None:
                spark.stop()
            tb = time.perf_counter()
            spark = build_session("perfbench", master=f"local[{self.cores}]",
                                  extra_conf=self.conf(self.args.trace and rep == SETUP_REPS - 1))
            spark.sparkContext.setLogLevel("ERROR")
            self.builds.append(time.perf_counter() - tb)
            rep_dir = os.path.join(self.work, f"setup{rep}")
            shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
            self.props = gen.generate(self.args.workload, self.args.seed,
                                      os.path.join(rep_dir, "data"))
            workload.prepare(spark, os.path.join(rep_dir, "data"), rep_dir, self.props,
                             self.args.seed)
            self.setups.append(time.perf_counter() - t0)
        return spark

    def run(self) -> tuple[dict, dict]:
        from tracing import LAYERS, Tracer, install, layer_metrics, write_spans
        from workloads import WORKLOADS

        workload = WORKLOADS[self.args.workload]()
        ticks0 = _cpu_ticks()
        spark = self.setup(workload)
        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid
        tracer = Tracer(sc, bool(self.args.trace))
        if self.args.trace:
            install(tracer)

        results: dict[str, list] = {}
        errors: list[tuple[str, str]] = []
        op_walls: list[list[float]] = []
        op_spans: list[list[int]] = []
        rss = [_tree_rss_mb(jvm_pid)]
        between: list[float] = []

        def one_pass() -> float:
            walls, spans = [], []
            for op in workload.ops:
                tracer.op = len(tracer.spans)
                t0 = time.perf_counter()
                try:
                    with tracer.span(op.layer):
                        out = workload.run(op, tracer)
                except Exception as exc:  # an op failure is counted, not fatal
                    errors.append((f"{op.name}#{len(op_walls)}",
                                   f"{type(exc).__name__}: {exc}"[:400]))
                    out = None
                walls.append(time.perf_counter() - t0)
                spans.append(tracer.op)
                if out is not None:
                    results.setdefault(op.name, []).append(out)
                th = time.perf_counter()
                self.hygiene(spark, tracer)
                rss.append(_tree_rss_mb(jvm_pid))
                between.append(time.perf_counter() - th)
            op_walls.append(walls)
            op_spans.append(spans)
            return sum(walls)

        first_pass = one_pass()
        warm = [one_pass() for _ in range(workload.min_warmup)]
        passes = [first_pass] + warm
        settled = abs(passes[-1] - passes[-2]) <= SETTLE * passes[-1]
        while not settled and len(warm) < workload.max_warmup:
            warm.append(one_pass())
            settled = abs(warm[-1] - warm[-2]) <= SETTLE * warm[-1]
        n_before = len(op_walls)
        for _ in range(max(MIN_MEASURED, int(self.args.seconds // workload.nominal_pass_s))):
            one_pass()
        measured = op_walls[n_before:]
        measured_ops = [w for p in measured for w in p]
        # each op's median over the measured passes: a burst of host load
        # that slows a minority of the passes does not move it
        op_medians = [statistics.median(p[i] for p in measured)
                      for i in range(len(workload.ops))]

        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        meta = {
            "steal_share": round(ticks[7] / max(1, sum(ticks)), 4),
            "workload": self.args.workload, "seed": self.args.seed,
            "cpus": sc.defaultParallelism, "git_sha": _git_sha(self.root),
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "trace": bool(self.args.trace),
            "setups_s": self.setups, "first_pass_s": first_pass, "warmup_passes_s": warm,
            "warmup_settled": settled, "measured_passes": len(measured),
            "measured_ops": len(measured_ops),
            "op_walls_s": {op.name: [round(p[i], 4) for p in op_walls]
                           for i, op in enumerate(workload.ops)},
            "inputs": {k: v for k, v in self.props.items()
                       if k != "report_files"},
        }
        app_id = sc.applicationId
        t_stop = time.perf_counter()
        stop_jvm()
        t_check = time.perf_counter()
        problems = errors + workload.check(results)
        meta["untimed_s"] = {"between_ops": sum(between), "jvm_stop": t_check - t_stop,
                             "check": time.perf_counter() - t_check}
        meta["problems"] = [f"{key}: {msg}" for key, msg in problems[:20]]
        if self.args.trace:
            metrics, self_times = layer_metrics(
                tracer, op_spans[1], op_spans[n_before:], len(op_spans),
                os.path.join(self.work, "eventlog"), app_id,
                {"session.build_s": statistics.median(self.builds)})
            write_spans(tracer, os.path.join(
                self.root, ".perfbench", f"spans-{self.args.workload}-{self.args.seed}.json"))
            meta["self_time_first_measured_pass_s"] = self_times
            units = {layer.metric: layer.unit for layer in LAYERS}
        else:
            metrics = {
                "setup_s": statistics.median(self.setups),
                "first_pass_s": first_pass,
                "pass_s": sum(op_medians),
                "op_geomean_s": statistics.geometric_mean(op_medians),
                "peak_rss_mb": max(rss),
            }
            units = dict(END_TO_END)
        result = {
            "correct": not problems,
            "attempted": sum(len(p) for p in op_walls),
            "failed": len({key for key, _ in problems}),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return meta, result

    @staticmethod
    def hygiene(spark, tracer) -> None:
        """Between ops, untimed: count what the op left behind (persisted
        RDDs after ``gc.collect()``, temp views), then free it so the next
        op does not pay for eviction."""
        gc.collect()
        rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
        # the session catalog directly: catalog.listTables() costs 0.1-0.4 s
        seq = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*")
        views = [seq.apply(i).table() for i in range(seq.size())]
        tracer.count("tuning.blocks_left", len(rdds))
        tracer.count("tuning.temp_views_left", len(views))
        spark.catalog.clearCache()
        for rdd in rdds:
            rdd.unpersist(False)
        for v in views:
            spark.catalog.dropTempView(v)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    for p in (os.path.join(root, "tools"), root, here):
        sys.path.insert(0, p)
    bench = Bench(args, root)
    # everything the program and Spark write goes inside the checkout
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        meta, result = bench.run()
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        bench.cleanup()
    print("meta " + json.dumps(meta, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
