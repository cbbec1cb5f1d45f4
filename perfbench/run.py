"""Commit-path benchmark of the CDC engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run sizes a local Spark session to the host, sets the workload up
several times from the seed (``setup_s`` is the median), runs a fixed
amount of work sized from ``--seconds`` (``workloads.work_units``),
checks every output against an independent reference outside the timed
region, and prints a report followed, as the last line, by one JSON
object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` reruns the same
workload with spans and Spark's event log on and reports the per-layer
metrics instead (``perfbench/overhead.py`` compares the two); it also
runs the workload's own probe, whose figures go to the report only. A
wrong result, or a declared metric the run did not measure, exits 1; a
checkout without the engine exits 2 before running.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "nifi_tekst_bundle_spark")
SETUP_REPS = 3

sys.path.insert(0, ROOT)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_memory_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_bytes: int) -> str:
    """A quarter of host memory, between 1 and 4 GiB: local mode runs
    every executor inside the driver JVM, and the machine is shared."""
    gib = max(1, min(4, total_bytes // (4 * 2**30)))
    return f"{gib}g"


def _cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.1) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period,), daemon=True)

    @staticmethod
    def tree_rss() -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * page
        me, total = os.getpid(), 0
        for pid in rss:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += rss[pid]
        return total

    def _loop(self, period: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop.wait(period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree_rss())
        return False


class Sessions:
    """Creates and fully stops local Spark sessions: stopping waits for
    the JVM process to exit."""

    def __init__(self, work: str, memory: str, event_log: str | None) -> None:
        self.work, self.memory, self.event_log = work, memory, event_log
        self.current = None

    def start(self, cores: int):
        self.stop()
        from nifi_tekst_bundle_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": self.memory,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.current = get_spark(app_name="perfbench", master=f"local[{cores}]",
                                 shuffle_partitions=cores, extra_conf=conf)
        return self.current

    def stop(self) -> None:
        if self.current is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.current.stop()
        self.current = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _wrap_engine(tracer, traced: bool) -> None:
    """Spans around ``LakeTable`` methods: ``merge_batch`` always (the
    commit times), the rest of the commit and read path when traced."""
    from nifi_tekst_bundle_spark.table.lake import LakeTable

    tracer.wrap(LakeTable, "merge_batch", "lake.merge_batch")
    if not traced:
        return
    for attr in ("_write_manifest", "_append_lineage", "_file_stats",
                 "_write_register_files", "optimize_layout", "manifest", "lookup",
                 "visible"):
        tracer.wrap(LakeTable, attr, f"lake.{attr}")


def metric_units(kind: str) -> dict:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The JSON result: every declared metric, each as measured. A
    declared metric the run did not measure is an error, not a zero."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"declared metrics not measured: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    return json.dumps({"correct": correct, "attempted": max(1, attempted),
                       "failed": failed, "metrics": metrics})


def run(args) -> int:
    import pyspark

    from perfbench.trace import CallSiteHook, Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, Ctx, Layers, Outcome

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    mem = driver_memory(_host_memory_bytes())
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # engine code that calls tempfile (catalog queries) writes inside the checkout
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    sessions = Sessions(work, mem, event_dir)
    tracer = Tracer()
    hook = CallSiteHook() if args.trace else None
    workload = WORKLOADS[args.workload]()
    out = Outcome()
    layer_values: dict = {}
    try:
        with RssSampler() as rss:
            clock = [("start", time.perf_counter())]
            ticks0 = _cpu_ticks()
            spark = sessions.start(nproc)
            ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                      traced=bool(args.trace), tracer=tracer, nproc=nproc,
                      new_session=sessions.start)
            clock.append(("session", time.perf_counter()))
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                workload.setup(ctx)
                setups.append(time.perf_counter() - t0)
            clock.append(("setup", time.perf_counter()))
            _wrap_engine(tracer, bool(args.trace))
            if hook is not None:
                hook.install()
            t_meas0 = time.time()
            workload.measure(ctx, out)
            t_meas1 = time.time()
            clock.append(("measure", time.perf_counter()))
            workload.check(ctx, out)
            clock.append(("check", time.perf_counter()))
            if hook is not None:
                jobs = read_event_log(os.path.join(event_dir, spark.sparkContext.applicationId))
                clock.append(("event_log", time.perf_counter()))
                lay = Layers(tracer, jobs, PACKAGE, t_meas0, t_meas1)
                clock.append(("attribute", time.perf_counter()))
                layer_values.update(lay.totals())
                layer_values.update(workload.layers(ctx, lay, out))
                # the traced run's own end-to-end figures: their ratio to an
                # untraced run of the same seed is the tracing overhead
                layer_values["trace.commit_p50_s"] = out.e2e["commit_p50_s"]
                layer_values["trace.scan_p50_s"] = out.e2e["scan_p50_s"]
                layer_values["trace.hook_s"] = hook.self_s
                layer_values["trace.hook_share"] = hook.self_s / (t_meas1 - t_meas0)
                layer_values["lake.lookup_p50_s"] = out.report["lookup_p50_s"]
                _write_trace(args, tracer, lay)
                clock.append(("layers", time.perf_counter()))
    finally:
        if hook is not None:
            hook.remove()
        tracer.close()
        sessions.stop()
        shutil.rmtree(work, ignore_errors=True)
    clock.append(("stop", time.perf_counter()))
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]

    e2e = dict(out.e2e, setup_s=statistics.median(setups))
    if args.trace:
        layer_values["process.peak_rss_mb"] = rss.peak / 2**20
    correct = out.failed == 0 and not out.problems
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "driver_memory": mem,
        "host_memory_gib": round(_host_memory_bytes() / 2**30, 1),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "setup_samples_s": setups,
        "phase_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(clock, clock[1:])},
        # CPU time the hypervisor gave to other guests, as a share of the
        # run: a contended host shows here, not in this program's figures
        "steal_share": round(ticks[7] / max(1, sum(ticks)), 4),
    }
    print("# host " + json.dumps(info))
    print("# end_to_end " + json.dumps(e2e))
    report = dict(out.report, ops_failed_ratio=out.failed / max(1, out.attempted),
                  peak_rss_mb=rss.peak / 2**20)
    print("# " + args.workload + " " + json.dumps(report, default=str))
    if layer_values:
        print("# per_layer " + json.dumps(layer_values))
    for p in out.problems:
        print(f"# WRONG: {p}")
    values, kind = (layer_values, "per_layer") if args.trace else (e2e, "end_to_end")
    print(result_line(correct, out.attempted, out.failed, values, metric_units(kind)))
    return 0 if correct else 1


def _write_trace(args, tracer, lay) -> None:
    """Spans and attributed jobs of a traced run, as JSON."""
    d = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "spans": tracer.to_json(),
            "jobs": [
                {"id": j.id, "start": j.start, "end": j.end, "site": j.site,
                 "phase": lay.phase[j.id], "task_s": j.task_s, "gc_s": j.gc_s,
                 "shuffle_write": j.shuffle_write}
                for j in lay.jobs
            ],
        }, fh)


if __name__ == "__main__":
    if not os.path.isdir(PACKAGE):
        print(f"no engine package at {PACKAGE}: run from the repository root",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(run(_args(sys.argv[1:])))
