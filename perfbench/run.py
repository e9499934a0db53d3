#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload his_reload --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. checks the input tables, a byte-identical copy of the engine's sf0.001
   synthetic test data under ``perfbench/data/`` (``SHA256SUMS``); the
   seed only draws the registry query order and the readback parameters;
2. starts Spark on ``local[2]`` with fixed driver memory, JVM options and
   local dirs, and runs one untimed full-size warm pass (JIT and codegen
   caches fill here; all of it counts in ``setup_s``);
3. for ``--seconds`` runs whole timed passes, each after an in-process
   session restart, a JVM GC and the ambient CPU and I/O probes, all
   outside the timing;
4. checks the last timed pass's outputs (outside every timed window and
   outside ``setup_s``), stops Spark and the JVM, removes its work
   directory and prints one JSON line last.

With ``--trace 1`` the window runs a traced pass, then an untraced one:
the per-layer metrics come from the traced pass, and its time minus the
untraced pass's is the tracing overhead (the later pass is the warmer
one, so this errs high). The full record (every pass, every span, the
probes) is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("his_reload", "registry")
SCALE = 0.001          # scale factor of the input tables, both workloads
DATA_DIR = os.path.join(ROOT, "perfbench", "data", f"sf{SCALE}")
DRIVER_MEM = "2g"      # spark.driver.memory, the same on every run
# Spark task threads. Two on a 4-vCPU box leave room for the driver,
# the py4j server and the JIT, so a run does not queue on its own threads.
TASK_THREADS = 2
# One GC thread (serial collector: the inputs are a few hundred kilobytes),
# and a fixed set of JIT compiler threads so that their CPU time stays
# readable in /proc for the whole run (see ``tree_cpu_s``).
JVM_OPTS = "-XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads"
# A traced run skips its untraced comparison pass (and so the overhead
# figure) once this much wall has gone, to stay well inside 180 s.
TRACE_COMPARE_BY_S = 110


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def verify_inputs(data_dir: str) -> dict:
    """Every input table against ``SHA256SUMS``; the checked digests."""
    import hashlib

    sums = {}
    with open(os.path.join(data_dir, "SHA256SUMS"), encoding="ascii") as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data_dir, name), "rb") as f:
                got = hashlib.sha256(f.read()).hexdigest()
            if got != digest:
                raise RuntimeError(f"{name}: sha256 {got} != {digest}")
            sums[name] = digest
    return sums


def configure_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    settings = {
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }
    for path in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return settings


class Session:
    """The SparkSession the run restarts between passes (same JVM)."""

    def __init__(self, work: str, cpus: int) -> None:
        self.cpus = cpus
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTS}",
        }
        self.spark = None

    def start(self):
        from etl_his_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=self.conf)
        return self.spark

    def restart(self):
        self.spark.stop()
        gc.collect()
        self.start()
        self.spark._jvm.System.gc()
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus that of this Python driver."""
        pid = self.spark._jvm.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# HotSpot names its JIT compiler threads "C1 CompilerThreadN" and
# "C2 CompilerThreadN" (truncated to 15 characters in /proc).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> dict:
    """CPU seconds (user + system, reaped children included) used so far
    by process ``root`` and every live descendant (the Python driver, the
    JVM and Spark's Python workers): ``all``, and ``jit``, the part spent
    by the JVM's JIT compiler threads."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total = jit = 0
    for pid in cpu:
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p != root:
            continue
        total += cpu[pid]
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii") as fh:
                    stat = fh.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            if comm.startswith(JIT_THREADS):
                jit += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return {"all": total / tick, "jit": jit / tick}


def ambient() -> dict:
    """The repository's CPU and I/O probes, recorded beside a pass and
    never used to drop or rescale it."""
    from bench import ambient_io_probe, ambient_probe

    return {"cpu_probe_s": ambient_probe(), "io_probe_s": ambient_io_probe()}


def make_workload(name: str, data_dir: str, work: str, seed: int):
    from perfbench.workloads import HisReload, Registry

    if name == "his_reload":
        return HisReload(data_dir, os.path.join(work, "publish"), seed)
    return Registry(data_dir, seed)


def generic_layers(wl, tracer, execs: list[dict], pass_rec: dict) -> dict:
    """Layer metrics every workload reports, from one traced pass."""
    from perfbench.stats import clip, union_length

    spans = [s for s in tracer.spans if s["pass"] == tracer.pass_id]
    build, action, py4j = wl.phase_spans(spans)
    intervals = [(e["start"], e["end"]) for e in execs]
    build_s = sum(e - s for s, e in build)
    jobs_s = sum(union_length(clip(intervals, s, e)) for s, e in build)
    # Layer coverage: the engine's own spans plus Spark's SQL executions
    # (the operator work a noop write or a report runs), never the
    # benchmark's wrapper spans.
    p0, p1 = pass_rec["start"], pass_rec["end"]
    layer = [(s["start"], s["end"]) for s in spans if not s["own"]] + intervals
    covered = union_length(clip(layer, p0, p1))
    return {
        "plans.build_s": build_s,
        "plans.build_jobs_s": jobs_s,
        "plans.build_driver_s": build_s - jobs_s,
        "plans.build_jobs": sum(1 for x in execs
                                if any(s <= x["start"] <= e for s, e in build)),
        "plans.py4j_calls": py4j,
        "plans.action_s": sum(e - s for s, e in action),
        "trace.coverage": covered / (p1 - p0),
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the cleanup in main's finally


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, ROOT)
    import etl_his_spark.registry  # noqa: F401 - fail fast outside a checkout

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)  # metric names and units
    from perfbench.stats import summarize
    from perfbench.workloads import Op

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    env = configure_env(work)
    cpus = min(TASK_THREADS, len(os.sched_getaffinity(0)))
    session = Session(work, cpus)
    op = Op()
    record = {"workload": args.workload, "seed": args.seed, "scale": SCALE,
              "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
              "driver_memory": DRIVER_MEM, "jvm_opts": JVM_OPTS, "env": env}
    try:
        data_dir = DATA_DIR
        record["inputs"] = verify_inputs(data_dir)
        wl = make_workload(args.workload, data_dir, work, args.seed)
        record["params"] = getattr(wl, "params", None) or {"queries": wl.queries}

        s0 = time.time()
        spark = session.start()
        record["session_start_s"] = time.time() - s0
        warm = time.time()
        record["warm_pass"] = wl.run_pass(spark, op, 0)
        record["warm_pass_s"] = time.time() - warm

        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(args.workload)
        passes = []
        setup_cpu_s = tree_cpu_s(os.getpid())["all"]
        t_first = time.time()
        setup_wall_s = t_first - T_START
        pass_id = 0
        while True:
            pass_id += 1
            r0 = time.time()
            spark = session.restart()
            restart_s = time.time() - r0
            probes = ambient()
            traced = tracer is not None and pass_id == 1
            if traced:
                tracer.pass_id = pass_id
                tracer.install()
            cpu0 = tree_cpu_s(os.getpid())
            start = time.time()
            try:
                res = wl.run_pass(spark, op, pass_id, tracer if traced else None)
            finally:
                if traced:
                    tracer.uninstall()
            rec = {"pass": pass_id, "traced": traced, "start": start,
                   "end": time.time(), "restart_s": restart_s, **probes, **res}
            cpu1 = tree_cpu_s(os.getpid())
            # JIT compilation still running from the warm-up is left out.
            rec["pass_jit_cpu_s"] = cpu1["jit"] - cpu0["jit"]
            rec["pass_cpu_s"] = cpu1["all"] - cpu0["all"] - rec["pass_jit_cpu_s"]
            if traced:
                from perfbench.tracing import sql_executions, stage_totals

                execs = sql_executions(spark, start)
                layers = {"session.restart_s": restart_s, **stage_totals(spark)}
                layers.update(generic_layers(wl, tracer, execs, rec))
                layers.update(wl.layer_metrics(spark, tracer, execs))
                rec["layers"] = layers
            passes.append(rec)
            done = time.time() - t_first >= args.seconds
            if done and (tracer is None or pass_id >= 2
                         or time.time() - T_START > TRACE_COMPARE_BY_S):
                break

        # The last timed pass's outputs, in its own session.
        check0 = time.time()
        if args.workload == "registry":
            from perfbench.oracle import Oracle

            with Oracle(data_dir) as oracle:
                wl.check(op, oracle)
        else:
            wl.check(spark, op)
        record["check_s"] = time.time() - check0
        record["peak_rss_mb"] = session.peak_rss_mb()
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it

    record["passes"] = passes
    record["errors"] = op.errors
    plain = [p for p in passes if not p["traced"]] or passes
    summary = {k: summarize([p[k] for p in plain])
               for k in ("pass_s", "pass_cpu_s", "pass_jit_cpu_s", "prep_s", "final_s")}
    summary["setup_s"] = summarize([setup_cpu_s])
    summary["setup_wall_s"] = summarize([setup_wall_s])
    summary["peak_rss_mb"] = summarize([record["peak_rss_mb"]])
    record["summary"] = summary
    if args.trace:
        traced = next(p for p in passes if p["traced"])
        layers = dict(traced["layers"])
        layers["session.start_s"] = record["session_start_s"]
        layers["session.peak_rss_mb"] = record["peak_rss_mb"]
        layers.update(wl.shape(layers))
        if len(passes) > 1:
            overhead = traced["pass_s"] - summary["pass_s"]["median"]
            layers["trace.overhead_s"] = overhead
            layers["trace.overhead_share"] = overhead / summary["pass_s"]["median"]
        record["layers"] = layers
        from perfbench.tracing import add_self_times

        add_self_times(tracer.spans)
        record["spans"] = tracer.spans
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": summary[m["name"]]["median"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    record["run_s"] = time.time() - T_START
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    for err in op.errors:
        print(f"failed: {err}")
    print("run " + json.dumps({k: record[k] for k in (
        "workload", "seed", "scale", "cpus", "driver_memory", "jvm_opts", "env", "params",
        "run_s")}))
    print("summary " + json.dumps(summary))
    if args.trace:
        print("layers " + json.dumps(record["layers"]))
    print(json.dumps({"correct": op.failed == 0, "attempted": op.attempted,
                      "failed": op.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
