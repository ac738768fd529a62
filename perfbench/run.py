"""KG benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run builds its inputs from the seed,
sets up (Spark session, inputs, base stores, warm-up), then repeats the
workload's measured cycle until ``--seconds`` have passed and checks
every op's output.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``).  Earlier lines tagged ``INFO`` and ``TRACE`` carry host
facts, per-workload figures and the layer attribution.  Everything the
run writes stays under ``.perfbench_work`` and ``.perfbench_out`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Pages per workload.  cold_build is sized so the per-page stages (the
# Python extract and the snapshot writes) take most of a build's wall;
# serve so a run of whole query cycles stays near a minute on a 4-core
# host.
PAGES = {"cold_build": 1000, "serve": 150}
# Skipping reruns after each build.
NOOPS = 2


class Context:
    def __init__(self, args, spark, tracer, workdir, nproc):
        self.root = ROOT
        self.seed = args.seed
        self.pages = PAGES[args.workload]
        self.noops = NOOPS
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.nproc = nproc


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PAGES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main(argv=None) -> None:
    args = parse_args(argv)
    # A terminated run still stops Spark and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("ferenda_spark", os.path.join("tools", "query_graph.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail_setup(f"{need} not found under {ROOT}")
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # Spark, its Python workers, the JVMs and the py4j launcher write only
    # here (HotSpot's perf-data file would otherwise go to /tmp).
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, workdir)
    finally:
        stop_processes()
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            table[int(d)] = (int(fields[1]), fields[19])
    return table


def _descendants() -> set[tuple[int, str]]:
    """(pid, start time) of every live process below this one."""
    table = _proc_table()
    found, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {pid for pid, (ppid, _) in table.items()
                    if ppid in frontier}
        found |= {(pid, table[pid][1]) for pid in frontier}
    return found


def _wait_gone(procs: set[tuple[int, str]], seconds: float) -> set:
    """Wait up to ``seconds`` for ``procs`` to end; those still alive."""
    deadline = time.monotonic() + seconds
    while True:
        table = _proc_table()
        alive = {(pid, st) for pid, st in procs
                 if table.get(pid, (0, None))[1] == st}
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.05)


def stop_processes() -> None:
    """End the Spark JVM and every other process this run started, and
    wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until this interpreter
    exits (it leaves when its stdin closes), and with it the Python
    worker daemon; a run returns only once they are gone.  Processes
    whose parent dies are re-parented, so the whole tree is listed
    before the JVM is told to leave."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    procs = _descendants()
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except (Py4JError, OSError):
            pass  # the JVM is told to leave through its stdin below
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    alive = _wait_gone(procs, 30)
    for pid, _ in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(alive, 30)
    for pid, _ in procs:  # reap those that are still this one's children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def _session(workdir: str, nproc: int):
    from ferenda_spark.session import get_spark
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job's status for the trace's counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, workdir: str) -> dict:
    import host
    import report
    from layertrace import Tracer
    from workloads import WORKLOADS

    nproc = host.nproc()
    facts = host.facts(nproc)

    t0 = time.perf_counter()
    spark = _session(workdir, nproc)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        wl = WORKLOADS[args.workload](Context(args, spark, tracer, workdir,
                                              nproc))
        t1 = time.perf_counter()
        wl.setup()
        setup_body = time.perf_counter() - t1
        wl.prepare_checks()
        check_before = wl.check_s
        t2 = time.perf_counter()
        wl.warm_up()
        warm = time.perf_counter() - t2 - (wl.check_s - check_before)
        setup_s = session_s + setup_body + warm

        # Repeat whole cycles (a cycle holds a fixed op mix): the
        # workload's minimum, then more while the next one is expected
        # to end before the deadline.
        cycles, last = 0, 0.0
        cpu0 = host.cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while (cycles < wl.min_cycles
               or time.perf_counter() + last < deadline):
            c0 = time.perf_counter()
            wl.cycle(traced=bool(args.trace))
            last = time.perf_counter() - c0
            cycles += 1
        facts["steal_share"] = host.steal_share(cpu0, host.cpu_ticks())
        if args.trace:
            wl.layer_probe()
            tracer.collect_counters()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        facts["jvm_vm_hwm_kb"] = host.vm_hwm_kb(jvm_pid)
    finally:
        tracer.uninstall()
        spark.stop()

    e2e = report.end_to_end(wl, setup_s)
    info = {"workload": args.workload, "seed": args.seed,
            "pages": wl.ctx.pages, "cycles": cycles,
            "setup_parts_s": {"session": session_s, "inputs_and_stores":
                              setup_body, "warm_up": warm},
            "host": facts,
            "walls_s": {"main": wl.main, "followup": wl.followup},
            "check_s": wl.check_s,
            "figures": report.workload_figures(wl),
            "failures": wl.failures[:20]}
    print("INFO " + json.dumps(info))
    metrics = e2e
    if args.trace:
        layers, trace_info = report.layers(wl, tracer, session_s)
        trace_info["end_to_end"] = e2e
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": tracer.spans, "layers": layers,
                       **trace_info}, f)
        trace_info["file"] = os.path.relpath(path, ROOT)
        print("TRACE " + json.dumps(trace_info))
        metrics = layers
    return {"correct": wl.failed == 0 and wl.attempted > 0,
            "attempted": wl.attempted, "failed": wl.failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
