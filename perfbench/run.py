"""riptide-spark benchmark: one command per workload run.

Run from the repository root:

    python3 perfbench/run.py --workload extract_incremental --seed 1 --seconds 12 --trace 0

Load comes from this one driver process at ``local[<cores>]`` with no other
clients. Set-up (JVM start, input generation from the seed) is timed as
``setup_s``; then the workload's unit of work repeats until ``--seconds``
have passed, and every output is checked.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
turns Spark's event log on, does the same set-up, then runs one traced rep of
the workload and one of the other workload (so every layer is measured) and
a one-core pass with no Spark; it reports the per-layer metrics of
BENCHMARK.json.

Logs go to stderr. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every scratch file
lives under ``.perfbench_work/`` in the current directory and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

STARTED = time.perf_counter()
ROOT = os.getcwd()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - STARTED:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the workers import the program from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM, the spark-submit launcher's included: temp files inside
    # ``work`` and no hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The program's default driver memory, whatever the caller's environment.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    sys.path.insert(0, ROOT)


def start_session(work: str, cores: int, event_dir: str | None = None):
    from riptide_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = build_session("riptide-perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, then wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    import procstat

    started = procstat.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while True:
        alive = [pid for pid in started if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.1)


def host_pace_ms() -> float:
    """Median wall ms of a fixed single-thread pure-Python loop: the pace of
    one core of the host at that moment, so a run made while other tenants
    load the host can be told apart."""
    walls = []
    for _ in range(5):
        started = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        walls.append((time.perf_counter() - started) * 1000.0)
    return statistics.median(walls)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``host_ticks`` readings
    that the hypervisor gave to other tenants while this machine wanted to
    run. Only this benchmark runs here, so that is time its threads lost."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def measure(run, wl, seconds: float) -> tuple[list, dict]:
    """Repeat the workload's rep until ``seconds`` have passed; return the
    reps and the end-to-end figures of the timed window."""
    import procstat

    me = os.getpid()
    cpu0, ticks0 = procstat.tree_cpu_s(me), procstat.host_ticks()
    started = time.perf_counter()
    reps = []
    while not reps or time.perf_counter() - started < seconds:
        rep_ticks0 = procstat.host_ticks()
        reps.append(wl.rep())
        log(f"rep {len(reps)}: {reps[-1].docs} docs in {reps[-1].wall_s:.2f}s, "
            f"steal {steal_share(rep_ticks0, procstat.host_ticks()):.1%}")
    wall = time.perf_counter() - started
    cpu = procstat.tree_cpu_s(me) - cpu0
    docs = sum(r.docs for r in reps)
    steal = steal_share(ticks0, procstat.host_ticks())
    log(f"window: {len(reps)} reps, {docs} docs in {wall:.2f}s ({docs / wall:.1f} docs/s), "
        f"cpu {cpu:.2f}s, steal {steal:.1%}")
    return reps, {
        "docs_per_unstolen_s": docs / (wall * (1.0 - steal)),
        "cpu_s_per_kdoc": cpu / (docs / 1000.0),
    }


def traced_pass(run, wl) -> dict[str, float]:
    """One traced rep of this workload and one of the other (so every layer
    is measured), then the event-log reduction and the one-core pass."""
    import eventlog
    import procstat
    from onecore import one_core_pass
    from workloads import DedupCascade, ExtractIncremental, jvm_gc_s

    extract = wl if isinstance(wl, ExtractIncremental) else ExtractIncremental(run)
    dedup = wl if isinstance(wl, DedupCascade) else DedupCascade(run)
    gc0, own_start = jvm_gc_s(run.spark), time.time()
    pss = procstat.PeakPss(os.getpid()).start()
    own = wl.rep()
    peak_pss_mb = pss.stop()
    own_end, gc_s = time.time(), jvm_gc_s(run.spark) - gc0
    if wl is extract:
        ext_rep = own
        dedup.setup()
        dedup_start = time.time()
        dedup_rep = dedup.rep()
        dedup_end = time.time()
    else:
        dedup_rep, dedup_start, dedup_end = own, own_start, own_end
        extract.setup()
        ext_rep = extract.rep(batches=2)  # a fresh job and a resumed one
    extract.check(ext_rep)
    dedup.check(dedup_rep)

    stages = eventlog.load_stages(run.path("events"))
    layers = extract.layers(ext_rep, stages)
    layers.update(dedup.layers(dedup_rep, stages, dedup_start, dedup_end))
    layers["jvm.gc_s"] = gc_s
    layers["peak_pss_mb"] = peak_pss_mb
    layers["trace.docs_per_s"] = own.docs / own.wall_s
    layers.update(one_core_pass())
    return layers


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "riptide_spark", "__init__.py")):
        log("riptide_spark is not in the current directory; run from the repository root")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    prepare_environment(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    run = None
    try:
        event_dir = os.path.join(work, "events") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        spark = start_session(work, cores, event_dir)
        log("session started")
        run = workloads.Run(spark=spark, work=work, cores=cores, seed=args.seed, log=log)
        wl = workloads.WORKLOADS[args.workload](run)
        wl.setup()
        setup_s = time.perf_counter() - STARTED
        log(f"setup {setup_s:.2f}s")
        if args.trace:
            figures = traced_pass(run, wl)
        else:
            reps, figures = measure(run, wl, args.seconds)
            for rep in reps:
                wl.check(rep)
            figures["setup_s"] = setup_s
    finally:
        shutdown(run.spark if run else None)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    log(f"host pace {host_pace_ms():.1f} ms (fixed loop, after shutdown)")
    missing = sorted(set(units) - set(figures))
    if missing:
        log(f"metrics not measured: {missing}")
        return 1
    log(f"{run.attempted} operations, {run.failed} failed")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": figures[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
