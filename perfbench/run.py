"""Run one benchmark workload in this process and print its result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It starts a pinned local Spark
deployment SETUP_SAMPLES times (each start followed by the workload's
first call), runs timed passes of the workload until --seconds of timed
work are done (at least one pass), checks every output, releases
everything it made, and prints one JSON object as its last stdout line.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones; the traced run also writes its spans,
one JSON object per line prefixed ``span``, to stderr.

Every file the run writes lives under ``.perfbench_tmp/`` in the
checkout, which is removed when the run ends, failed or not.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # noqa: E402  (no __pycache__ in the checkout)

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the pinned deployment
MAX_CORES = 4
DRIVER_MEM = "2g"
SETUP_SAMPLES = 2  # session starts, each with a first call, per run


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tree_files(root: str) -> set[str]:
    out = set()
    for dp, dns, fns in os.walk(root):
        out.update(os.path.join(dp, f) for f in fns)
        out.update(os.path.join(dp, d) for d in dns)
    return out


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, from /proc/stat
    (0 where that is not readable)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tmp_entries() -> set[str]:
    """Names in /tmp, where the program's temp files would land if they
    ignored the run's temp root (empty where /tmp cannot be listed)."""
    try:
        return set(os.listdir("/tmp"))
    except OSError:
        return set()


# ---------------------------------------------------------------- session
def deployment(tmp: str) -> dict:
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "spark_local_dirs": os.path.join(tmp, "spark-local"),
        "java_tmpdir": os.path.join(tmp, "jvm"),
        "py_tmpdir": os.path.join(tmp, "py"),
    }


def pin_environment(dep: dict) -> None:
    """Env read by the JVM launch and inherited by the Python workers."""
    for d in ("spark_local_dirs", "java_tmpdir", "py_tmpdir"):
        os.makedirs(dep[d], exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = dep["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(dep["cores"])
    os.environ["SPARK_LOCAL_DIRS"] = dep["spark_local_dirs"]
    os.environ["TMPDIR"] = dep["py_tmpdir"]
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # the workers unpickle functions of the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = dep["py_tmpdir"]


def start_session(dep: dict):
    from geminigraph_spark.session import get_spark

    return get_spark(
        "perfbench", cores=dep["cores"], shuffle_partitions=dep["cores"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                # a pre-touched heap of the pinned size: the JVM's resident
                # memory no longer depends on when G1 chooses to grow it
                f"-Xms{dep['driver_mem']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={dep['java_tmpdir']} -XX:-UsePerfData",
            # keep every job and stage of a run for span attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def shutdown_jvm() -> None:
    """Stop the session, then the JVM, and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from harness import process_tree

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    procs = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        traceback.print_exc()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for p in procs:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().split(")")[-1].split()[0] == "Z":
                        break  # exited, waiting to be reaped by its parent
            except OSError:
                break
            time.sleep(0.05)


# ------------------------------------------------------------------- run
def run(args, tmp: str, result: dict) -> None:
    """Set up, run the passes, and fill ``result`` (values, ops, info)."""
    import layers
    import workloads
    from harness import OpsCounter, Tracer

    dep = deployment(tmp)
    pin_environment(dep)
    ops = result["ops"] = OpsCounter()
    tracer = result["tracer"] = Tracer(bool(args.trace), f"pb{os.getpid()}", get_sc=active_sc)
    quiet = Tracer(False, tracer.run_id)  # set-up calls are not layer work

    def new_ctx(spark, tr=quiet):
        return workloads.Ctx(spark, tr, ops, dep["py_tmpdir"], args.seed, dep["cores"])

    info = result["info"]
    info.update(deployment=dep, seed=args.seed, workload=args.workload)

    # set-up samples: (re)start the session and make the first call
    setup = {"session": [], "first_call": [], "total": []}
    spark = None
    for _ in range(SETUP_SAMPLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with ops.op("session.start"), tracer.span("session.start", "session"):
            spark = start_session(dep)
        t1 = time.perf_counter()
        with tracer.span("setup.first_call", "session"):
            workloads.first_call(new_ctx(spark), args.workload)
        t2 = time.perf_counter()
        setup["session"].append(t1 - t0)
        setup["first_call"].append(t2 - t1)
        setup["total"].append(t2 - t0)
    import numpy
    import pyarrow
    import pyspark

    info["versions"] = {"spark": spark.version, "pyspark": pyspark.__version__,
                        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}
    passes = []
    measured = 0.0
    while not passes or measured < args.seconds:
        first_span = len(tracer.spans)
        ctx = new_ctx(spark, tracer)
        out = workloads.run_pass(ctx, args.workload)
        total = sum(ctx.times.values())
        measured += total
        passes.append({"times": dict(ctx.times), "total": total, "out": out,
                       "spans": tracer.spans[first_span:]})
    out = passes[0]["out"]
    info.update(setup=setup, phases=[p["times"] for p in passes], sizes=out["sizes"],
                passes=len(passes))
    info["supersteps"] = {k: len(v) for k, v in layers.engine_records(out).items()}
    info["supersteps"].update({k: v for k, v in out.items() if k.startswith("df_")})
    result["values"] = layers.values(args.trace, setup, passes, tracer.overhead_s)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "geminigraph_spark", "__init__.py")):
        print("perfbench: no geminigraph_spark package next to perfbench/ "
              "(run from the root of a checkout)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = harness.load_spec(spec_path)

    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_parent, f"run-{os.getpid()}")
    repo_before = tree_files(ROOT)
    tmp_before = tmp_entries()
    result = {"info": {}, "values": {}}
    t_start, steal_start = time.perf_counter(), cpu_steal_s()
    crashed = False
    rss = harness.PeakRss(os.getpid())
    py_tmp = os.path.join(tmp, "py")
    left_behind = []
    # SIGTERM (a timeout, say) unwinds through the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        os.makedirs(tmp)
        with rss:
            try:
                run(args, tmp, result)
            finally:
                shutdown_jvm()
    except Exception:
        crashed = True
        traceback.print_exc()
    finally:
        if os.path.isdir(py_tmp):
            left_behind = os.listdir(py_tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass  # another run still owns a directory there
    result["values"]["peak_rss_mb"] = rss.peak / 2**20
    result["values"]["mem.driver_py_peak_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    ops = result.get("ops") or harness.OpsCounter()
    tracer = result.get("tracer")
    if not crashed:
        ops.check("no engine state or chunk spill left", lambda: not left_behind)
    ops.check("no files left in the checkout", lambda: tree_files(ROOT) == repo_before)
    ops.check("no files left in /tmp", lambda: tmp_entries() <= tmp_before)
    if crashed and ops.failed == 0:
        ops.attempted += 1
        ops.failed += 1
    info = result["info"]
    info.update(wall_s=time.perf_counter() - t_start, failures=ops.failures,
                left_behind=left_behind,
                cpu_steal_s=cpu_steal_s() - steal_start, loadavg=os.getloadavg())
    if tracer is not None and tracer.enabled:
        for line in tracer.lines():
            print("span " + line, file=sys.stderr)
    print("info " + json.dumps(info, default=str), file=sys.stderr)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    values = {n: result["values"].get(n, 0.0) for n in names}
    print(json.dumps(harness.result_line(spec, bool(args.trace), values, ops)))
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())
