#!/usr/bin/env python3
"""Benchmark of the logunifier_spark pipeline.

    python3 perfbench/run.py --workload unify_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One process drives Spark at
local[1] (see `cores`):

  1. the seeded inputs are generated onto disk (not timed);
  2. set-up, once and cold: session start (a new JVM), package ship and
     untimed, checked warm-up passes (see `Workload.warmup`);
  3. timed passes until --seconds have elapsed; each pass is checked
     against the generator's expected counts, outside its timed window.

With --trace 0 the last stdout line carries the end-to-end metrics:
turns_per_cpu_s (input turns over the median CPU seconds of a pass),
setup_s (start plus warm-up) and py_peak_rss_mb. A pass's CPU seconds are
those of this process, the JVM and the Python workers, less the JVM's JIT
compiler threads: for the first dozen passes of a session those compile
4-16 CPU seconds a pass, a decaying amount that says how far the JIT has
got, not what the pass costs. Wall time is left out of the metrics for the
same reason: on a shared 4-vCPU host the median pass time of the same code
spread 15-50% between runs, because it tracks how many CPUs the JIT and the
host left the pass, while the CPU the pass itself used spread 3-5%. Pass
walls are in the log and the report, and the traced run reports one as
pass.wall_s.

With --trace 1 a separate traced run times every layer from outside (see
layers.py) and reports the per-layer metrics instead. Every file the run
writes goes under .perfbench_work/ in the checkout; a full report of each
run lands in .perfbench_work/reports/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# name -> unit of every end-to-end metric an untraced run prints
END_TO_END = {"turns_per_cpu_s": "turns/cpu-s", "setup_s": "s",
              "py_peak_rss_mb": "MiB"}
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """Spark task slots: one. A slot of a Python UDF stage keeps two
    processes busy (the JVM task feeding Arrow batches and the Python worker
    running the UDF), and the JVM's JIT compiler threads take 4-16 CPU
    seconds a pass for the first dozen passes. At local[nproc] that is well
    over nproc busy threads: on a shared 4-vCPU host the same input read
    5.1-9.9 s from pass to pass. Fewer slots lose little, since most of a
    pass is not parallel: local[2] passes were within 10% of local[4]'s, and
    in a phase where the host took CPUs back, local[1] passes (8.7-10.9 s)
    beat local[2]'s (8.1-12.5 s)."""
    return 1


def confine_to_checkout(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher's too; PerfDisableSharedMem keeps
    # the hsperfdata file out of the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # the session's 16g default lets G1 grow the heap at run-dependent
    # moments; a 4g heap holds these inputs and collects at steadier points
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_session():
    from logunifier_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session, then the py4j JVM it launched, and wait for
    the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:  # noqa: SLF001
        SparkContext._active_spark_context.stop()  # noqa: SLF001
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the launcher JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, still waited for
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss() -> dict:
    """VmHWM in MiB of this process and each of its descendants (driver,
    JVM, Python workers), keyed by "<name>:<pid>"."""
    kids = _children()
    todo, out = [os.getpid()], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def _cpu_s(stat_path: str) -> tuple[str, float]:
    """(name, user + system CPU seconds) of a process or thread."""
    with open(stat_path) as fh:
        name, rest = fh.read().split(" (", 1)[1].rsplit(")", 1)
    f = rest.split()
    return name, (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def cpu_by_kind() -> dict:
    """CPU seconds so far of this process ("driver"), the JVM's JIT
    compiler threads ("jit"), the rest of the JVM ("java") and the Python
    workers ("workers")."""
    kids = _children()
    todo, out = [os.getpid()], {"driver": 0.0, "java": 0.0, "jit": 0.0,
                                "workers": 0.0}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            name, cpu = _cpu_s(f"/proc/{pid}/stat")
            if name != "java":
                out["driver" if pid == os.getpid() else "workers"] += cpu
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                tname, tcpu = _cpu_s(f"/proc/{pid}/task/{tid}/stat")
                out["jit" if "CompilerThre" in tname else "java"] += tcpu
        except (OSError, ValueError):
            continue
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def host_record(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                             "spark.default", "spark.python", "spark.executor"))}
    return {"nproc": nproc(), "cores": cores(), "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "spark_conf": dict(sorted(conf.items()))}


def metric(name: str, value: float) -> dict:
    return {"value": value, "unit": END_TO_END[name]}


def run(args, workload_cls) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confine_to_checkout(work)
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "load_before": loadavg()}
    wl = workload_cls(work)
    spark = None
    try:
        report["gen"] = wl.prepare(args.seed)
        log(f"generated {report['gen']['rows']} rows in {report['gen']['s']:.1f} s")
        if args.trace:
            import layers
            spark, out = layers.run_traced(wl, start_session, report)
        else:
            t0 = time.perf_counter()
            spark = start_session()
            t1 = time.perf_counter()
            wl.warmup(spark)
            t2 = time.perf_counter()
            report["setup"] = {"start_s": t1 - t0, "warmup_s": t2 - t1}
            log(f"set-up: start {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s")
            out = timed_passes(spark, wl, args.seconds, report)
            report["peak_rss_by_process_mb"] = peak_rss()
            out["metrics"]["setup_s"] = metric("setup_s", t2 - t0)
            # the JVM's peak stays in the report only: G1 grows the heap at
            # run-dependent moments, so it reads 1.8-4.7 GiB on one input
            out["metrics"]["py_peak_rss_mb"] = metric("py_peak_rss_mb", sum(
                v for k, v in report["peak_rss_by_process_mb"].items()
                if not k.startswith("java:")))
        report["host"] = host_record(spark)
    finally:
        stop_jvm()
        report["load_after"] = loadavg()
        shutil.rmtree(work, ignore_errors=True)
    report["result"] = out
    reports = os.path.join(WORK_ROOT, "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return out


def timed_passes(spark, wl, seconds: float, report: dict) -> dict:
    walls, errors, cpu = [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        attempted += 1
        tag = f"p{attempted}"
        c0 = cpu_by_kind()
        t0 = time.perf_counter()
        wall = None
        try:
            result = wl.run_pass(spark, tag)
            wall = time.perf_counter() - t0
            errs = wl.check(spark, result, tag)
        except Exception:  # noqa: BLE001 — a raising pass is a failed pass
            errs = [traceback.format_exc()]
        walls.append(wall if wall is not None else time.perf_counter() - t0)
        c1 = cpu_by_kind()
        cpu.append({k: c1[k] - c0[k] for k in c0})
        wl.after_pass(tag)
        if errs:
            failed += 1
            errors.extend(errs)
            log(f"pass {attempted} FAILED: {errs}")
    wall = statistics.median(walls)
    work = [c["driver"] + c["java"] + c["workers"] for c in cpu]
    report["passes"] = {"wall_s": walls, "cpu_s": cpu, "work_cpu_s": work,
                        "errors": errors}
    log(f"{attempted} passes, median {wall:.3f} s, walls "
        + ", ".join(f"{w:.2f}" for w in walls))
    log("CPU s per pass (driver/java/workers, jit): " + ", ".join(
        "/".join(f"{c[k]:.1f}" for k in ("driver", "java", "workers"))
        + f" {c['jit']:.1f}" for c in cpu))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {"turns_per_cpu_s": metric(
                "turns_per_cpu_s", wl.rows / statistics.median(work))}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "logunifier_spark", "__init__.py")):
        log(f"no logunifier_spark package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    out = run(args, WORKLOADS[args.workload])
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
