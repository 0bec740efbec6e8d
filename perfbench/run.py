"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gql_read_write --seed 1 --seconds 5 --trace 0

Run from the repository root. Every metric is printed on its own line
(name, value, unit, sample count), then one JSON result line:
``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json,
``--trace 1`` its per-layer metrics plus the tracing overhead. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


@dataclass
class Ctx:
    """What a workload needs from the run: session, seed, temp dir,
    span recorder, Spark probe and the op ids (job-group keys), unique
    across the parts of a workload."""

    spark: object
    seed: int
    tmp: Path
    tracer: object
    probe: object
    op_ids: itertools.count = field(default_factory=itertools.count)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(tmp: Path) -> None:
    """Spark posture and worker import path, set before the JVM starts:
    nothing is inherited from SPARK_GRAFT_* variables."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "pytmp")
    # Python workers start in the JVM's working directory; without the
    # checkout on their path, mapInPandas stages cannot import the
    # package when the run starts anywhere else
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for d in ("local", "pytmp", "jtmp", "ckpt", "warehouse"):
        (tmp / d).mkdir(parents=True, exist_ok=True)


def _start_spark(tmp: Path, cpus: int):
    from graphlite_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'jtmp'}",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(str(tmp / "ckpt"))
    return spark


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far: a run on a shared
    host prints how much CPU the hypervisor took away while it ran."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _rss_peak_mb() -> float:
    """High-water RSS of this Python process plus its JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = _jvm_proc()
    jvm = 0.0
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    return py + jvm


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and any worker it left, and wait
    for each to end."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    if proc is None:
        return
    kids = _descendants(proc.pid)
    # close the gateway first, so no Python object finalised later
    # tries to reach the JVM
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.terminate()
        proc.wait(timeout=20)
    deadline = time.time() + 20
    for pid in kids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _workload(name: str):
    """The workload class for ``name``."""
    if name == "gql_read_write":
        from perfbench.wl_gql import GqlWorkload
        return GqlWorkload
    if name == "graph_curation":
        from perfbench.wl_batch import BatchWorkload
        return BatchWorkload
    raise SystemExit(f"unknown workload {name!r}")


def run(args, spec: dict) -> int:
    from perfbench import stats
    from perfbench.trace import SparkProbe, Tracer

    t_start = time.perf_counter()
    ticks0 = _cpu_ticks()
    cpus = _cpus()
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    spark = None
    report = stats.Report()
    try:
        _pin_environment(tmp)
        wl_cls = _workload(args.workload)
        t0 = time.perf_counter()
        spark = _start_spark(tmp, cpus)
        session_s = time.perf_counter() - t0
        tracer = Tracer(False)  # set-up is never traced
        ctx = Ctx(spark, args.seed, tmp, tracer,
                  SparkProbe(spark, False))
        wl = wl_cls(ctx)
        t = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start

        # the first phase gives the end-to-end metrics and pays first-use
        # costs; two rounds (20-45 s) keep an untraced run's figure steady
        # where one round spread past the bound from run to run. A traced
        # run measures one round, then untraced, traced and untraced
        # again, one round each, and the overhead compares the traced
        # phase with the mean of the two warm phases around it, so that
        # warm-up still under way and state growth cancel to first order
        phases = [wl.measure(args.seconds, traced=False,
                             rounds=1 if args.trace else 2)]
        rss = _rss_peak_mb()
        if args.trace:
            phases.append(wl.measure(args.seconds, traced=False))
            rss_before = _rss_peak_mb()
            tracer.enabled = ctx.probe.enabled = True
            phases.append(wl.measure(args.seconds, traced=True))
            rss_traced = _rss_peak_mb()
            storage_mb = ctx.probe.storage_mem_mb()
            tracer.enabled = ctx.probe.enabled = False
            phases.append(wl.measure(args.seconds, traced=False))
        attempted, failed, notes = wl.check()

        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        env = {
            "cpus": cpus, "loadavg": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round(steal / max(total, 1), 4),
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        print("env " + json.dumps(env))
        for note in notes:
            print("check: " + note)

        report.add("setup_s", setup_s, "s", 1,
                   "process start to warm: imports, session, load, warm-up")
        report.add("setup.session_s", session_s, "s", 1)
        report.add("setup.load_s", load_s, "s", 1)
        report.add("setup.warmup_s", warmup_s, "s", 1)
        e2e = [_end_to_end(wl, ph, i) for i, ph in enumerate(phases)]
        report.rows.update(e2e[0].rows)
        report.add("peak_rss_mb", rss, "MB", None, "driver Python + JVM")
        report.add("failed_frac", failed / attempted, "ratio", attempted,
                   f"{failed} of {attempted} ops failed or wrong")
        if args.trace:
            wl.layers(report, phases[2], 2)
            _spark_layers(report, ctx.probe, phases[2], storage_mb)
            _overhead(report, *e2e[1:])
            report.add("overhead.peak_rss_mb", rss_traced - rss_before, "MB",
                       None, "RSS high-water growth during the traced phase")
            report.add("overhead.setup_s", None, "s", None,
                       "not reported: set-up runs once per process, "
                       "untraced, so it has no traced counterpart")
            for name, (st, n) in tracer.self_time_by_name().items():
                report.add(f"self.{name}_s", st, "s", n,
                           "span time not covered by child spans")
            print("spans " + tracer.dump())
        names = spec["per_layer" if args.trace else "end_to_end"]
        for m in names:
            if m["name"] not in report.rows:
                report.add(m["name"], 0.0, m["unit"], 0,
                           "absent: this workload does not exercise the layer")
        for line in report.lines():
            print(line)
        print(report.result([m["name"] for m in names], failed == 0,
                            attempted, failed))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass


def _end_to_end(wl, phase, i: int):
    """The end-to-end metrics of measured phase ``i``."""
    from perfbench import stats

    rep = stats.Report()
    rep.add("ops_per_s", phase.ops / phase.wall_s, "1/s", phase.ops,
            wl.op_unit)
    wl.end_to_end(rep, phase, i)
    return rep


def _overhead(report, before, traced, after) -> None:
    """overhead.<metric>: the traced phase minus the mean of the
    untraced phases before and after it."""
    for name, (t, unit, n, _) in traced.rows.items():
        a = before.rows.get(name, (None,))[0]
        b = after.rows.get(name, (None,))[0]
        if None in (a, t, b):
            report.add(f"overhead.{name}", None, unit, n,
                       "not reported: a phase has too few samples")
        else:
            report.add(f"overhead.{name}", t - (a + b) / 2, unit, n,
                       f"traced minus the mean of untraced before and "
                       f"after (before {a:.6g}, traced {t:.6g}, "
                       f"after {b:.6g})")


def _spark_layers(report, probe, phase, storage_mb: float) -> None:
    from perfbench.trace import union_length

    tot = probe.total(phase.op_ids)
    busy = union_length(tot.job_intervals)
    report.add("spark.jobs", tot.jobs, "count", len(phase.op_ids))
    report.add("spark.tasks", tot.tasks, "count")
    report.add("spark.task_run_s", tot.task_run_s, "s")
    report.add("spark.task_cpu_s", tot.task_cpu_s, "s")
    report.add("spark.shuffle_write_mb", tot.shuffle_write_mb, "MB")
    report.add("spark.spill_mb", tot.spill_mb, "MB")
    report.add("spark.job_busy_s", busy, "s", tot.jobs)
    report.add("spark.driver_gap_s", phase.wall_s - busy, "s", None,
               "wall time minus the union of job intervals")
    report.add("spark.storage_mem_mb", storage_mb, "MB")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "graphlite_spark" / "__init__.py").is_file() \
            or not spec_path.is_file():
        print(f"perfbench: no graphlite_spark package or BENCHMARK.json "
              f"under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    return run(args, spec)


if __name__ == "__main__":
    sys.exit(main())
