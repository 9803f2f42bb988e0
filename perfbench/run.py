"""End-to-end benchmark of the paper's job: generated text VCF/GTF/
cDNA FASTA/samples TSV (or a peptide report) in, the output TSV.gz and
FASTA search database out, through the config-driven entry points.

    python3 perfbench/run.py --workload prohap_1kg --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --seed 1        # all three workloads

--trace 0 measures the end-to-end metrics: set-up time, the median CPU
seconds of a warm run and input records per CPU second.
--trace 1 instead times each layer from outside (see trace_layers.py).
Either way the last line of standard output is one JSON object
{correct, attempted, failed, metrics}; every run's output files are
checked (workloads.py).

The benchmark imports the checkout it lives in (the parent of this
directory), on the driver and on the Python workers, and keeps every
file it writes under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from gen import generate
from workloads import (
    WORKLOADS, OutputError, output_digest, pinned_digest, record_count, run_entry_point,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# measured warm runs, at least, after the workload's untimed warm-up
MIN_MEASURED = 3
DRIVER_MEM = "4g"


def prepare_environment() -> None:
    """Point the driver, the JVM and the Python workers at this
    checkout and keep scratch files inside it. Must run before pyspark
    starts a JVM: the workers inherit PYTHONPATH from its environment."""
    if not os.path.isfile(os.path.join(ROOT, "prohap_spark", "__init__.py")):
        sys.exit(f"perfbench: no prohap_spark package in {ROOT}; run from a repository checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir
    # says; spark-submit's launcher JVM reads this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(extra_conf: dict | None = None, describe: str | None = None):
    """get_spark plus the first trivial action; returns (spark, seconds).
    ``describe`` tags the first action's job for the traced run."""
    from prohap_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep HotSpot's compiler threads alive, so the CPU they spend
        # stays attributable to them (see cpu_seconds)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        **(extra_conf or {}),
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setJobDescription(describe)
    spark.range(1).count()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return spark, seconds


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def drop_cached(spark) -> None:
    """The entry points persist() their annotated table and never
    unpersist it; a later run over the same files could then read the
    earlier run's cache instead of doing the job. Drop it between runs."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _descendants() -> list[int]:
    """Live (not zombie) descendant pids of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds() -> tuple[float, float]:
    """(total, jit): CPU seconds used so far by this process and its
    descendants (the driver JVM, the PySpark daemon and its workers),
    and the part of it spent in HotSpot's JIT compiler threads.

    CPU time, unlike elapsed time, leaves out the time a shared host
    withholds the virtual CPUs from a virtual machine (steal), so it does
    not grow when a neighbour gets busy. Exited threads stay in their
    process's total and reaped workers in their parent's; the compiler
    threads never exit (-XX:-UseDynamicNumberOfCompilerThreads)."""
    total = jit = 0
    for pid in [os.getpid()] + _descendants():
        try:
            f = _proc_fields(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as c:
                    if "CompilerThre" not in c.read():
                        continue
                jit += sum(int(x) for x in _proc_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except (OSError, IndexError):
                continue
    return total / _TICK, jit / _TICK


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants: the driver
    JVM, the PySpark daemon and its Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Checker:
    """Checks every run's outputs; all runs of one process must agree
    on the digest, and with the pinned digest where there is one."""

    def __init__(self, workload, seed: int, inputs: str):
        self.workload, self.inputs = workload, inputs
        self.pinned = pinned_digest(workload, seed)
        self.seen: set[str] = set()
        self.attempted = self.failed = 0

    def check(self, outputs: dict[str, str] | None) -> dict | None:
        self.attempted += 1
        try:
            if outputs is None:
                raise OutputError("run raised")
            res = output_digest(self.workload, outputs, self.inputs)
            if self.pinned is not None and res["digest"] != self.pinned:
                raise OutputError(f"digest {res['digest']} != pinned {self.pinned}")
            if self.seen and res["digest"] not in self.seen:
                raise OutputError(f"digest {res['digest']} differs from an earlier run {self.seen}")
        except OutputError as e:
            self.failed += 1
            print(f"perfbench: output check failed: {e}", file=sys.stderr)
            return None
        self.seen.add(res["digest"])
        return res


def timed_run(spark, workload, inputs: str, out_dir: str, checker: Checker):
    """One entry-point run, files written, then checked. Returns
    (elapsed seconds, CPU seconds, of which JIT, check result or None)."""
    drop_cached(spark)
    cpu0, jit0 = cpu_seconds()
    t0 = time.perf_counter()
    try:
        outputs = run_entry_point(spark, workload, inputs, out_dir)
    except Exception as e:  # a failed run is counted, not fatal
        print(f"perfbench: run failed: {e!r}", file=sys.stderr)
        outputs = None
    seconds = time.perf_counter() - t0
    cpu1, jit1 = cpu_seconds()
    return seconds, cpu1 - cpu0, jit1 - jit0, checker.check(outputs)


def measure(workload, seed: int, seconds: float, inputs: str) -> dict:
    # setup_s is this process's own JVM start: timing a second fresh JVM
    # would add ~10 s (4 cores), a fifth of every run
    spark, setup = start_session()
    out_dir = os.path.join(WORK, "out", workload.name)
    checker = Checker(workload, seed, inputs)
    first_wall, first_cpu, first_jit, _ = timed_run(spark, workload, inputs, out_dir, checker)
    # the JIT keeps speeding the warm runs up for a while; a fixed number
    # of untimed runs leaves every seed at the same point of that curve
    for _ in range(workload.warmup):
        timed_run(spark, workload, inputs, out_dir, checker)
    walls: list[float] = []
    cpus: list[float] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(cpus) < MIN_MEASURED:
        wall, cpu, jit, ok = timed_run(spark, workload, inputs, out_dir, checker)
        if ok is not None:
            walls.append(wall)
            cpus.append(cpu - jit)
        elif checker.failed > 2:
            break
    stop_session(spark)
    cpu_s = statistics.median(cpus) if cpus else float("nan")
    records = record_count(workload, inputs)
    print(
        f"perfbench: {workload.name} seed={seed} setup={setup:.3f} first={first_wall:.3f}s/"
        f"{first_cpu:.3f}cpu/{first_jit:.3f}jit warm={[round(w, 3) for w in walls]}s/"
        f"{[round(c, 3) for c in cpus]}cpu records={records} checks={checker.seen}",
        file=sys.stderr,
    )
    metrics = {
        "setup_s": (setup, "s"),
        "cpu_s": (cpu_s, "s"),
        "records_per_cpu_s": (records / cpu_s, "1/s"),
    }
    return {
        "correct": checker.failed == 0 and bool(cpus),
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="default: every workload, one result line each")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    prepare_environment()
    for name in [args.workload] if args.workload else list(WORKLOADS):
        workload = WORKLOADS[name]
        inputs = generate(name, args.seed, workload.sizes, os.path.join(WORK, "inputs"))
        if args.trace:
            from trace_layers import trace

            result = trace(workload, args.seed, inputs)
        else:
            result = measure(workload, args.seed, args.seconds, inputs)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
