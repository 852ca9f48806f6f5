"""Shared plumbing for the perfbench workloads: the run context, Spark
start-up inside the checkout, percentiles, memory and Spark job counters.

Nothing here starts a thread, a process or a JVM at import time; the
entry point (``run.py``) builds one ``RunContext`` and passes it on.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
EX = "http://example.org/"
# Driver heap, fixed (-Xms = -Xmx) so that G1 does not resize it from
# run to run; pages count in the RSS only once the heap touches them.
HEAP = "1g"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]: a value that was
    measured, so a mix of query kinds cannot land it between two kinds."""
    if not values:
        return float("nan")
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else float("nan")


def dir_stats(path: str | Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files skipped."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process, in kB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


@dataclass
class RunContext:
    """Everything a workload needs: arguments, a private work directory
    inside the checkout, the Spark session and the result counters."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    t_proc0: float
    work: Path = field(init=False)
    spark: object = None
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.work = ROOT / ".perfbench_work" / f"{self.workload}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)

    # ------------------------------------------------------------ results
    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_proc0

    # -------------------------------------------------------------- spark
    def pin_environment(self) -> None:
        """Keep Spark, the JVM and Python temp files inside the checkout,
        and size Spark to this machine (``local[cores]``)."""
        tmp = str(self.work / "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["JANUS_DRIVER_MEM"] = HEAP
        os.environ.setdefault("JANUS_SHUFFLE_PARTITIONS", str(self.cores))
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Xms{HEAP}" pyspark-shell')
        import tempfile

        tempfile.tempdir = tmp

    def start_spark(self):
        from janus_spark import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("OFF")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Both processes' ``VmHWM`` plus the JVM's peak old-generation
        use.  G1 touches the whole fixed heap in every run, so the JVM's
        ``VmHWM`` does not follow heap demand; the old generation does."""
        old_gen = sum(mb for pool, mb in self.heap_peaks_mb().items() if "Old Gen" in pool)
        return (vm_hwm_kb() + vm_hwm_kb(self.jvm_pid())) / 1024.0 + old_gen

    def heap_peaks_mb(self) -> dict[str, float]:
        """Peak use of each JVM heap pool (G1 Eden, Survivor, Old Gen)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return {str(p.getName()): p.getPeakUsage().getUsed() / 2**20
                for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"}

    def close(self) -> None:
        """Stop the streams and Spark, then wait for the JVM to exit (it
        ends when its stdin pipe closes)."""
        if self.spark is not None:
            for q in self.spark.streams.active:
                try:
                    q.stop()
                except Exception as e:  # keep shutting down; note it
                    print(f"perfbench: stop {q.id}: {e!r}", file=sys.stderr)
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


class SparkCounters:
    """Spark job and stage counts.  Job and stage ids are dense and
    increasing, so the number launched so far is the scheduler's job
    count and one more than the newest job's largest stage id."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._tracker = sc.statusTracker()

    def jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    def stages(self) -> int:
        n = self.jobs()
        if n == 0:
            return 0
        info = self._tracker.getJobInfo(n - 1)
        if not info.isDefined():
            return 0
        return 1 + max(list(info.get().stageIds()) or [-1])

    def jobs_in_group(self, group: str) -> int:
        return len(list(self._tracker.getJobIdsForGroup(group)))


def emit(ctx: RunContext, metrics: dict[str, tuple[float, str]], correct: bool) -> None:
    """Print the human table, then the one-line JSON result (last line)."""
    for name, (value, unit) in metrics.items():
        print(f"  {name:<40} {value:>16.6g} {unit}")
    if ctx.failures:
        print("failures (first %d):" % len(ctx.failures))
        for f in ctx.failures:
            print("  - " + f)
    out = {
        "correct": bool(correct),
        "attempted": int(max(ctx.attempted, 1)),
        "failed": int(ctx.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
