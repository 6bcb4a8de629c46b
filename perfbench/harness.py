"""Run context shared by the workloads: working directory, Spark session,
operation and failure accounting, the closed loop, and summary statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from spans import Tracer


def process_start() -> float:
    """perf_counter() value at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def noop(df) -> None:
    """Run *df* to completion into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int] | None:
    """(percentile, value, samples) at the highest percentile that has at
    least ten samples beyond it; None when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return 100.0 * (n - 10) / n, s[n - 11], n


@dataclass
class Ctx:
    """One benchmark run: its inputs' seed, working directory, Spark
    session, tracer, counted operations and the metrics it reports."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str
    tiny: bool = False
    t_start: float = field(default_factory=process_start)
    ticks_start: tuple = field(default_factory=cpu_ticks)
    work: str = ""
    rng: np.random.Generator = None
    tracer: Tracer = None
    spark: object = None
    gen_s: float = 0.0
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: list = field(default_factory=list)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        run_id = f"{self.workload}-{self.seed}-{os.getpid()}"
        self.tracer = Tracer(run_id, self.trace)
        # one fresh directory per run for the warehouse, checkpoints, index
        # tables, Spark/JVM scratch and outputs; removed by cleanup()
        self.work = os.path.join(self.root, ".perfbench_work", run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "events"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args, **kw):
        """Run an input generator; its time is left out of set-up."""
        t = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.gen_s += time.perf_counter() - t

    def start_spark(self):
        from hadoop_app_spark import get_spark

        # JVM scratch (and no perf-data files in the system temp directory)
        # for both the launcher JVM and the driver JVM
        jvm_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.compress"] = "false"
        cores = len(os.sched_getaffinity(0))
        with self.tracer.span("session.get_spark") as sp:
            self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{cores}]",
                                   extra_conf=conf)
        self.tracer.attach(self.spark)
        self.layer["session.get_spark_s"] = sp.duration
        return self.spark

    def end_setup(self) -> None:
        """Mark the first timed operation: set-up is everything before it
        except input generation."""
        self.setup_s = time.perf_counter() - self.t_start - self.gen_s

    def op(self, name: str, fn, traced: bool = True):
        """One counted operation; an exception counts as a failure and
        the run goes on."""
        self.attempted += 1
        with self.tracer.span(name, traced):
            try:
                return fn()
            except Exception:
                self.fail(name, traceback.format_exc())
                return None

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(name)
        print(f"[perfbench] FAILED {name}: {detail}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One output check, counted as an operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"check:{name}", detail)
        self.report.append(f"check {name}: {'ok' if ok else 'FAILED ' + detail}")

    def closed_loop(self, one_pass, warm_passes: int) -> tuple[list[float], list[float]]:
        """Closed loop with one client: run ``warm_passes`` discarded
        passes, then passes back to back until ``seconds`` have elapsed.
        In the traced run every other pass is untraced, so the tracing
        overhead is measured in the same process.

        Returns (pass times, untraced pass times of the traced run)."""
        for _ in range(warm_passes):
            one_pass(False)
        self.end_setup()
        timed, untraced = [], []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < t_end or not timed or (self.trace and not untraced):
            traced = self.trace and i % 2 == 0
            with self.tracer.span("bench.pass", traced) as sp:
                one_pass(traced)
            (timed if traced or not self.trace else untraced).append(sp.duration)
            i += 1
        return timed, untraced

    def pass_layers(self, names) -> None:
        """Per-pass self-time accounting of the traced run: the median
        share of a pass's wall time not covered by any layer span."""
        st = self.tracer.self_times()
        gaps = [st[s.id] / s.duration for s in self.tracer.spans if s.name == "bench.pass"]
        self.layer["trace.unattributed_frac"] = median(gaps)
        for n in names:
            self.layer[f"{n}_s"] = median(self.tracer.durations(n))

    def steal_frac(self) -> float:
        """Share of the machine's CPU time taken by the hypervisor (steal)
        since this run started: when it is high, the host is contended
        and every timing of the run reads slow."""
        steal, total = cpu_ticks()
        return (steal - self.ticks_start[0]) / max(total - self.ticks_start[1], 1)

    def peak_rss(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb(jvm) + vm_hwm_mb()

    def stop_spark(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        proc = gw.proc
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        self.spark = self.tracer.spark = None

    def cleanup(self) -> None:
        """Delete this run's working directory."""
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
