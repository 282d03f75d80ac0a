"""Shared plumbing for the benchmark: the run context (work directory,
environment, Spark session), process-tree memory, host-load probes and
small statistics helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
WORK_ROOT = BENCH_DIR / ".work"
REQUIRED = ("data_quality_autohealer_spark", "jobs", "oracle")


def repo_present() -> bool:
    return all((REPO_ROOT / d).is_dir() for d in REQUIRED)


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark invocation: a private work directory under the
    checkout, with every temporary path of Python, the JVM and Spark
    pointed inside it."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    t0: float = field(default_factory=time.perf_counter)
    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    marks: dict = field(default_factory=dict)
    op_times: list = field(default_factory=list)  # timed operations, s

    def __post_init__(self) -> None:
        self.work = WORK_ROOT / f"{self.workload}-{self.seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog"):
            (self.work / sub).mkdir(parents=True)
        env = {
            "TMPDIR": str(self.work / "tmp"),
            "SPARK_LOCAL_DIRS": str(self.work / "local"),
            "PYTHONPATH": os.pathsep.join(
                [str(REPO_ROOT)] + [p for p in os.environ.get(
                    "PYTHONPATH", "").split(os.pathsep) if p]),
            "PYSPARK_PYTHON": sys.executable,
        }
        os.environ.update(env)
        import tempfile
        tempfile.tempdir = None
        if str(REPO_ROOT) not in sys.path:
            sys.path.insert(0, str(REPO_ROOT))

    def spark_conf(self) -> dict[str, str]:
        """Spark settings the benchmark fixes for every session it starts
        (in process or in the API server): small heap, scratch space and
        JVM temp files inside the work directory, event log when traced."""
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        return conf

    def check(self, ok: bool, what: str, op) -> bool:
        """Record one correctness check of operation ``op``; an operation
        with any failed check counts as failed."""
        if not ok:
            self.failed_ops.add(op)
            print(f"[perfbench] check failed ({op}): {what}", file=sys.stderr)
        return ok

    def mark(self, phase: str) -> None:
        """Note when a phase ended (seconds since the run started); kept in
        the run record to show where a run's wall time goes."""
        self.marks[phase] = round(time.perf_counter() - self.t0, 3)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    @property
    def trace_path(self) -> Path:
        return WORK_ROOT / "traces" / f"{self.workload}-seed{self.seed}.json"

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def start_spark(run: Run, app_name: str, master: str):
    from data_quality_autohealer_spark.session import get_spark

    spark = get_spark(app_name=app_name, master=master,
                      shuffle_partitions=2 * cores(),
                      extra_conf=run.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session AND the py4j JVM, then wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    wait_gone(tree)


# -- processes -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and every descendant
    alive now: the benchmark, JVMs, Python workers and the API server."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent has not reaped it yet
            except OSError:
                break
            time.sleep(0.05)


# -- host probes -----------------------------------------------------------

_RAW_CAL = "x=0\nfor i in range(1_000_000): x+=i*i\n"


def raw_cpu_rate(n: int) -> float:
    """Fixed CPU-bound jobs per second with ``n`` concurrent Python
    processes: identifies a contended host independently of Spark."""
    t0 = time.perf_counter()
    ps = [subprocess.Popen([sys.executable, "-c", _RAW_CAL],
                           stdout=subprocess.DEVNULL) for _ in range(n)]
    for p in ps:
        p.wait()
    return n / (time.perf_counter() - t0)


def loadavg() -> float:
    return os.getloadavg()[0]


# -- statistics ------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def timed_loop(seconds: float, op, prepare) -> list[float]:
    """Call ``op(i)`` until the timed calls add up to ``seconds`` (at least
    once); ``prepare(i)`` runs before each call, untimed. Returns each
    call's wall time in seconds."""
    times: list[float] = []
    while not times or sum(times) < seconds:
        i = len(times)
        prepare(i)
        t = time.perf_counter()
        op(i)
        times.append(time.perf_counter() - t)
    return times
