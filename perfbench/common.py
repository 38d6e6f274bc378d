"""Run environment, timing and result helpers shared by the workloads.

Each run is hermetic: ``RunEnv`` creates a private temp root inside the
checkout (``.perfbench_tmp/run-<pid>``) that holds ``TMPDIR``, Spark's
local dirs, the warehouse, the stream directories and checkpoints, and
removes it on exit. ``PYTHONPATH`` points at the checkout so Spark's
Python workers import the package from any working directory, and
``SPARK_GRAFT_CPUS`` is the host's core count.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "kafka_flink_harshevents_spark"
_START = time.perf_counter()


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


class RunEnv:
    """Private temp root + process environment for one benchmark run.

    Must be entered before Spark (or anything that caches ``tempfile``'s
    directory) starts, because the JVM and Python workers inherit the
    environment set here."""

    def __init__(self) -> None:
        if not (ROOT / PACKAGE / "__init__.py").is_file():
            raise SystemExit(f"perfbench: package {PACKAGE!r} not found under {ROOT}")
        self.root = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"

    def __enter__(self) -> "RunEnv":
        import tempfile

        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp.mkdir(parents=True)
        env = {
            "TMPDIR": str(self.tmp),
            "SPARK_LOCAL_DIRS": str(self.root / "spark-local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            "SPARK_GRAFT_CPUS": str(host_cores()),
            # every JVM of the run keeps its temp files (and no perf-data
            # file) inside the run root
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        os.environ.update(env)
        tempfile.tempdir = None  # re-read TMPDIR
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))
        return self

    @property
    def tmp(self) -> Path:
        return self.root / "tmp"

    def path(self, name: str) -> Path:
        p = self.root / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def __exit__(self, *exc) -> None:
        reap_descendants()  # nothing writes into the root while it goes
        shutil.rmtree(self.root, ignore_errors=True)
        parent = self.root.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def spark_session(env: RunEnv):
    """The engine's session (``session.get_spark``) with this run's dirs."""
    from kafka_flink_harshevents_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(env.root / "spark-local"),
            "spark.sql.warehouse.dir": str(env.root / "warehouse"),
            "spark.sql.streaming.noDataProgressEventInterval": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_up(spark) -> None:
    """Codegen/JIT warm-up plus one Arrow Python-worker round trip, so the
    first timed operation does not pay first-touch costs."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(4).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the streams, the session and the gateway JVM, and wait until
    the JVM has exited. ``spark.stop()`` alone leaves the JVM running
    until this process exits (it quits when its stdin closes), and it
    then outlives the run by seconds while its shutdown hooks run."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM side may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux), so that
    ``reap_descendants`` also finds the Python workers of a JVM that has
    already exited."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"cannot adopt orphaned processes (errno {ctypes.get_errno()})")


def descendants(exclude: set[int] = frozenset()) -> list[int]:
    """Pids of every live descendant of this process, without the
    subtrees rooted at ``exclude``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":  # zombies only wait to be reaped
            children.setdefault(int(fields[1]), []).append(int(d))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def reap_descendants(grace: float = 20.0) -> None:
    """Terminate every process this run started and wait for each to end:
    SIGTERM first, SIGKILL after ``grace`` seconds. Returns once this
    process has no children left (orphans are adopted, see
    ``become_subreaper``)."""
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in descendants():
            if pid not in signalled or sig == signal.SIGKILL:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.05)


class PeakMemory:
    """Samples the memory of this process's descendants (the Spark JVM
    and its Python workers), excluding ``exclude`` pids such as the input
    generator, every ``interval`` seconds; ``peak_mb`` is the maximum
    seen. Memory is the sum of each process's proportional set size, so
    pages that forked Python workers share are counted once."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass  # the process exited
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(self._pss_kb(pid) for pid in descendants(self.exclude))
            self.peak_mb = max(self.peak_mb, kb / 1024.0)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the seconds since start."""
    print(f"perfbench: [{time.perf_counter() - _START:.1f}s] {msg}", file=sys.stderr, flush=True)
