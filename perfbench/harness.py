"""Box fit, Spark session lifetime and process-tree memory for one run.

Everything here is set from outside the engine: environment variables
the engine already reads (``SPARK_GRAFT_*``), Spark conf passed through
``session.get_spark(extra_conf=...)``, and the JVM and worker processes
PySpark starts. All files go under the run directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def heap_mb() -> int:
    """The driver's maximum heap: an eighth of physical RAM, clamped to
    1-4 GiB. The engine's 48g default gets the JVM killed on a small box;
    the rest of the RAM is left to the Python workers and other tenants."""
    return max(1024, min(4096, mem_total_mb() // 8))


def box_env(root: str, run_dir: str) -> dict[str, str]:
    """Fit the engine to this machine and isolate it in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb()}m",
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # the Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for k in ("SPARK_GRAFT_SCRATCH", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


class Sessions:
    """One local SparkSession at a time, on one JVM for the whole run."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None

    def start(self, cores: int, event_log_dir: str | None = None):
        from ocr_application_spark.session import get_spark

        self.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # a fixed young generation: G1 otherwise sizes it from pause
            # time predictions, so the heap it touches (and RSS) follows
            # the machine's momentary speed. The old generation and all
            # else still grow with what the program keeps.
            "spark.driver.extraJavaOptions": f"-Xmn{heap_mb() // 4}m"
            " -Djava.io.tmpdir=" + os.path.join(self.run_dir, "tmp"),
        }
        if event_log_dir is not None:
            os.makedirs(event_log_dir)  # Spark refuses a missing log dir
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # executor memory peaks per task (JVMHeapMemory); the
                # default polls only on the 10 s heartbeat
                "spark.executor.metrics.pollingInterval": "100ms",
            })
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# --- process tree ---------------------------------------------------------------
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RSS is read this often: a Python worker's peak can last well under 50 ms
RSS_INTERVAL_S = 0.01
# the process list behind the RSS reads is refreshed this often
RSS_REFRESH_S = 0.5
# processes left at exit get this long after SIGTERM before SIGKILL
REAP_TIMEOUT_S = 10.0


def _tree(pid: int) -> list[tuple[int, int]]:
    """(parent, child) for every descendant of ``pid``, parents first."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    edges, todo = [], [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            edges.append((parent, c))
            todo.append(c)
    return edges


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def resident_tree(pid: int) -> list[int]:
    """``pid`` and its descendants, less any child caught between fork
    and exec by a parent that is not a Python process (the JVM spawning
    a helper command): until exec it shares the parent's pages, so its
    RSS would count the JVM twice. Python workers forked from the daemon
    run the same interpreter as their parent and are kept."""
    edges = _tree(pid)
    exe = {p: _exe(p) for p in {pid, *(p for e in edges for p in e)}}
    return [pid] + [c for p, c in edges
                    if exe[p] == exe[pid] or exe[c] != exe[p]]


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # the process has ended
    return total


def reap_descendants() -> None:
    """Terminate whatever this process still has running below it and
    wait until it has gone."""
    left = [c for _, c in _tree(os.getpid())]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + REAP_TIMEOUT_S
    while left and time.monotonic() < deadline:
        for p in list(left):
            try:
                if os.waitpid(p, os.WNOHANG)[0] == p:
                    left.remove(p)
                    continue
            except ChildProcessError:  # not our direct child: poll /proc
                pass
            if not os.path.exists(f"/proc/{p}"):
                left.remove(p)
        time.sleep(0.05)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Polls the RSS of this process and all its descendants (the JVM,
    the Python worker daemon and its workers) and keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        pids, listed = [], 0.0
        while not self._stop.wait(RSS_INTERVAL_S):
            if time.monotonic() - listed > RSS_REFRESH_S:
                pids, listed = resident_tree(pid), time.monotonic()
            self.peak = max(self.peak, _rss_bytes(pids))

    def __enter__(self):
        self.peak = _rss_bytes(resident_tree(os.getpid()))
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
