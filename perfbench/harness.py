"""Process plumbing shared by the benchmark's processes.

Everything a run writes (inputs, outputs, Spark scratch, event logs,
temp files) stays under ``perfbench/.work`` of the checkout, and every
process a run starts is stopped and waited for before it exits.
"""

from __future__ import annotations

import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def program_present() -> bool:
    """The program under test: the package plus ``__spark_entry__.py``."""
    return os.path.isdir(os.path.join(ROOT, "s3_log_parser_spark")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def prepare_env() -> None:
    """Import path and scratch locations for this process and every
    process it starts (the JVM and its Python workers inherit them, so
    workers import the package whatever the caller's cwd)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout, and no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")


def start_spark(app: str, extra_conf: dict | None = None):
    """``get_spark`` on ``local[4]`` with scratch kept in the checkout."""
    from s3_log_parser_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    spark = get_spark(app_name=app, cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for the JVM's Python
    workers: nothing this process started outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(kids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after its ')'
    return s[s.rfind(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """All live processes below ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    live = [p for p in pids if _stat(p) is not None]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _stat(p) is not None]
    for p in live:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        st = _stat(p)
        if st is not None:
            total += int(st[21])  # rss, in pages
    return total * PAGE_KB / 1024


def cpu_s(pids: list[int]) -> float:
    """utime + stime of ``pids`` plus that of their reaped children."""
    total = 0
    for p in pids:
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def python_workers() -> list[int]:
    """The JVM's Python daemon and workers (this process's grandchildren
    that run Python)."""
    out = []
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"java" not in cmd.split(b"\0")[0]:
            out.append(p)
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    Python, driver JVM, Python workers), read from /proc every 200 ms."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb([me] + descendants(me)))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_mb
