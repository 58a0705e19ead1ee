"""Run hygiene: environment, the Spark session, scratch space inside the
checkout, peak-RSS sampling of the process tree, and clean shutdown."""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 2 GiB."""
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return f"{max(1, min(2, kib // (4 * 1024 * 1024)))}g"


def prepare_env(tmp: str) -> None:
    """Environment every Spark and Python-worker process inherits; set
    before pyspark is imported."""
    import sys

    sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", "python3")


def spark_conf(tmp: str, event_log: str | None) -> dict[str, str]:
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": java,
        "spark.executor.extraJavaOptions": java,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_spark(tmp: str, event_log: str | None):
    from cqs_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc()}]", extra_conf=spark_conf(tmp, event_log)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kib(me) + sum(_rss_kib(p) for p in descendants(me))
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


def _cpu_ticks(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime + stime
        except (OSError, ValueError, IndexError):
            pass
    return total


def quiesce(spark, idle_cores: float = 0.5, limit_s: float = 5.0, period: float = 0.25) -> None:
    """Collect the JVM's garbage, then wait (at most ``limit_s``) until
    the processes under this one use less than ``idle_cores`` of CPU, so
    that garbage and JIT compilation left by the warm-up are not paid for
    inside the timed region."""
    spark.sparkContext._jvm.java.lang.System.gc()
    tick = os.sysconf("SC_CLK_TCK")
    deadline = time.perf_counter() + limit_s
    last = _cpu_ticks(descendants(os.getpid()))
    while time.perf_counter() < deadline:
        time.sleep(period)
        now = _cpu_ticks(descendants(os.getpid()))
        if (now - last) / tick / period < idle_cores:
            return
        last = now


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            pass
    wait_children(timeout=20)


def wait_children(timeout: float) -> None:
    deadline = time.time() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            for pid in left:
                try:
                    os.waitpid(pid, 0)
                except ChildProcessError:
                    pass
            return
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
