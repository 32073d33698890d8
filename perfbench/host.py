"""Host-side helpers: the Spark session with this benchmark's settings,
a /proc RSS sampler, a fixed-work CPU probe and process shutdown."""

from __future__ import annotations

import hashlib
import os
import signal
import statistics
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    """local[N] with N at most the cores this process may run on, and
    at most 4 so that runs on bigger hosts stay comparable."""
    return min(4, len(os.sched_getaffinity(0)))


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Settings passed through get_spark(extra_conf=...). Shuffle
    scratch, JVM temp files and the warehouse all sit on the disk that
    holds the checkout (<checkout>/.perfbench_work)."""
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _stat(pid: str) -> tuple[str, int] | None:
    """(command name, parent pid) of a process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, tail = f.read().rsplit(")", 1)
        return head.split("(", 1)[1], int(tail.split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            kids.setdefault(st[1], []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _measured(pids: list[int]) -> list[int]:
    """Drop JVM spawn children that have not exec'd yet: posix_spawn
    shares the JVM's address space until exec, so their RSS is the
    JVM's counted again (the local file system spawns chmod helpers
    when no native Hadoop library is loaded)."""
    parent = {p: st[1] for p in pids if (st := _stat(str(p))) is not None}
    return [
        p for p, pp in parent.items()
        if not (_exe(p).endswith("/java") and _exe(pp).endswith("/java"))
    ]


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled every `interval` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = _measured(descendants(os.getpid()))
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def calib_s(reps: int = 3) -> float:
    """Median wall time of a fixed CPU job (hashing 64 MiB). Recorded so
    that a slow host window is visible; never used to adjust a metric."""
    buf = bytes(64 << 20)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process the run
    started (the JVM, its Python workers) has exited."""
    from pyspark import SparkContext

    spawned = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + timeout
    while spawned and time.time() < deadline:
        spawned = {p for p in spawned if _alive(p)}
        time.sleep(0.1)
    for p in spawned:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
