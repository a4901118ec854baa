"""Host sizing, the benchmark's Spark session, and process-tree hygiene.

The session is built for the machine it runs on, without touching the
package's ``session.py`` defaults: local[nproc] cores, a driver heap
derived from ``MemTotal`` (an eighth of physical RAM, clamped to
[1 GiB, 8 GiB]) and ``SPARK_LOCAL_DIRS`` inside the benchmark's work
directory. Everything the JVM and its Python workers write stays there.

The heap is committed and touched at JVM start (``-Xms`` = ``-Xmx``,
``AlwaysPreTouch``). Otherwise G1 grows it by pause-time feedback, and
peak memory swung by a third from run to run. Peak memory then moves
with what lies outside the Java heap: Python workers, Arrow buffers,
metaspace and code cache.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_facts() -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = mem_total_mb()
    heap = max(1024, min(8192, mem // 8))
    return {
        "cores": cores,
        "mem_total_mb": mem,
        "driver_heap_mb": heap,
        "pre_loadavg": round(os.getloadavg()[0], 2),
    }


def start_session(facts: dict, event_log_dir: str | None):
    """A fresh SparkSession (and SparkContext) on local[cores].

    Called again after ``spark.stop()``, the JVM from the first call is
    reused; only the SparkContext restarts. ``SPARK_LOCAL_DIRS`` must be
    set before the first call (the JVM reads it at launch).
    """
    from entity_deduplication_hack_main_spark import get_spark

    cores = facts["cores"]
    conf = {
        "spark.driver.memory": f"{facts['driver_heap_mb']}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{facts['driver_heap_mb']}m -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "true"
    spark = get_spark(
        parallelism=cores,
        shuffle_partitions=3 * cores,
        app_name="perfbench",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Forked Python workers share most of
    their pages with the daemon, so plain RSS would count those pages
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant. Workers that already exited count through the
    ``cutime``/``cstime`` of the parent that reaped them."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime .. cstime
    return ticks / _TICKS


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: time the
    hypervisor ran something else while this VM had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_pss_mb() -> float:
    """Memory of this process plus every descendant (JVM, Python workers)."""
    me = os.getpid()
    return sum(_pss_kb(p) for p in [me, *descendants(me)]) / 1024.0


class RssSampler:
    """Samples the process tree's resident memory (summed as PSS) every
    ``period`` seconds on a thread; ``window()`` returns the peak since
    the previous call."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_pss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.period)

    def window(self) -> float:
        rss = tree_pss_mb()
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0.0
        return peak


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the Py4J gateway and the JVM it launched, then wait until
    every process this one started has exited (Python workers included)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    tree = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    alive = [p for p in tree if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
