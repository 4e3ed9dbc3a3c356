"""Environment capture, /proc RSS sampling and process-tree shutdown.

No psutil in this toolchain, so everything reads /proc directly.
"""

from __future__ import annotations

import os
import platform
import signal
import sys
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> str:
    """Pin cores and heap through the program's own variables and keep
    every temporary file inside ``work``.  Returns the driver JVM's
    options."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores()))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM spark-submit starts first, and the driver JVM,
    # would otherwise write hsperfdata and temp files under /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.abspath(tmp)}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # Python workers import the program and the benchmark by name
    root = os.getcwd()
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != root]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return jvm_opts


def describe(spark) -> dict:
    return {
        "spark": spark.version,
        "python": platform.python_version(),
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "host_cores": os.cpu_count(),
        "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


# ---- /proc process tree -----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"java" in f.read().split(b"\0")[0]
    except OSError:
        return False


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_parts(root: int, kids: dict[int, list[int]], is_java, rss) -> dict:
    """VmRSS (kB) of ``root`` and its descendants, split into driver,
    JVM and Python workers.  A java process whose parent is a java
    process is skipped: it is the JVM spawning a helper command, which
    until its exec shares the JVM's pages and would count them twice."""
    parts = {"driver": rss(root), "jvm": 0, "workers": 0}
    todo = [(root, False)]
    while todo:
        pid, parent_java = todo.pop()
        for c in kids.get(pid, []):
            java = is_java(c)
            if not (java and parent_java):
                parts["jvm" if java else "workers"] += rss(c)
            todo.append((c, java))
    return parts


class RssSampler:
    """Background thread summing VmRSS over this process and all its
    descendants (driver, JVM, Python workers) every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.parts_at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        parts = tree_parts(me, _children_map(), _is_java, rss_kb)
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.parts_at_peak = parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling; the peak stays as it was.  Idempotent."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
        reap_children(timeout)


def reap_children(timeout: float = 30.0) -> None:
    me = os.getpid()
    left = descendants(me)
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while left:
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our direct child; poll /proc below
        time.sleep(0.1)
        left = [p for p in descendants(me) if os.path.exists(f"/proc/{p}")]
        if time.time() > deadline:
            sig = signal.SIGKILL
            if time.time() > deadline + timeout:
                print(f"processes still alive: {left}", file=sys.stderr)
                return
