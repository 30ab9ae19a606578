"""Pins the environment the program runs in, and reads the host figures
recorded beside the metrics (core count, load average, resident memory of
the Spark driver JVM and its Python workers)."""

from __future__ import annotations

import os
import shlex
import threading


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def pin(root: str, work: str, cores: int, trace_dir: str | None) -> None:
    """Environment for the Spark session, set before it starts: the master
    width, driver memory, scratch dirs inside ``work`` (so nothing is
    written outside the checkout), ``PYTHONPATH`` for the Python workers
    (so the command runs from any cwd), and the event log when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                      if p and p != root]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.local.dir": tmp,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


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


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of every process below ``root_pid`` (not counting
    ``root_pid`` itself): the driver JVM and the Python workers it forks."""
    kids = _children()
    total, todo = 0, list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Samples :func:`tree_rss_mb` of this process on a background thread
    and keeps the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
