"""Fit the Spark session to the host, and read the host's own
instruments: CPU and resident memory of this process tree from
``/proc``, and the load average."""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import threading
import time


def cpu_count() -> int:
    """CPUs this process may run on (``nproc`` without the
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    """A quarter of physical memory, between 1 GiB and 6 GiB, in
    256 MiB steps: ``local[N]`` runs every executor inside the driver
    JVM, and the machine is shared."""
    return max(1024, min(6144, total_mb // 4)) // 256 * 256


def fit_env(repo_root: str, work: str) -> dict[str, str]:
    """Export the settings the engine reads at session start and
    return them for the run's config block.  ``PYTHONPATH`` must hold
    the repo root so executor-side Python workers (the change-feed
    data source, UDFs) can import the package."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_DRIVER_MEM": f"{driver_mem_mb(mem_total_mb())}m",
        "PYTHONPATH": repo_root + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM of the run (launcher and driver) keeps its temporary
        # files in the work dir and writes no /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"{jto} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_seconds() -> float:
    """utime + stime of every live process in the tree, plus the
    children's totals each has reaped (exited Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


def wait_for_children(timeout: float) -> list[int]:
    """Wait until every descendant of this process has exited; kill
    the ones still alive after ``timeout`` seconds and return them."""
    deadline = time.time() + timeout
    while True:
        left = process_tree()[1:]
        if not left:
            return []
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            return left
        time.sleep(0.1)


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background thread tracking the peak resident memory of this
    process tree: sampled every 0.1 s, the tree re-listed every 1 s."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        i = 0
        while not self._stop.is_set():
            if i % 10 == 0:
                pids = process_tree()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            i += 1
            self._stop.wait(0.1)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
