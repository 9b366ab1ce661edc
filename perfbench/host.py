"""Host pinning and process-tree accounting read straight from /proc.

The benchmark's process tree is: this Python driver -> the Spark JVM it
launches -> the ``pyspark.daemon`` -> forked Python workers.  CPU time is
``utime + stime + cutime + cstime`` of every live process in that tree,
so a worker that exited and was reaped is still counted, in its
parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import signal
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Local Spark threads for every workload.  Below nproc so GC/JIT
# threads, the Python workers and the stream generator still get a core.
SPARK_CPUS = 2
DRIVER_MEM = "1g"


def pin(work: str) -> dict[str, str]:
    """Set the environment the program reads at import and session
    start.  Must run before pyspark or the program is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(SPARK_CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def jvm_conf() -> dict[str, str]:
    """Driver JVM options, applied when the first session launches the
    JVM (after pin()).  The heap is fixed at DRIVER_MEM and touched up
    front, so the resident set does not follow the collector's heap
    resizing.  No hsperfdata file: the JVM would write it under /tmp."""
    return {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                             f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}


def ref_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: how fast this host runs
    right now, printed beside the figures so that a slower host shows."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[2]


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree() -> list[tuple[int, str]]:
    """(pid, role) for this process and its descendants; role is
    ``driver``, ``jvm`` or ``pyworker``."""
    kids = _children()
    out = [(os.getpid(), "driver")]
    stack = [(c, None) for c in kids.get(os.getpid(), [])]
    while stack:
        pid, role = stack.pop()
        if role is None:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except FileNotFoundError:
                continue
            role = "jvm" if comm == "java" else "pyworker" if comm.startswith("py") else "driver"
        out.append((pid, role))
        # everything below the JVM is a Python worker (daemon + forks)
        below = "pyworker" if role in ("jvm", "pyworker") else None
        stack.extend((c, below) for c in kids.get(pid, []))
    return out


def cpu_split() -> dict[str, float]:
    """Cumulative CPU-seconds per role of the live process tree."""
    acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are 14..17
        acc[role] += sum(int(x) for x in fields[11:15]) / CLK_TCK
    return acc


def rss_hwm_mb() -> float:
    """Summed VmHWM (peak resident set) of the live process tree."""
    total_kb = 0
    for pid, _role in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return total_kb / 1024


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive; kill what is left then."""
    deadline = time.monotonic() + timeout
    while (alive := [p for p in pids if _state(p) != "Z"]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    """The process state letter; "Z" also for a process that is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError):
        return "Z"
