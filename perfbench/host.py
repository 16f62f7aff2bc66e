"""Host record for every artifact: core count, CPU steal, peak memory.

The steal reading is the load probe of ``tools/machine_health.py``
(steal is only visible while every core is busy), shortened to half a
second and run before and after the measured part of a run. A reading
above ``STEAL_FLAG_PCT`` marks the run's timings as suspect.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

STEAL_FLAG_PCT = 5.0


# each burner says it is up, then keeps one core busy for argv[1] seconds
_BURN = (
    "import sys, time\n"
    "sys.stdout.write('u'); sys.stdout.flush()\n"
    "stop = time.time() + float(sys.argv[1])\n"
    "while time.time() < stop:\n"
    "    sum(i * i for i in range(10_000))\n"
)


def cpu_ticks() -> list[int]:
    # /proc/stat first line: user nice system idle iowait irq softirq steal
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / (sum(d) or 1)


def steal_probe(seconds: float = 0.5) -> dict:
    """Steal and idle share of all CPU time while every core burns."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN, str(seconds)], stdout=subprocess.PIPE)
        for _ in range(nproc())
    ]
    for p in procs:
        p.stdout.read(1)  # every burner is up: the window starts now
    t0 = cpu_ticks()
    for p in procs:
        p.wait()
        p.stdout.close()
    t1 = cpu_ticks()
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"steal_pct": round(100.0 * d[7] / total, 2),
            "idle_pct": round(100.0 * d[3] / total, 2)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def wait_exited(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for ``pids`` to end; kill the ones still running at the
    timeout and return them."""
    deadline = time.time() + timeout_s
    alive = [p for p in pids if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user and system) used so far by ``root`` and every
    process under it, including the children they have already reaped
    (Python workers that came and went). The scheduler does not charge
    a process for time its virtual core was stolen or spent waiting."""
    ticks = 0
    for pid in process_tree(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the per-process peak RSS of this process and every process
    under it: the JVM, the Python worker daemon and its workers."""
    return sum(_hwm_kb(pid) for pid in process_tree(os.getpid())) / 1024.0


def nproc() -> int:
    """Cores this process may run on, as `nproc` prints."""
    return len(os.sched_getaffinity(0))
