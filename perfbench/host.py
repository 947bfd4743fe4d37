"""Host facts, load sentinels, memory figures and process clean-up."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

# a fixed amount of pure-Python work, ~0.05 s on a 2020s core
_SPIN = (
    "import time\n"
    "t = time.perf_counter()\n"
    "x = 0\n"
    "for i in range(1_000_000):\n"
    "    x += i * i\n"
    "print(time.perf_counter() - t)\n"
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spin_once() -> float:
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def sentinels() -> dict:
    """Single-thread and all-cores busy-loop times (ms).  Slower than
    usual means something else is using this host's CPUs."""
    single = _spin_once()
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN], stdout=subprocess.PIPE, text=True)
        for _ in range(nproc())
    ]
    wide = sorted(float(p.communicate()[0]) for p in procs)
    return {"single_ms": 1000.0 * single, "wide_ms": 1000.0 * wide[len(wide) // 2],
            "wide_max_ms": 1000.0 * wide[-1]}


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
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
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> int | None:
    for p in descendants():
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    return p
        except OSError:
            continue
    return None


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    jp = jvm_pid()
    if jp is not None:
        kb += _status_kb(jp, "VmHWM")
    return kb / 1024.0


def stop_spark() -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait for every process this one started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    procs = descendants()
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
