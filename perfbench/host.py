"""Host context for every benchmark output: shape, noise and memory,
and the process-tree CPU clock the gated costs are read from.

The calibration probes and the steal counter are the ones ``bench.py``
records; ``noise_verdict`` turns their before/after readings into one
machine-readable word.  None of this is a gated metric.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from bench import _steal_jiffies, calibration_probe, parallel_calibration_probe

# A probe that slows by more than this share between the start and the
# end of a run, or CPU steal above this share of the run's CPU time,
# marks the run as measured on a noisy host.
SLOWDOWN_LIMIT = 0.25
STEAL_LIMIT = 0.02


def host_shape(path: str) -> dict:
    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"cores": os.cpu_count(),
            "mem_total_gb": round(mem_kb / 2**20, 1) if mem_kb else None,
            "disk_free_gb": round(shutil.disk_usage(path).free / 2**30, 1)}


def probes() -> dict:
    return {"single_s": calibration_probe(),
            "parallel_s": parallel_calibration_probe(workers=4),
            "steal_jiffies": _steal_jiffies(),
            "t": time.monotonic()}


def noise_verdict(before: dict, after: dict) -> dict:
    """``quiet`` unless a probe slowed by more than SLOWDOWN_LIMIT over
    the run or the hypervisor stole more than STEAL_LIMIT of the CPU."""
    reasons = []
    for name in ("single_s", "parallel_s"):
        ratio = after[name] / before[name]
        if ratio > 1 + SLOWDOWN_LIMIT:
            reasons.append(f"{name} slowed x{ratio:.2f}")
    steal = None
    if before["steal_jiffies"] is not None and after["steal_jiffies"] is not None:
        delta = after["steal_jiffies"] - before["steal_jiffies"]
        cpu_jiffies = ((after["t"] - before["t"]) * os.sysconf("SC_CLK_TCK")
                       * (os.cpu_count() or 1))
        steal = delta / cpu_jiffies if cpu_jiffies > 0 else 0.0
        if steal > STEAL_LIMIT:
            reasons.append(f"steal {steal:.1%} of CPU time")
    return {"noise_verdict": "noisy" if reasons else "quiet",
            "reasons": reasons, "steal_share": steal,
            "calibration_s": {"before": before["single_s"],
                              "after": after["single_s"]},
            "parallel_calibration_s": {"before": before["parallel_s"],
                                       "after": after["parallel_s"]}}


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int],
                           dict[int, int], set[int]]:
    """(parent pid -> child pids, pid -> resident kB, pid -> CPU ticks,
    JVM pids) from /proc.  CPU ticks are user + system time of the
    process and of its reaped children, so a worker that exits hands its
    CPU time to its parent and the tree total never drops."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    java: set[int] = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None:
            continue
        comm, fields = st
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        cpu[pid] = sum(int(f) for f in fields[11:15])
        if comm == "java":
            java.add(pid)
    return children, rss, cpu, java


# HotSpot's JIT compiler threads, by their names as /proc cuts them to 15
# characters.  Their CPU time is left out of the gated clock: compiling
# is the JVM's warm-up, and how much of it lands inside one operation
# depends on when method counters cross thresholds, not on the work the
# operation does.  Early in a run they use ~45 % of the JVM's CPU time.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# (thread id, start time) -> CPU ticks at its last reading.  HotSpot
# stops idle compiler threads; their ticks stay counted here, as they
# stay in their process's total.
_jit_ticks: dict[tuple[int, str], int] = {}


def _jit_cpu_ticks(pids: list[int]) -> int:
    """CPU ticks used so far by the JIT compiler threads of ``pids``."""
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(JIT_THREADS):
                fields = st[1]
                _jit_ticks[(int(tid), fields[19])] = int(fields[11]) + int(fields[12])
    return sum(_jit_ticks.values())


def _descendants(children: dict[int, list[int]], root_pid: int) -> list[int]:
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# Highest resident memory of the process tree seen by tree_cpu_s since
# the last take_peak_rss_mb(), in kB.
_peak_kb = 0


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds, JIT-compiler CPU seconds) used so far by this
    process and all its descendants: the driver, the JVM and its Python
    workers.  The first excludes the second.  Steal time is not counted,
    so differences of this clock are steadier than wall time on a shared
    host.  Each reading also records the tree's resident memory for
    take_peak_rss_mb(): memory is sampled only where the CPU clock is
    read, so no benchmark thread runs while operations do."""
    global _peak_kb
    children, rss, cpu, java = _proc_table()
    pid = os.getpid()
    tree = [pid] + _descendants(children, pid)
    _peak_kb = max(_peak_kb, sum(rss.get(p, 0) for p in tree))
    jit = _jit_cpu_ticks([p for p in tree if p in java])
    tick = os.sysconf("SC_CLK_TCK")
    return (sum(cpu.get(p, 0) for p in tree) - jit) / tick, jit / tick


def take_peak_rss_mb() -> float:
    """Peak resident memory of the process tree over the tree_cpu_s
    readings since the previous call, in MB; starts a new period."""
    global _peak_kb
    kb, _peak_kb = _peak_kb, 0
    return kb / 1024.0


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every process this one started (the JVM's Python workers
    exit once the JVM is gone); kill any still alive after ``timeout_s``."""
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        left = _descendants(_proc_table()[0], os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        with contextlib.suppress(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)
        time.sleep(0.1)
