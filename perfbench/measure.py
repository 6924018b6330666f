"""Statistics and process accounting for the benchmark (no Spark here).

Timings follow one rule: report the median and the highest percentile that
still has at least ``TAIL_BEYOND`` samples beyond it, with the sample count,
so a tail figure never rests on one or two outliers.
"""

from __future__ import annotations

import os
import signal
import statistics
import time

TAIL_BEYOND = 10


def tail_quantile(n: int) -> float:
    """Highest quantile q (0.5 <= q < 1) with at least TAIL_BEYOND of n
    samples beyond it; 0.5 when the sample is too small for any tail."""
    if n <= 0:
        raise ValueError("tail_quantile needs at least one sample")
    return max(0.5, 1.0 - TAIL_BEYOND / n)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of ``values`` (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timing_summary(walls_s) -> dict:
    """Median and rule-based tail of per-call walls, in milliseconds."""
    ms = [w * 1e3 for w in walls_s]
    q = tail_quantile(len(ms))
    return {
        "samples": len(ms),
        "p50_ms": statistics.median(ms),
        "tail_quantile": q,
        "tail_ms": quantile(ms, q),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (driver, JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss(pids) -> tuple[int, dict[str, list]]:
    """Summed peak resident set (VmHWM) of ``pids`` and its make-up by
    command name: {comm: [processes, MB]}. Read once, at the end of a run,
    so short-lived fork children (a JVM about to exec a Python daemon
    briefly shows the JVM's whole resident set) are never counted."""
    total, parts = 0, {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" not in fields:  # a kernel thread or a zombie
            continue
        b = int(fields["VmHWM"].split()[0]) * 1024
        total += b
        part = parts.setdefault(fields["Name"].strip(), [0, 0.0])
        part[0] += 1
        part[1] += b / 2**20
    return total, parts


def wait_gone(pids, timeout_s: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL what is left after the timeout.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
