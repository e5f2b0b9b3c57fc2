"""Peak resident memory of a process tree, and the speed of the cores it
runs on, sampled from outside it.

Usage: python rss_sampler.py <root-pid> <interval-seconds>

Every interval until standard input is closed, it sums the proportional
set size (PSS: resident pages, shared ones split among the processes
sharing them) of ``root-pid`` and all its descendants (driver Python,
JVM, Spark's Python workers), and times one run of a fixed reference
loop in CPU seconds. Then it prints one JSON object: the peak in MiB
and the mean CPU seconds of the loop. Plain RSS would count the pages
that forked Python workers share with their daemon once per worker.
The sampler excludes itself.
"""

from __future__ import annotations

import json
import os
import select
import statistics
import sys
import time


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(root: int, exclude: int) -> int:
    total = 0
    for pid in descendants(root):
        if pid == exclude:
            continue
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
    return total


def reference_loop_s() -> float:
    """CPU seconds of one fixed pure-Python loop, ~2 ms on a quiet
    4-core VM. Its CPU time grows when the host runs the core slower (a
    busy sibling hyperthread, a lower clock), and leaves out time spent
    waiting for a core."""
    t0 = time.thread_time()
    x = 0
    for i in range(20_000):
        x += i * i % 7
    return time.thread_time() - t0


def main() -> None:
    root, interval = int(sys.argv[1]), float(sys.argv[2])
    me = os.getpid()
    peak, loops = 0, []
    while True:
        peak = max(peak, tree_pss_bytes(root, me))
        loops.append(reference_loop_s())
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        if ready and not sys.stdin.read(1):
            break
    print(json.dumps({"peak_mb": peak / 2**20,
                      "loop_s": statistics.fmean(loops)}))


if __name__ == "__main__":
    main()
