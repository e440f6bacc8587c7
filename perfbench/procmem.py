"""Peak resident memory of a process tree, sampled from ``/proc``.

The benchmark's own Python process is the root; its descendants are the
Spark driver JVM and the Python workers that JVM forks.  The sampler sums
``VmRSS`` over the descendants only, so data the benchmark itself holds
for its output checks does not count against the program.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys


def _children_map(proc: str) -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat"), encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process exited between listdir and open
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int, proc: str = "/proc") -> list[int]:
    children = _children_map(proc)
    out: list[int] = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_kb(pid: int, proc: str = "/proc") -> int:
    try:
        with open(os.path.join(proc, str(pid), "status"),
                  encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0  # exited, or a kernel thread without VmRSS


def tree_rss_kb(root: int, proc: str = "/proc", exclude=()) -> int:
    return sum(rss_kb(p, proc) for p in descendants(root, proc)
               if p not in exclude)


class PeakRSS:
    """Summed RSS of ``root``'s descendants, sampled by a child process.

    A sampling thread inside the driver would compete for the interpreter
    lock with the py4j calls that build every Spark plan, and measurably
    slow the passes it measures; a separate process does not.  The child
    samples until its stdin closes, then prints ``peak_kb samples``."""

    def __init__(self, root: int | None = None,
                 interval_s: float = 0.2) -> None:
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._proc = None

    def start(self) -> "PeakRSS":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root),
             str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def stop(self) -> None:
        if self._proc is None:
            return
        out, _ = self._proc.communicate(input="", timeout=30)
        peak, samples = out.split()
        self.peak_kb, self.samples = int(peak), int(samples)
        self._proc = None

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _sample_until_eof(root: int, interval_s: float) -> None:
    me = (os.getpid(),)
    peak = samples = 0
    while True:
        kb = tree_rss_kb(root, exclude=me)
        peak = max(peak, kb)
        samples += 1
        ready, _, _ = select.select([sys.stdin], [], [], interval_s)
        if ready and not sys.stdin.read(1):
            break
    print(peak, samples, flush=True)


if __name__ == "__main__":
    _sample_until_eof(int(sys.argv[1]), float(sys.argv[2]))
