"""Process-tree CPU accounting shared by bench.py and perfbench/.

Wall-clock on a shared VM can stall at random (BASELINE.md: identical runs
vary 5x), so the benches report process-tree CPU seconds, split by process
kind (JVM vs Python workers), alongside their wall numbers.
"""

from __future__ import annotations

import os
from collections import defaultdict


def _walk_subtree() -> dict[str, float]:
    """One /proc walk: CPU seconds of this process tree keyed by comm name.

    Single source of truth for both public helpers — a second hand-rolled
    /proc/<pid>/stat parser would have to be kept field-for-field in sync
    (comm can contain spaces and ')', hence the rindex-based split)."""
    me = os.getpid()
    tck = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("latin1")
        except OSError:
            continue
        lp, rp = s.index("("), s.rindex(")")
        comm = s[lp + 1 : rp]
        fields = s[rp + 2 :].split()
        ppid = int(fields[1])
        jiffies = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
        procs[int(d)] = (ppid, jiffies, comm)
    ch = defaultdict(list)
    for pid, (pp, _, _) in procs.items():
        ch[pp].append(pid)
    by_comm: dict[str, float] = defaultdict(float)
    stack = [me]
    while stack:
        p = stack.pop()
        if p in procs:
            _, j, comm = procs[p]
            by_comm[comm] += j / tck
        stack.extend(ch.get(p, []))
    return dict(by_comm)


def subtree_cpu_seconds() -> float:
    """CPU seconds consumed by this process tree (driver + JVM + Python
    workers), summed from /proc/<pid>/stat utime+stime+cutime+cstime."""
    return sum(_walk_subtree().values())


def subtree_cpu_by_kind() -> dict[str, float]:
    """CPU seconds for this process tree split by process kind: 'java' (the
    Spark JVM), 'python' (driver + pyspark daemon/workers), 'other'.

    Diagnostic companion to subtree_cpu_seconds: when CPU-seconds for the
    IDENTICAL job inflate at higher parallelism (BASELINE.md scaling notes),
    this split shows whether the extra cycles are JVM-side (GC / shuffle /
    codegen under a shared heap) or Python-side (tokenizer workers sharing
    memory bandwidth), which decides whether it is tunable software or the
    host's SMT ceiling."""
    by_kind: dict[str, float] = defaultdict(float)
    for comm, secs in _walk_subtree().items():
        kind = (
            "java"
            if "java" in comm
            else "python" if "python" in comm or "pyspark" in comm else "other"
        )
        by_kind[kind] += secs
    return dict(by_kind)
