"""Out-of-process CPU and memory sampler for a process tree.

    python3 perfbench/sampler.py <root_pid> <interval_s> <samples_path>

Every ``interval_s`` it walks the tree under ``root_pid`` (itself
excluded), sorts each process into a class and appends one line to
``samples_path``:

    - <t> <driver_cpu_s> <jvm_cpu_s> <pyworker_cpu_s> <pss_bytes>

``driver`` is the root process, ``jvm`` a ``java`` process under it and
``pyworker`` every process under a JVM (the PySpark daemon and the Python
workers it forks). CPU is user + system time including reaped children,
so a worker that exits is still counted through the parent that reaped
it. Memory is the proportional set size summed over the live tree.

A line ``mark <name>`` on stdin takes a sample at once, writes it with
``<name>`` in place of ``-`` and answers ``ok`` on stdout, so the caller
can bracket a window exactly. The sampler exits when stdin closes.
"""

from __future__ import annotations

import os
import select
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
CLASSES = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return comm, ppid, ticks / CLK_TCK


def _pss(pid: int) -> int:
    """Proportional set size in bytes: a page shared by n processes counts
    1/n in each, so the forked Python workers' copy-on-write pages are not
    counted once per worker as plain RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def sample_tree(root: int, exclude: int) -> tuple[dict[str, float], int]:
    """Per-class CPU seconds and summed PSS bytes of the tree under root."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_comm, ppid, _cpu) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu = dict.fromkeys(CLASSES, 0.0)
    mem = 0
    stack = [(root, "driver")]
    while stack:
        pid, cls = stack.pop()
        if pid == exclude or pid not in procs:
            continue
        comm = procs[pid][0]
        if cls == "driver" and pid != root and comm == "java":
            cls = "jvm"
        cpu[cls] += procs[pid][2]
        mem += _pss(pid)
        child_cls = "pyworker" if cls in ("jvm", "pyworker") else cls
        stack.extend((c, child_cls) for c in children.get(pid, ()))
    return cpu, mem


def main() -> None:
    root, interval, path = int(sys.argv[1]), float(sys.argv[2]), sys.argv[3]
    me = os.getpid()
    with open(path, "w") as out:
        while True:
            ready, _, _ = select.select([sys.stdin], [], [], interval)
            tag = "-"
            if ready:
                line = sys.stdin.readline()
                if not line:
                    break
                tag = line.split()[1]
            cpu, mem = sample_tree(root, me)
            out.write(
                f"{tag} {time.time():.6f} "
                + " ".join(f"{cpu[c]:.2f}" for c in CLASSES)
                + f" {mem}\n"
            )
            if tag != "-":
                out.flush()
                sys.stdout.write("ok\n")
                sys.stdout.flush()


if __name__ == "__main__":
    main()
