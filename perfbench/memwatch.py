"""Process-tree memory sampler, run as a child process so that sampling
takes no time from the benchmark's own interpreter.

    python3 memwatch.py <root-pid> <period-seconds>

Every period it sums the proportional set size (PSS: resident memory,
with pages shared between processes split among them, so the forked
Python workers' shared pages count once) of <root-pid> and all its
descendants except itself (driver Python, the JVM, Spark's Python
workers), and tracks the largest Python-worker high-water mark (VmHWM)
and JVM PSS. When its stdin closes it prints
``<peak_mb> <worker_peak_mb> <jvm_peak_mb>`` and exits.
"""

from __future__ import annotations

import os
import sys
import threading


def pss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree(root: int) -> dict[int, str]:
    """pid -> command name for `root` and its descendants."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        r = st.rfind(")")
        pid = int(name)
        comm[pid] = st[st.find("(") + 1:r]
        parent[pid] = int(st[r + 2:].split()[1])
    out = {root: comm.get(root, "")}
    grew = True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in out and pid not in out:
                out[pid] = comm[pid]
                grew = True
    return out


def main() -> None:
    root, period = int(sys.argv[1]), float(sys.argv[2])
    me = os.getpid()
    peak = worker = jvm = 0.0
    done = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), done.set()), daemon=True).start()
    while True:
        total = 0.0
        for pid, comm in tree(root).items():
            if pid == me:
                continue
            try:
                mb = pss_mb(pid)
                total += mb
                if comm == "java":
                    jvm = max(jvm, mb)
                elif pid != root and comm.startswith("python"):
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmHWM:"):
                                worker = max(worker, int(line.split()[1]) / 1024)
                                break
            except OSError:
                continue
        peak = max(peak, total)
        if done.wait(period):
            break
    print(f"{peak:.3f} {worker:.3f} {jvm:.3f}", flush=True)


if __name__ == "__main__":
    main()
