"""Host sizing and process-tree memory sampling, read from /proc."""

from __future__ import annotations

import os
import threading


def host_config() -> dict:
    """local[N] and the driver heap, derived from this host.

    N is the number of CPUs this process may run on (what `nproc`
    prints). The heap is an eighth of MemTotal, between 1 and 2 GiB:
    the benchmark's inputs are small, and the host's memory is shared
    with the Python workers."""
    cores = len(os.sched_getaffinity(0))
    mem_total_mb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_total_mb = int(line.split()[1]) // 1024
    heap_mb = min(2048, max(1024, mem_total_mb // 8))
    return {"cores": cores, "mem_total_mb": mem_total_mb,
            "master": f"local[{cores}]", "driver_memory": f"{heap_mb}m"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of `root` and all its descendants, in MiB.

    Pages shared between processes (Spark's forked Python workers
    share most of theirs) are split between the sharers (PSS), so the
    sum does not count them once per worker."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += _pss_kb(pid)
        except OSError:
            continue
    return total / 1024


class RssSampler:
    """Samples the process tree's RSS on a background thread; `peak`
    is the highest sample seen while the sampler ran."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))
