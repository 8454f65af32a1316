"""Host-side probes: process-tree RSS from /proc and CPU reference loops.

These read only ``/proc`` and the benchmark's own processes. The CPU
probes are host-noise diagnostics, not metrics: a slow probe reading
says the host, not the code, was slow.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
_PROBE_LOOP = 2_000_000


def process_start_epoch(pid: int | str = "self") -> float:
    """Wall-clock time at which ``pid`` started (``/proc/<pid>/stat``)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5); 2 fields precede the split
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_and_kind(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except (OSError, ValueError, IndexError):
        return None
    if comm == "java":
        return rss, "jvm"
    if comm.startswith("python"):
        return rss, "python"
    return rss, "other"


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of the tree rooted at ``root``, split by kind."""
    totals = {"jvm": 0, "python": 0, "other": 0, "n_python": 0}
    for pid in process_tree(root):
        got = _rss_and_kind(pid)
        if got is None:
            continue
        rss, kind = got
        totals[kind] += rss
        if kind == "python":
            totals["n_python"] += 1
    totals["total"] = totals["jvm"] + totals["python"] + totals["other"]
    return totals


class RssSampler:
    """Samples the process tree's RSS on a background thread and keeps
    the peaks (whole tree, JVM, Python processes)."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "python": 0, "n_python": 0}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> dict[str, int]:
        cur = tree_rss(self.root)
        for k in self.peak:
            self.peak[k] = max(self.peak[k], cur[k])
        self.samples += 1
        return cur

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_ticks() -> dict[str, int]:
    """Machine-wide CPU time so far, in clock ticks: ``busy`` (user +
    system) and ``steal`` (time the hypervisor ran someone else while
    this machine wanted to run)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2], "steal": v[7] if len(v) > 7 else 0}


def cpu_probe() -> float:
    """Seconds for one pure-Python reference loop on one core."""
    t0 = time.perf_counter()
    s = 0
    for i in range(_PROBE_LOOP):
        s += i
    if s != _PROBE_LOOP * (_PROBE_LOOP - 1) // 2:
        raise RuntimeError("cpu probe computed a wrong sum")
    return time.perf_counter() - t0


def cpu_probe_parallel(n_procs: int) -> float:
    """Seconds until all of ``n_procs`` concurrent copies of the
    reference loop finish, one per child process; size ``n_procs`` to
    the cores Spark was given. Children start first and wait for a go
    signal, so interpreter start-up is not timed."""
    code = (
        "import sys, time\n"
        "print('ready', flush=True)\n"
        "sys.stdin.readline()\n"
        "t0 = time.perf_counter(); s = 0\n"
        f"for i in range({_PROBE_LOOP}): s += i\n"
        "print(time.perf_counter() - t0, s)\n"
    )
    kids = [subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True) for _ in range(n_procs)]
    try:
        for k in kids:
            k.stdout.readline()  # every child is up before any starts its loop
        for k in kids:
            k.stdin.write("go\n")
            k.stdin.flush()
        times = []
        for k in kids:
            out, _ = k.communicate(timeout=120)
            secs, total = out.split()
            if int(total) != _PROBE_LOOP * (_PROBE_LOOP - 1) // 2:
                raise RuntimeError("parallel cpu probe computed a wrong sum")
            times.append(float(secs))
    finally:
        for k in kids:
            if k.poll() is None:
                k.kill()
            k.wait()
    return max(times)
