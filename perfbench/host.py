"""Host-noise record and process memory, read from /proc.

Co-tenant CPU steal on a shared host moves timings by 10-50 %. Every run
records loadavg at start and end, the steal share of CPU time over the
run, ``nproc`` and ``SPARK_GRAFT_CPUS``, and is stamped ``noisy`` when it
breaks the rule in ``NOISE_RULE`` so a comparison can leave it out.
"""

from __future__ import annotations

import os
import threading

# A run is noisy when the host was busy before it started or CPU steal
# took a visible share of the machine while it ran. (Back-to-back runs
# leave a 1-min loadavg of about 2-3 on 4 cores by themselves.)
NOISE_RULE = {"max_load_per_core_start": 1.0, "max_steal_frac": 0.03}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    ticks = [int(x) for x in fields]
    steal = ticks[7] if len(ticks) > 7 else 0
    return sum(ticks[:8]), steal


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def child_pids(pid: int) -> list[int]:
    """Every descendant of ``pid`` (the driver JVM and Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


class HostRecord:
    """Brackets one run: call ``finish()`` at the end for the record."""

    def __init__(self) -> None:
        self.load_start = loadavg()
        self.ticks_start = _cpu_ticks()

    def finish(self) -> dict:
        total0, steal0 = self.ticks_start
        total1, steal1 = _cpu_ticks()
        steal_frac = (steal1 - steal0) / max(1, total1 - total0)
        nproc = os.cpu_count() or 1
        reasons = []
        if self.load_start[0] > NOISE_RULE["max_load_per_core_start"] * nproc:
            reasons.append(f"loadavg_start {self.load_start[0]:.2f} > "
                           f"{NOISE_RULE['max_load_per_core_start']}/core")
        if steal_frac > NOISE_RULE["max_steal_frac"]:
            reasons.append(f"steal {steal_frac:.3f} > {NOISE_RULE['max_steal_frac']}")
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
            "steal_frac": steal_frac,
            "nproc": nproc,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "noise_rule": NOISE_RULE,
            "noisy": bool(reasons),
            "noisy_reasons": reasons,
        }


class PeakRss:
    """Samples this process plus its descendants every ``interval`` s on a
    background thread; ``stop()`` returns the peak total in MB."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        me = os.getpid()
        total = rss_mb(me) + sum(rss_mb(p) for p in child_pids(me))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak
