"""Host samplers: hypervisor steal share and peak resident memory.

Both read Linux ``/proc`` and need nothing else. ``cpu_times`` and
``steal_pct`` bracket an interval; ``PeakRss`` samples the summed
resident memory of a set of processes on a background thread.
"""

from __future__ import annotations

import threading


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice, so it is left out
    total = sum(fields[:8])
    steal = fields[7] if len(fields) > 7 else 0
    return total, steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two
    ``cpu_times`` readings, in percent."""
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def rss_mb(pid: int) -> float:
    """Resident memory of one process in MB, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


class PeakRss:
    """Peak of the summed resident memory of ``pids``, sampled every
    ``interval`` seconds until ``stop``."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = list(pids)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb
