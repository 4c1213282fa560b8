"""Small measurement helpers: percentiles, open- and closed-loop load, peak
RSS, host CPU steal and the samples taken while the host was quiet."""

from __future__ import annotations

import bisect
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable, Sequence, TypeVar

T = TypeVar("T")

# percentiles a timing may be reported at, lowest first
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def supported_percentile(n: int) -> float | None:
    """Highest percentile of ``LADDER`` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:  # 100 - 99.9 is inexact
            best = p
    return best


@dataclass
class Sent:
    """One request: when it was due, sent and done (clock seconds), and
    what ``send`` returned."""

    due: float
    sent: float
    done: float
    result: Any
    steal: float = 0.0  # host CPU steal while it ran, in percent

    @property
    def latency(self) -> float:
        """Counted from the due time, so a stall also charges the
        requests queued behind it."""
        return self.done - self.due

    @property
    def gen_lag(self) -> float:
        return self.sent - self.due


def open_loop(
    due_offsets: Sequence[float],
    send: Callable[[int], Any],
    workers: int,
) -> list[Sent]:
    """Issue ``send(i)`` at ``start + due_offsets[i]`` regardless of how
    earlier calls fare, on at most ``workers`` threads. A call that finds
    every worker busy waits in the pool queue; its latency still counts
    from its due time."""
    start = time.perf_counter()
    out: list[Sent | None] = [None] * len(due_offsets)
    lock = threading.Lock()

    def task(i: int, due: float) -> None:
        sent = time.perf_counter()
        result = send(i)
        done = time.perf_counter()
        with lock:
            out[i] = Sent(due, sent, done, result)

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = []
        for i, off in enumerate(due_offsets):
            due = start + off
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(task, i, due))
        for f in futures:
            f.result()
    return out  # type: ignore[return-value]


def serial_until(send: Callable[[int], Any], stop: Callable[[list[Sent]], bool]) -> list[Sent]:
    """A closed loop of one client: ``send(0)``, ``send(1)``, ... each as
    soon as the previous one completes, until ``stop(sent so far)``. Each
    call also records the host's CPU steal while it ran."""
    out: list[Sent] = []
    while not stop(out):
        j, t = cpu_jiffies(), time.perf_counter()
        result = send(len(out))
        done = time.perf_counter()
        out.append(Sent(t, t, done, result, steal_pct(j, cpu_jiffies())))
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, in jiffies, from
    /proc/stat. Stolen time is time a virtual CPU was ready to run while
    the hypervisor ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


class StealSampler:
    """Host CPU steal over time. A background thread reads /proc/stat every
    ``SAMPLE_S`` seconds, so the stolen share of any interval of the run
    (``time.perf_counter`` seconds) can be looked up afterwards."""

    SAMPLE_S = 0.1

    def __init__(self) -> None:
        self.times: list[float] = []
        self.jiffies: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        # jiffies first: ``pct`` bisects ``times``, so every time it sees
        # has its counters
        self.jiffies.append(cpu_jiffies())
        self.times.append(time.perf_counter())

    def _loop(self) -> None:
        while not self._stop.wait(self.SAMPLE_S):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def pct(self, start: float, end: float) -> float:
        """Steal over the samples bracketing ``[start, end]``."""
        n = len(self.times)
        lo = max(0, bisect.bisect_right(self.times, start, 0, n) - 1)
        hi = min(n - 1, bisect.bisect_left(self.times, end, 0, n))
        return steal_pct(self.jiffies[lo], self.jiffies[max(hi, lo)])


# a sample counts as quiet when the hypervisor stole at most this share of
# the host's CPU while it ran
QUIET_PCT = 2.0


def quiet(samples: Sequence[T], steal: Sequence[float]) -> list[T]:
    """The samples taken while the host was quiet, or, when fewer than half
    were, the half taken under the least steal. On a shared VM, serial
    Python-JVM round trips slow by 1.5-2.5x while other guests take 10-15%
    of the CPU, so this keeps the program's time, not the neighbours'."""
    keep = [x for x, s in zip(samples, steal) if s <= QUIET_PCT]
    if 2 * len(keep) >= len(samples):
        return keep
    order = sorted(range(len(samples)), key=lambda i: steal[i])
    return [samples[i] for i in order[: (len(samples) + 1) // 2]]


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(descendants: bool = False) -> float:
    """Peak resident set size (VmHWM) from /proc: of this process, or
    summed over its live descendants (the JVM and its python workers)."""
    pid = os.getpid()
    total, stack = 0, _children(pid) if descendants else [pid]
    while stack:
        p = stack.pop()
        total += _vm_hwm_kb(p)
        if descendants:
            stack.extend(_children(p))
    return total / 1024.0

