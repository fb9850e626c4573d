"""The host's core speed, sampled beside the harness JVM.

The benchmark runs on a few cores of a shared host, whose speed per
core swings by up to 2x within minutes as other tenants come and go.
A raw wall or CPU time follows that swing as much as it follows graft.

So a thread of the runner times a fixed interpreted kernel every
PERIOD_S, in the thread's own CPU time, for as long as the harness JVM
runs. The kernel's work never changes and no graft code runs in it:
its time follows only how fast the host runs this guest's cores. A
timed interval is then reported at a reference speed, as

    measured time x REF_KERNEL_MS / mean kernel time over the interval

Over two sets of ten runs per workload on a 4-core guest, the raw
end-to-end times spread 10-27% (IQR / median) and the scaled ones
2-10%; between the sets the raw medians rose 5-10% and the scaled ones
moved 6% or less (perfbench/README.md, "Host speed").
"""
import json
import statistics
import threading
import time

PERIOD_S = 0.05
KERNEL_N = 10_000
# The kernel time the scaled figures are given at; about the kernel's
# median time on the 4-core guest the benchmark was tuned on.
REF_KERNEL_MS = 1.0
# An interval with fewer samples than this cannot be scaled: the run fails.
MIN_SAMPLES = 20


def kernel():
    s = 0
    for i in range(KERNEL_N):
        s = (s * 31 + i) & 0xFFFFFFF
    return s


class Probe:
    """Samples (CLOCK_MONOTONIC ns at the kernel's end, kernel CPU ns)
    from `with Probe()` until the block exits. CLOCK_MONOTONIC is the
    clock of the JVM's System.nanoTime, so the samples line up with the
    harness's own timestamps."""

    def __init__(self):
        self.samples = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="speed-probe", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            c0 = time.thread_time_ns()
            kernel()
            c1 = time.thread_time_ns()
            self.samples.append((time.monotonic_ns(), c1 - c0))
            self._stop.wait(PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def dump(self, path, spawn_ns):
        with open(path, "w") as f:
            json.dump({"spawn_ns": spawn_ns, "samples": self.samples}, f)


class HostSpeed:
    """The samples of one run, as `Probe.dump` wrote them."""

    def __init__(self, probe_json):
        self.spawn_ns = probe_json["spawn_ns"]
        self.samples = probe_json["samples"]

    def kernel_ms(self, a_ns, b_ns):
        """Mean kernel time over the samples taken in [a_ns, b_ns]."""
        xs = [c for t, c in self.samples if a_ns <= t <= b_ns]
        if len(xs) < MIN_SAMPLES:
            raise ValueError(f"{len(xs)} speed samples in the interval, need {MIN_SAMPLES}")
        return statistics.mean(xs) / 1e6

    def scale(self, a_ns, b_ns):
        """The factor that takes a time measured over [a_ns, b_ns] to the
        reference speed."""
        return REF_KERNEL_MS / self.kernel_ms(a_ns, b_ns)
