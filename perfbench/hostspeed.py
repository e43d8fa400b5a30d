"""Host-speed probe: a fixed reference computation timed between the
benchmark's operations, used to express times at one reference speed.

The benchmark runs on a few cores of a shared host whose speed drifts
by tens of percent, within seconds and over minutes, as other tenants
load it. The probe is work that does not depend on the engine: pure-
Python hashing and sorting in the driver, and big-integer arithmetic in
the driver JVM on one core and then on every core at once. It runs
after each timed operation (once per started ``EVERY_S`` of the
operation's time), outside every timed window, once the JVM
has gone quiet (the JIT and garbage collector finish the operation's
work in the background), so its time tracks the host, not the engine.

An operation's time ``t`` is reported as ``t * REF_S / p``, where ``p``
is the median of the probe samples taken after it and after the
``WINDOW`` operations on each side: the time the operation would take
on a host where the probe takes ``REF_S``. The raw times and every probe sample
are kept in the run payload.
"""

from __future__ import annotations

import hashlib
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Sequence

PY_HASHES = 2_500
PY_SORT = 15_000
JVM_POW = 130_000

#: probe time (s) that defines the reference speed: about the median
#: probe on an unloaded 4-core host
REF_S = 0.045

#: operations on each side whose probe samples also set one's scale
WINDOW = 2

#: one probe sample per this many seconds of operation time, at least one
EVERY_S = 1.5

#: untimed samples at start: the first JVM calls load and compile
WARM_SAMPLES = 3

#: the JVM counts as quiet once it used at most QUIET_TICKS clock ticks
#: of CPU in QUIET_STEP_S; the probe waits at most QUIET_MAX_S for that
QUIET_STEP_S = 0.03
QUIET_TICKS = 1
QUIET_MAX_S = 0.5


def _py_kernel() -> None:
    h = b"perfbench"
    for _ in range(PY_HASHES):
        h = hashlib.sha256(h).digest()
    random.Random(7).sample(range(10 * PY_SORT), PY_SORT).sort()


def _jvm_kernel(jvm) -> None:
    jvm.java.math.BigInteger.valueOf(7).pow(JVM_POW).bitCount()


def _cpu_ticks(pid: int) -> int:
    """User plus system CPU of a process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class Probe:
    """Times the reference computation on demand."""

    def __init__(self, spark, cpus: int, jvm_pid: int | None) -> None:
        self.jvm = spark.sparkContext._jvm
        self.cpus = cpus
        self.jvm_pid = jvm_pid
        self.pool = ThreadPoolExecutor(cpus)
        #: per sample: each kernel's time and the wait for a quiet JVM
        self.parts: dict[str, list[float]] = {"py": [], "jvm1": [], "jvmn": [], "wait": []}
        for _ in range(WARM_SAMPLES):
            self.sample()

    def quiesce(self) -> float:
        """Wait until the JVM is idle (bounded); returns the wait."""
        t0 = time.perf_counter()
        if self.jvm_pid is None:
            return 0.0
        last = _cpu_ticks(self.jvm_pid)
        while time.perf_counter() - t0 < QUIET_MAX_S:
            time.sleep(QUIET_STEP_S)
            now = _cpu_ticks(self.jvm_pid)
            if now - last <= QUIET_TICKS:
                break
            last = now
        return time.perf_counter() - t0

    def sample(self) -> float:
        """One probe: its wall time in seconds, without the wait."""
        w = self.quiesce()
        t0 = time.perf_counter()
        _py_kernel()
        t1 = time.perf_counter()
        _jvm_kernel(self.jvm)
        t2 = time.perf_counter()
        list(self.pool.map(lambda _: _jvm_kernel(self.jvm), range(self.cpus)))
        t3 = time.perf_counter()
        for k, v in zip(("py", "jvm1", "jvmn", "wait"), (t1 - t0, t2 - t1, t3 - t2, w)):
            self.parts[k].append(v)
        return t3 - t0

    def close(self) -> None:
        self.pool.shutdown(wait=True)


def samples_for(wall_s: float) -> int:
    """Probe samples to take after an operation of ``wall_s`` seconds."""
    return max(1, round(wall_s / EVERY_S))


def scale(samples: Sequence[Sequence[float]], i: int, window: int = WINDOW) -> float:
    """Factor that takes operation ``i``'s time to the reference speed;
    ``samples[k]`` holds the probe samples taken after operation k."""
    near = [x for op in samples[max(0, i - window): i + window + 1] for x in op]
    return REF_S / statistics.median(near)
