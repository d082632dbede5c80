"""Run context shared by the workloads: the pinned environment, peak
memory sampling, operation accounting and the traced-call bracket."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

CPUS = min(4, os.cpu_count() or 1)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


# well below the box's RAM: the engine's 16g default exceeds small boxes
DRIVER_MEM_MB = min(2048, _mem_total_mb() // 4)
MEM_SAMPLE_S = 0.5


def pin_environment(root: str) -> dict:
    """Set the engine's sizing knobs before the session starts, and point
    every temporary directory (Python's, the Python workers', Spark's
    local dirs) into the run directory ``root``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_MEM_MB}m"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # no JVM (spark-submit's launcher included) writes perf data to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {"cpus": CPUS, "driver_mem_mb": DRIVER_MEM_MB, "tmp": tmp}


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest standard percentile with at least ten samples beyond
    it, or the maximum when there are too few samples for any."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            return statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1], f"p{p:g}"
    return xs[-1], f"max(n={n})"


class MemSampler:
    """Peak memory of this process and all its descendants (the driver
    JVM and the Python workers), as the sum of their proportional set
    sizes from ``/proc/<pid>/smaps_rollup``. Forked Python workers share
    most pages with their daemon; summing resident sizes would count
    those pages once per worker."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(MEM_SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())


@dataclass
class Timed:
    ms: float = 0.0
    counts: object = None
    span: dict | None = None


@dataclass
class Context:
    """What a workload reads and fills in for the end-to-end metrics."""

    spark: object
    root: str
    seed: int
    tracer: object
    store: object  # collector.StatusStore in the traced run, else None
    recorder: object = None  # recorder.BatchRecorder
    ops_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rows: int = 0
    timed_s: float = 0.0
    input_bytes: int = 0
    stored_bytes: int = 0

    @property
    def traced(self) -> bool:
        return self.store is not None

    def op(self, ms: float) -> None:
        self.ops_ms.append(ms)

    @contextlib.contextmanager
    def timed(self, name: str):
        """Wall time of the block; in the traced run also a span and the
        block's Spark counts (read after the clock stops)."""
        box = Timed()
        mark = self.store.mark() if self.traced else None
        with self.tracer.span(name) as sp:
            box.span = sp
            t0 = time.perf_counter()
            yield box
            box.ms = (time.perf_counter() - t0) * 1000
        if self.traced:
            box.counts = self.store.since(mark)
            sp.update(box.counts.as_dict())

    def repeat(self, seconds: float, unit) -> None:
        """Run ``unit`` (one refresh, one round of drains) until
        ``seconds`` have passed, and at least once."""
        t0 = time.perf_counter()
        unit()
        while time.perf_counter() - t0 < seconds:
            unit()

    def attempt(self, what: str, fn) -> None:
        """Run one operation; an exception or a failed check counts it
        failed, and the run goes on."""
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:", file=sys.stderr)
            traceback.print_exc()


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)
