"""What the three workloads share: the run context, the result record and
small filesystem and memory helpers."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench.trace import vm_hwm_mb


@dataclass
class Context:
    spark: object
    root: str            # checkout root (holds vector_store_spark/, tools/)
    work: str            # per-run scratch dir, removed at exit
    seed: int
    seconds: float
    traced: bool
    cpus: int
    session_s: float     # SparkSession start, part of setup_s


@dataclass
class Result:
    """One workload run: per-op latencies (ms) for the end-to-end figures,
    the workload's own named metrics, per-layer metrics (traced runs),
    and operation accounting."""
    op_ms: list = field(default_factory=list)
    recall: list = field(default_factory=list)
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    named: dict = field(default_factory=dict)      # name -> (value, unit)
    layers: dict = field(default_factory=dict)     # name -> value
    diagnostics: dict = field(default_factory=dict)

    def check(self, problems: list) -> None:
        """Count one checked operation; a non-empty problem list fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.extend(problems[:2])


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def listing(path: str) -> dict:
    """relative file path -> (size, mtime_ns) for every file under path."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(path: str) -> int:
    return sum(size for size, _ in listing(path).values())


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver, JVM) peak resident set sizes in MB."""
    return vm_hwm_mb(), vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
