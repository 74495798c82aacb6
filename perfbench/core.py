"""Shared pieces of the benchmark: run context, Spark session start,
statistics and the result record every workload returns."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Context:
    seed: int
    seconds: float
    spec: dict
    work: str          # scratch directory of this run, inside the checkout

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    """What a workload measured. ``ops`` are per-operation latencies in
    ms (a page request, a micro-batch trigger or a headline query);
    ``items`` is the number of items behind ``throughput_per_s``."""

    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    setup_parts: dict = field(default_factory=dict)
    ops: list[float] = field(default_factory=list)
    items: int = 0
    measured_s: float = 0.0
    peak_rss_mb: float = 0.0
    detail: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)   # name -> (value, unit), printed only
    state: dict = field(default_factory=dict)   # workload-private, for layers()
    failures: list = field(default_factory=list)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``. Needs at least eleven samples."""
    n = len(values)
    if n < 11:
        raise ValueError(f"{n} samples cannot support a tail with ten beyond it")
    s = sorted(values)
    return s[n - 11], 100.0 * (n - 10) / n, n


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(r: Result) -> dict[str, float]:
    t, _, _ = tail(r.ops)
    return {
        "setup_s": r.setup_s,
        "op_p50_ms": statistics.median(r.ops),
        "op_tail_ms": t,
        "op_geomean_ms": geomean(r.ops),
        "throughput_per_s": r.items / r.measured_s,
    }


class Stopwatch:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0


def isolate_scratch(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at the
    run's own directory, so a run writes only inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the session factory reads its heap size from here; 2g keeps one
    # run small on a shared machine and is ample for these inputs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def session_conf(ctx: Context, extra: dict | None = None) -> dict[str, str]:
    tmp = ctx.path("tmp")
    conf = {
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.local.dir": ctx.path("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if extra:
        conf.update(extra)
    return conf


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
