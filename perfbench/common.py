"""Shared run plumbing: checkout layout, process environment, timed
session set-up, the bench.py sink action, and percentile helpers."""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "shortvideohybridanalyticslakehouse_spark"
# Scratch space inside the checkout (listed in .gitignore).
WORK = os.path.join(ROOT, ".perfbench_work")
RUNS = os.path.join(ROOT, ".perfbench_runs")
CACHE = os.path.join(ROOT, ".perfbench_cache")


class NotACheckout(RuntimeError):
    """The engine sources the benchmark drives are not beside it."""


def require_checkout() -> None:
    missing = [
        p
        for p in (os.path.join(ROOT, PACKAGE, "__init__.py"),
                  os.path.join(ROOT, "bench.py"),
                  os.path.join(ROOT, "tools", "check_oracle.py"))
        if not os.path.isfile(p)
    ]
    if missing:
        raise NotACheckout("engine sources not found: " + ", ".join(missing))


def prepare_env(workload: str) -> str:
    """Point every scratch write of Spark, the JVM and Python at a fresh
    directory inside the checkout. Returns that directory."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    return work


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
        # -XX:TieredStopAtLevel=1 (C1 only): with C2, warm passes of the
        # same lanes settled 25-35 % apart from run to run while the cold
        # pass did not move, so a run's number depended on which steady
        # state the profile-guided compiler reached; C1 does not speculate
        # on profiles, and runs agree.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        " -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    }


def warmup(spark) -> None:
    """The session's first job (executor, codegen and shuffle paths up).
    It touches no benchmark table. The rest of the warm-up is workload
    work: the untimed oracle pass of the fleet and the first backlog
    micro-batch of the stream."""
    from pyspark.sql import functions as F

    spark.range(1_000).groupBy((F.col("id") % 10).alias("k")).agg(F.sum("id")).collect()


class Setup:
    """One cold set-up, timed by part: registry import, session (JVM)
    start, warmup, and an optional workload hook (``extra``)."""

    def __init__(self, work: str, extra=None) -> None:
        self.work = work
        self.extra = extra
        self.parts: dict[str, float] = {}
        self.spark = None
        self.registry = None
        self.extra_result = None

    def run(self) -> None:
        t0 = time.perf_counter()
        from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

        self.registry = load_all()
        t1 = time.perf_counter()
        from shortvideohybridanalyticslakehouse_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=session_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        warmup(self.spark)
        t3 = time.perf_counter()
        self.parts = {"import_s": t1 - t0, "start_s": t2 - t1, "warmup_s": t3 - t2}
        if self.extra is not None:
            self.extra_result = self.extra(self.spark)
            self.parts["extra_s"] = time.perf_counter() - t3
        self.parts["total_s"] = time.perf_counter() - t0


def shutdown_jvm() -> None:
    """End the Spark JVM this process launched, and its Python workers,
    and wait for them: the JVM exits when its stdin closes, the workers
    when the JVM is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    import host

    descendants = host.child_pids(os.getpid())
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in descendants):
        time.sleep(0.1)


def sink_frame(df):
    """bench.py's timed action, before its collect: hash every output
    column and reduce to one number (the no-I/O analog of a sink)."""
    from pyspark.sql import functions as F

    return df.select(F.sum(F.xxhash64(F.to_json(F.struct(*df.columns)))).alias("h"))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of all order statistics. For a few values in clusters it
    moves smoothly where the sample median jumps from one cluster to the
    next."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    a = (len(x) + 1) / 2.0
    grid = np.linspace(0.0, 1.0, 20_001)
    density = (grid * (1.0 - grid)) ** (a - 1.0)
    cdf = np.concatenate([[0.0], np.cumsum((density[1:] + density[:-1]) / 2.0)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), grid, cdf))
    return float(weights @ x)
