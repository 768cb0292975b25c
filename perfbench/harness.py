"""Shared pieces of the benchmark: the Spark session, metric records,
order statistics, the host dispatch probe, memory and storage readings,
and the per-call job tracer used by traced runs.

Everything here reaches the engine through its public entry points
(``session.get_spark``) and PySpark's own APIs; nothing is patched.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import tempfile
import time
from dataclasses import dataclass, field


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (``q`` in (0, 1]) of a non-empty list: a value
    that was measured, never a blend of two neighbours."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


@dataclass
class Record:
    """Metrics of one run: value, unit and the number of samples behind it."""

    metrics: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    unavailable: dict[str, str] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = (float(value), unit, int(n))

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def report(self, workload: str, trace: bool) -> None:
        print(f"== perfbench {workload} (trace={int(trace)})")
        for name in sorted(self.metrics):
            value, unit, n = self.metrics[name]
            print(f"  {name:<46} {value:>16.6g} {unit:<10} n={n}")
        for name, why in sorted(self.unavailable.items()):
            print(f"  {name:<46} {'unavailable':>16} ({why})")
        ratio = self.failed / self.attempted if self.attempted else 1.0
        print(f"  {'failure_ratio':<46} {ratio:>16.6g} failed/attempted "
              f"n={self.attempted}")
        for p in self.problems:
            print(f"  FAILED: {p}")

    def result_line(self, names: list[str]) -> str:
        """The one-line JSON result restricted to ``names``."""
        metrics = {n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]}
                   for n in names if n in self.metrics}
        correct = (self.failed == 0 and self.attempted > 0
                   and len(metrics) == len(names))
        return json.dumps({
            "correct": correct,
            "attempted": max(1, self.attempted),
            "failed": self.failed if self.attempted else 1,
            "metrics": metrics,
        })


def configure_env(work: str, trace: bool) -> str | None:
    """Point the engine's session factory at the benchmark's settings.

    Returns the event-log directory of a traced run.  The engine reads
    ``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM`` and
    ``SPARK_GRAFT_CONF`` when its session starts; scratch space and the
    JVM's temporary files stay inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        # no hsperfdata under /tmp; a fixed heap keeps peak RSS steady
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={local} -XX:-UsePerfData -Xms2g",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    eventlog = None
    if trace:
        eventlog = os.path.join(work, "eventlog")
        os.makedirs(eventlog, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={eventlog}",
            "spark.eventLog.compress=false",
        ]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CONF"] = ";".join(conf)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    os.environ["TMPDIR"] = local  # PySpark's gateway hand-off file
    tempfile.tempdir = local
    return eventlog


def start_session(rec: Record, app: str):
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    rec.put("session.start_s", time.perf_counter() - t0, "s")
    return spark


def dispatch_probe_ms(spark) -> float:
    """Mean latency of a one-task job over 30 runs (``bench.py``'s form)."""
    t0 = time.perf_counter()
    for _ in range(30):
        spark.range(0, 1, 1, 1).count()
    return (time.perf_counter() - t0) / 30 * 1000


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cpu_seconds(spark) -> float:
    """User plus system CPU time used so far by the driver JVM and this
    process.  Unlike wall time it leaves out time the host gave to other
    tenants, which on a shared machine is most of the run-to-run noise."""
    with open(f"/proc/{_jvm_pid(spark)}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm_ticks = int(fields[11]) + int(fields[12])  # utime, stime
    own = os.times()
    return jvm_ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's maximum RSS."""
    pid = _jvm_pid(spark)
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def storage_end(spark) -> tuple[int, int]:
    """Cached blocks and bytes still held by the executors."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = sum(i.numCachedPartitions() for i in infos)
    nbytes = sum(i.memSize() + i.diskSize() for i in infos)
    return blocks, nbytes


class JobTracer:
    """Tags each traced call with a job group and counts its jobs,
    stages and tasks through the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def call(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks


def median(values: list[float]) -> float:
    return statistics.median(values)
