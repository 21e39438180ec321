"""Session, process and result plumbing shared by the workloads."""

from __future__ import annotations

import json
import os
import platform
import sys
import time
from dataclasses import dataclass, field

#: the checkout the benchmark runs from (the parent of this directory)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the driver JVM's heap, fixed from start (see ``start_session``)
HEAP = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Pin the execution shape and keep every scratch file in ``work``.
    Must run before the library (and so pyspark) is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # the JVM that builds the driver's command line: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # glibc's per-thread malloc arenas (8 per core by default) make the
    # JVM's native footprint, and so peak_rss_mb, vary from run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    """The library's own session factory, with scratch paths inside
    ``work``. The traced run keeps every job in the status store."""
    from mongodb_cdc_delta_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap and young generation: G1's adaptive heap and eden
        # sizing follows pause times, so peak_rss_mb swung by 20% between
        # runs with it (1.45-1.87 GB on `query`); no perf-data file, which
        # the JVM would write to /tmp whatever its tmpdir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms{HEAP} -Xmn384m -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def calib() -> float:
    """The repository's fixed-CPU probe (numpy GEMM), in seconds."""
    from bench import cpu_calibration

    return cpu_calibration()


def shape() -> dict:
    import pyspark

    return {
        "nproc": cpu_count(),
        "master": f"local[{cpu_count()}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


@dataclass
class Result:
    """What one run reports: metrics by name, and the op/check tally."""

    workload: str
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        self.failures.append(what)

    def check(self, ok: bool, what: str, weight: int = 1) -> None:
        """Count one output check as an attempted op; a failed check
        counts ``weight`` failures (e.g. the number of lost events)."""
        self.attempted += 1
        if not ok:
            self.fail(max(weight, 1), what)

    def line(self, units: dict[str, str]) -> str:
        """The final JSON line: exactly the metrics in ``units`` (name →
        unit); a metric the workload did not produce is 0, because the
        layer it measures did no work."""
        return json.dumps(
            {
                "correct": self.failed == 0,
                "attempted": max(self.attempted, 1),
                "failed": self.failed,
                "metrics": {k: {"value": self.metrics.get(k, (0.0,))[0], "unit": u} for k, u in units.items()},
            }
        )

    def describe(self) -> str:
        rows = [f"# {self.workload}: {self.info}"]
        for k in sorted(self.metrics):
            v, u = self.metrics[k]
            rows.append(f"{k} {v:.6g} {u}")
        ratio = self.failed / max(self.attempted, 1)
        rows.append(f"failed_ratio {ratio:.6g} ratio ({self.failed}/{max(self.attempted, 1)})")
        rows += [f"FAILED: {f}" for f in self.failures]
        return "\n".join(rows)


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
