"""Run isolation, the Spark session, and the counters the traced run reads.

Everything a run creates (inputs, tables, Spark local dirs, JVM temp
files, the SQL warehouse, ``derby.log``) lives under one fresh directory
inside ``.perfbench_tmp/`` at the checkout root, which is removed when
the run ends. The process also works from inside that directory, so any
relative path the engine writes lands there too.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import statistics
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TMP_ROOT = ROOT / ".perfbench_tmp"
CPUS = len(os.sched_getaffinity(0))

# Spark plan nodes that run Python workers carry these SQL metrics.
PY_METRICS = {
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}


class RunDir:
    """A fresh per-run directory; ``close()`` stops Spark and removes it."""

    def __init__(self) -> None:
        TMP_ROOT.mkdir(exist_ok=True)
        self.path = Path(tempfile.mkdtemp(prefix="run-", dir=TMP_ROOT))
        for sub in ("tmp", "jvm-tmp", "spark-local", "warehouse", "data"):
            (self.path / sub).mkdir()
        self._cwd = os.getcwd()
        os.environ["TMPDIR"] = str(self.path / "tmp")
        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.chdir(self.path)
        self.spark = None

    def data(self, name: str) -> str:
        return str(self.path / "data" / name)

    def session(self):
        """The engine's own session (``get_session()`` defaults), with only
        its temporary directories moved into the run directory."""
        from dst_spark_k8_lakehouse_spark import get_session

        java_opts = (
            f"-Djava.io.tmpdir={self.path / 'jvm-tmp'} "
            f"-Dderby.system.home={self.path}"
        )
        self.spark = get_session(extra_conf={
            "spark.sql.warehouse.dir": str(self.path / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        })
        return self.spark

    def close(self) -> None:
        try:
            if self.spark is not None:
                _stop_spark(self.spark)
        finally:
            os.chdir(self._cwd)
            shutil.rmtree(self.path, ignore_errors=True)
            try:
                TMP_ROOT.rmdir()
            except OSError:  # another run still uses it
                pass


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


_TICK = os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU seconds used so far by the engine's processes: this Python
    process, the Spark JVM and the JVM's descendants (Python workers),
    from ``/proc``. Unlike wall time, this does not grow when other
    tenants of the machine take the cores."""

    def __init__(self, spark) -> None:
        self.jvm = jvm_pid(spark)

    def __call__(self) -> float:
        stats: dict[int, tuple[int, int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process has ended
                continue
            # after the command: state ppid ... utime(12) stime cutime cstime
            ticks = sum(int(x) for x in fields[11:15])
            stats[int(name)] = (int(fields[1]), ticks)
        ours = {os.getpid(), self.jvm}
        grew = True
        while grew:
            kids = {p for p, (pp, _) in stats.items()
                    if pp in ours and p not in ours}
            grew = bool(kids)
            ours |= kids
        return sum(stats[p][1] for p in ours if p in stats) / _TICK


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Clock:
    """Named durations measured in this process; ``with clock("name"):``."""

    def __init__(self) -> None:
        self.totals: dict[str, float] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        yield
        self.totals[name] = (
            self.totals.get(name, 0.0) + time.perf_counter() - t0)


class SparkCounters:
    """Reads Spark's own bookkeeping around one operation: the jobs and
    stages it started (from the ``AppStatusStore``, found through the job
    group each phase of the operation runs under), Catalyst phase times of
    the DataFrame it executed, and the Python-worker SQL metrics of the
    executed plan."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def jobs(self, group: str) -> list[int]:
        self._jsc.listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Totals over the stages the given jobs ran (skipped ones apart)."""
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("spark.stages", "spark.tasks", "task_s", "spark.gc_s",
             "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.spill_bytes"), 0.0)
        stage_ids = set()
        for job in job_ids:
            ids = store.job(job).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["spark.gc_s"] += s.jvmGcTime() / 1000.0
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            )
        return out

    def catalyst_ms(self, df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
        return out

    def python_metrics(self, df) -> dict[str, float]:
        """Sum of the Python-worker SQL metrics over the executed plan,
        through adaptive query stages and subqueries."""
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        seen: set[int] = set()
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            ident = self._jvm.System.identityHashCode(node)
            if ident in seen:
                continue
            seen.add(ident)
            metrics = node.metrics()
            for key, name in PY_METRICS.items():
                if metrics.contains(key):
                    value = metrics.apply(key).value()
                    # "timing" metrics count milliseconds
                    out[name] += value / 1e3 if name.endswith("_s") else value
            kind = node.nodeName()
            if kind.startswith("AdaptiveSparkPlan"):
                todo.append(node.executedPlan())
            elif "QueryStage" in kind:
                todo.append(node.plan())
            kids = node.children().iterator()
            while kids.hasNext():
                todo.append(kids.next())
            subs = node.subqueries().iterator()
            while subs.hasNext():
                todo.append(subs.next())
        return out
