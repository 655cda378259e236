"""Process, session and span plumbing shared by the workloads.

Everything the benchmark writes lives under one work directory inside the
checkout: call outputs, ``spark.local.dir``, the JVM and Python temp dirs
and the traced run's event log. The directory is removed when the run ends.
"""

from __future__ import annotations

import os
import signal
import time
import uuid

from perfbench import procstat

__all__ = ["prepare_env", "start_session", "shutdown_jvm", "materialize",
           "Tracer"]

# Driver heap cap: at 2 GiB the heap grew by different amounts from run to
# run and jvm_peak_rss_mb spread by about 19%. Below the cap the heap still
# grows from the JVM default: pinning it (-Xms = -Xmx) doubled warm job
# times on a 4-core VM. See perfbench/DESIGN.md.
DRIVER_HEAP = "1g"


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and every Python worker inherit. Must run before
    the first session starts (the JVM is launched with this environment)."""
    for sub in ("tmp", "local", "eventlog", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # workers import trafaret_spark whatever their working directory is
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    # one BLAS thread per Python worker: local[N] already runs N workers
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def start_session(work: str, cores: int, traced: bool):
    """A ``local[cores]`` session with the engine's own configuration plus
    the benchmark's steadiness controls; ``traced`` turns on the plain-JSON
    event log."""
    from trafaret_spark.session import ENGINE_CONF, get_spark
    # compiler threads stay alive, so procstat.work_cpu_s can leave their
    # CPU out (a thread that exits takes its counters with it)
    java_opts = (ENGINE_CONF["spark.driver.extraJavaOptions"]
                 + " -XX:-UseDynamicNumberOfCompilerThreads"
                 + " -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    extra = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if traced else "false",
    }
    if traced:
        extra.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, **extra)


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active SparkContext and the py4j gateway JVM (it exits when
    its stdin closes), then wait until every process this one started has
    ended."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in procstat.tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def materialize(df) -> int:
    """Run ``df`` to the noop sink and return its row count, counted by an
    observation in the same action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation("rows_" + uuid.uuid4().hex[:8])
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
       .write.format("noop").mode("overwrite").save())
    return int(obs.get["n"])


class Tracer:
    """Times calls into a layer from outside it. Each span runs under its
    own job group, so the Spark jobs it launches can be counted from the
    status tracker and attributed in the event log."""

    def __init__(self, spark, work: str):
        self.sc = spark.sparkContext
        self.work = work
        self.spans: "dict[str, dict]" = {}
        self._n = 0

    def out_path(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, "out", f"span{self._n}_{tag}")

    def span(self, name: str, fn) -> int:
        """Run ``fn()`` (which returns the rows it produced) as span ``name``."""
        sc = self.sc
        sc.setJobGroup(name, name)
        me = os.getpid()
        cpu0 = procstat.work_cpu_s(me)
        t0 = time.perf_counter()
        try:
            rows = fn()
        finally:
            dt = time.perf_counter() - t0
            cpu = procstat.work_cpu_s(me) - cpu0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        self.spans[name] = {"s": dt, "cpu_s": cpu, "jobs": len(jobs),
                            "tasks": tasks, "rows_out": int(rows)}
        return rows
