"""Spark for the benchmark: one local session whose executors import the
checkout under test, and a tracer that reads each op's jobs from Spark's
status store.

``session.get_spark`` ships ``/tmp/elasticsearch_spark_pkg.zip`` and only
rebuilds it when sources are newer, so runs of two commits can import each
other's code. The benchmark zips the checkout's package into its own work
dir, hands that zip to ``get_spark`` in place of the shared one, and checks
that every executor slot imports the package from it.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time
import zipfile

from .oplog import log

PACKAGE = "elasticsearch_spark"


def package_zip(root: str, work: str) -> str:
    """Zip ``root/elasticsearch_spark``'s sources into ``work``; the file
    name carries a digest of their contents."""
    pkg = os.path.join(root, PACKAGE)
    files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, f"{PACKAGE}-{h.hexdigest()[:16]}.zip")
    with zipfile.ZipFile(out, "w") as z:
        for p in files:
            z.write(p, os.path.relpath(p, root))
    return out


def _imported_from(_):
    import elasticsearch_spark

    yield elasticsearch_spark.__file__


def start(root: str, work: str, cores: int):
    """A ``local[cores]`` session built by the package's ``get_spark``, with
    every scratch file the JVM, Spark and Python write kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata under /tmp from the launcher or the Spark JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    zpath = package_zip(root, work)
    # Python workers start in the JVM's working directory and put it first
    # on their path: start from ``work`` so they cannot import the sources
    # beside the zip
    os.chdir(work)

    from pyspark import cloudpickle

    from elasticsearch_spark import session

    import benchmark

    cloudpickle.register_pickle_by_value(benchmark)  # executors cannot import it
    session._package_zip = lambda: zpath
    spark = session.get_spark(
        app_name="benchmark",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    paths = spark.sparkContext.parallelize(range(cores), cores).mapPartitions(_imported_from).collect()
    want = f"{os.path.basename(zpath)}/{PACKAGE}/__init__.py"
    stray = [p for p in paths if not p.endswith(want)]
    if stray:
        raise RuntimeError(f"executors import {PACKAGE} from {stray}, not from {zpath}")
    log(f"executors import {PACKAGE} from {os.path.basename(zpath)}")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes
    and takes its Python worker daemons with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Tracer:
    """Tags each op with a Spark job group and, once the listener bus has
    drained, reads the group's jobs, tasks, executor run time and shuffle
    bytes from the status store."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self._n = 0
        self.ops: list[dict] = []

    def run(self, kind: str, fn):
        self._n += 1
        group = f"{kind}-{self._n}"
        self.sc.setJobGroup(group, kind)
        try:
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append({"kind": kind, "wall": wall, **self.jobs(group)})
        return out, wall

    def jobs(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(job_ids), "tasks": 0, "failed_tasks": 0, "exec_s": 0.0,
               "critical_s": 0.0, "shuffle_bytes": 0}
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                tasks = store.taskList(sid, st.attemptId(), 1 << 30)
                runs = []
                for i in range(tasks.size()):
                    m = tasks.apply(i).taskMetrics()
                    if m.isDefined():
                        runs.append(m.get().executorRunTime() / 1000.0)
                out["exec_s"] += sum(runs)
                # a stage takes at least its longest task, and at least its
                # total task time spread over every core
                out["critical_s"] += max(max(runs, default=0.0), sum(runs) / self.cores)
        return out
