"""Spark lifecycle and Spark's own counters, read from outside the package.

* ``Engine`` owns one fresh JVM on ``local[<cores>]`` whose warehouse,
  metastore, local and temp directories all live in one work directory,
  and whose Python workers can import the package wherever the benchmark
  was launched from.  ``restart()`` replaces the SparkContext (the JVM is
  kept) so set-up can be repeated inside one run; ``close()`` stops the
  JVM and waits for it.
* ``JobLog`` reads the jobs and stages the AppStatusStore recorded since
  the last read.
* ``plan_python_seams`` walks an executed plan for Arrow/pandas seams.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, field

# Per-job / per-stage figures read from the AppStatusStore (times in s).
STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_deserialize_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

# Driver heap (local mode: the executors share it).  With 1 GB,
# curation-cached's per-run latency spread 0.36 over five seeds (garbage
# collection under the cached tables and PageRank's checkpoints); with
# 2 GB, 0.08.
DRIVER_MEM = "2g"

# Executed-plan SQL metrics of the Python/Arrow exec nodes.
PY_SENT = "pythonDataSent"
PY_RECEIVED = "pythonDataReceived"


def package_root() -> str:
    """The checkout root: the directory holding ``perfbench/``."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rss_peak_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Engine:
    def __init__(self, work_dir: str, cores: int):
        self.cores = cores
        root = package_root()
        for sub in ("local", "tmp", "warehouse", "derby"):
            os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
        # The JVM and the Python workers it forks inherit this environment.
        paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
        os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        java_opts = " ".join(
            (
                f"-Dderby.system.home={os.path.join(work_dir, 'derby')}",
                f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
                # a fixed-size heap, touched at launch: peak RSS then
                # counts the whole heap plus what lives outside it, not
                # how far the collector happened to spread into the heap
                # (without the pre-touch one run in ten peaked 20-28 %
                # lower)
                f"-Xms{DRIVER_MEM}",
                "-XX:+AlwaysPreTouch",
            )
        )
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.local.dir": os.path.join(work_dir, "local"),
            "spark.driver.extraJavaOptions": java_opts,
            # the traced run reads every job back; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None
        self.jvm_pid = None

    def start(self):
        """Create the session (launching the JVM on first use)."""
        from advanced_etl_pipelines_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def peak_rss_mb(self) -> float:
        """Driver JVM peak RSS plus this process's peak RSS."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        if self.jvm_pid is not None:
            kb += _rss_peak_kb(self.jvm_pid)
        return kb / 1024

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stages: dict = field(default_factory=dict)  # stage id -> STAGE_FIELDS dict


class JobLog:
    """Jobs recorded by the AppStatusStore since the last ``read()``.

    Job ids are dense, so new jobs are read by id until one is missing;
    a short run of missing ids is tolerated for ids the scheduler
    assigned but never posted."""

    GAP = 4

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._next = 0
        self.read()

    def _job(self, jid):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def read(self) -> list[Job]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = []
        jid, misses = self._next, 0
        while misses <= self.GAP:
            j = self._job(jid)
            jid += 1
            if j is None:
                misses += 1
                continue
            misses = 0
            self._next = jid
            sub = j.submissionTime()
            job = Job(j.jobId(), sub.get().getTime() / 1000 if sub.isDefined() else 0.0)
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                st = self._stage(sid)
                if st is not None:
                    job.stages[sid] = st
            out.append(job)
        return out

    def _stage(self, sid):
        jvm = self._sc._jvm
        atts = self._store.stageData(
            sid, False, jvm.java.util.ArrayList(), False,
            self._sc._gateway.new_array(jvm.double, 0),
        )
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        ran = False
        for k in range(atts.size()):
            s = atts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            ran = True
            tot["tasks"] += s.numCompleteTasks()
            tot["executor_run_s"] += s.executorRunTime() / 1000
            tot["executor_deserialize_s"] += s.executorDeserializeTime() / 1000
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot if ran else None


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning durations of ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def _metric(node, key):
    opt = node.metrics().get(key)
    return opt.get().value() if opt.isDefined() else None


def plan_python_seams(df) -> tuple[int, int, int]:
    """(seams, bytes sent to Python, bytes received from Python) over the
    executed plan: every node carrying the Python data metrics is one
    Arrow/pandas seam.  Adaptive plans are read at their final plan and
    query stages through their inner plan; reused exchanges and cached
    relations are not entered (their work is counted where it ran)."""
    seams = sent = received = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name.startswith("ReusedExchange") or name == "InMemoryTableScan":
            continue
        s = _metric(node, PY_SENT)
        if s is not None:
            seams += 1
            sent += s
            received += _metric(node, PY_RECEIVED) or 0
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return seams, sent, received


def storage_bytes(spark) -> int:
    """Bytes held by persisted RDDs and cached relations (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)
