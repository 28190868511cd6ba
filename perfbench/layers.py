"""Read-only probes on the layers under the catalog, called from outside it.

Everything here reads state Spark already keeps (the status stores, query
execution trackers, streaming progress) or wraps a public function of the
program; nothing edits the program. The probes are used only by the traced
run, except :func:`tree_cpu_s` and :func:`tree_peak_rss_mb`.
"""

from __future__ import annotations

import os
import re
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


def _epoch_s(opt) -> float | None:
    """``scala.Option[java.util.Date]`` -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def jobs_and_stages(spark: SparkSession, min_job: int, min_stage: int):
    """Jobs with id >= ``min_job`` and completed stage attempts with id >=
    ``min_stage``, as plain dicts (times in epoch seconds)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    jobs = []
    for j in _seq(store.jobsList(None)):
        if j.jobId() < min_job:
            continue
        jobs.append(
            {
                "id": int(j.jobId()),
                "start": _epoch_s(j.submissionTime()),
                "end": _epoch_s(j.completionTime()),
                "stages": [int(x) for x in _seq(j.stageIds())],
            }
        )
    empty = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = []
    for s in _seq(store.stageList(empty, False, False, quantiles, empty)):
        if s.stageId() < min_stage or str(s.status().toString()) != "COMPLETE":
            continue
        stages.append(
            {
                "id": int(s.stageId()),
                "attempt": int(s.attemptId()),
                "start": _epoch_s(s.submissionTime()),
                "end": _epoch_s(s.completionTime()),
                "tasks": int(s.numCompleteTasks()),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "deser_s": s.executorDeserializeTime() / 1e3,
                "result_ser_s": s.resultSerializationTime() / 1e3,
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "spill": s.diskBytesSpilled(),
                "input": s.inputBytes(),
                "input_rows": s.inputRecords(),
            }
        )
    return jobs, stages


def stage_skew(spark: SparkSession, stage: dict) -> float | None:
    """Longest task over median task run time for one stage attempt."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(stage["id"], stage["attempt"], q)
    if not summary.isDefined():
        return None
    run = _seq(summary.get().executorRunTime())
    return run[1] / run[0] if run and run[0] > 0 else None


_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0}


def _metric_total(text: str) -> float:
    """First number of a SQL metric value string, in bytes for sizes.

    Aggregated values read ``"total (min, med, max ...)\\n12.3 MiB (...)"``;
    plain sums read ``"1,234"``."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMG]?i?B)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "", 1.0)


def python_sql_metrics(spark: SparkSession, min_exec: int):
    """Python-worker SQL metrics of executions with id >= ``min_exec``.

    Returns ``(totals, stage_ids, max_exec_id)``: bytes sent to and received
    from Python workers and rows the Python nodes returned, summed over every
    plan node that talks to Python workers, and the stages of the executions
    holding such nodes."""
    store = spark._jsparkSession.sharedState().statusStore()
    totals = {"sent": 0.0, "received": 0.0, "rows": 0.0}
    keys = {
        "data sent to Python workers": "sent",
        "data returned from Python workers": "received",
        "number of output rows": "rows",
    }
    stage_ids: set[int] = set()
    max_id = min_exec - 1
    for e in _seq(store.executionsList()):
        eid = int(e.executionId())
        if eid < min_exec:
            continue
        max_id = max(max_id, eid)
        if not any("Python workers" in m.name() for m in _seq(e.metrics())):
            continue
        stage_ids.update(int(x) for x in _seq(e.stages()))
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
            if "data sent to Python workers" not in metrics:
                continue
            for name, key in keys.items():
                opt = values.get(metrics[name]) if name in metrics else None
                if opt is not None and opt.isDefined():
                    totals[key] += _metric_total(str(opt.get()))
    return totals, stage_ids, max_id


def next_execution_id(spark: SparkSession) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    return int(store.executionsCount())


_EXCHANGE = re.compile(r"(?m)^[\s:+\-|]*(?:Broadcast|Shuffle)?Exchange\b")


def force_plan(df: DataFrame) -> dict:
    """Force physical planning of ``df`` and read its Catalyst phase times
    (``QueryExecution.tracker``) and Exchange count."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    out["exchanges"] = len(_EXCHANGE.findall(plan.toString()))
    return out


def cached_storage(spark: SparkSession) -> tuple[float, int]:
    """(MB, partitions) of RDD blocks currently cached, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb, blocks = 0.0, 0
    for info in infos:
        mb += (info.memSize() + info.diskSize()) / MB
        blocks += int(info.numCachedPartitions())
    return mb, blocks


class LifecycleProbe:
    """Counts and times the program's ``scoped_persist`` and
    ``scoped_local_checkpoint`` calls by wrapping the public functions.

    Must be installed before the catalog is imported, so modules that import
    the functions by name bind the wrappers."""

    def __init__(self, spark_ref):
        self.spark_ref = spark_ref
        self.persists = 0
        self.checkpoints = 0
        self.checkpoint_s = 0.0
        self.peak_mb = 0.0
        self._orig: dict = {}

    def install(self) -> None:
        """Replace the functions in their module and in every loaded program
        module that imported them by name. Call after importing the catalog;
        imports made later inside functions read the module attribute and
        so get the wrappers too."""
        import sys

        from prajna_spark.operators import lifecycle

        self._orig = {
            "scoped_persist": lifecycle.scoped_persist,
            "scoped_local_checkpoint": lifecycle.scoped_local_checkpoint,
        }
        wrappers = {
            "scoped_persist": self._persist,
            "scoped_local_checkpoint": self._checkpoint,
        }
        for name, mod in list(sys.modules.items()):
            if not name.startswith("prajna_spark"):
                continue
            for attr, orig in self._orig.items():
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrappers[attr])

    def _persist(self, *a, **kw):
        self.persists += 1
        return self._orig["scoped_persist"](*a, **kw)

    def _checkpoint(self, *a, **kw):
        self.checkpoints += 1
        t0 = time.time()
        out = self._orig["scoped_local_checkpoint"](*a, **kw)
        self.checkpoint_s += time.time() - t0
        self.sample()
        return out

    def sample(self) -> None:
        spark = self.spark_ref()
        if spark is not None:
            self.peak_mb = max(self.peak_mb, cached_storage(spark)[0])

    def take(self) -> dict:
        """Counters since the last call, then reset them."""
        out = {
            "persists": self.persists,
            "checkpoints": self.checkpoints,
            "checkpoint_s": self.checkpoint_s,
            "peak_cached_mb": self.peak_mb,
        }
        self.persists = self.checkpoints = 0
        self.checkpoint_s = self.peak_mb = 0.0
        return out


def _iso(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamProbe(StreamingQueryListener):
    """Collects streaming progress events (one per micro-batch)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        dur = dict(p.durationMs)
        rec = {
            "query": str(p.id),
            "batch": int(p.batchId),
            "start": _iso(p.timestamp),
            "rows": int(p.numInputRows),
            "trigger_s": dur.get("triggerExecution", 0) / 1e3,
            "add_batch_s": dur.get("addBatch", 0) / 1e3,
            "commit_s": (dur.get("walCommit", 0) + dur.get("commitOffsets", 0)) / 1e3,
            "planning_s": dur.get("queryPlanning", 0) / 1e3,
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_mb": sum(int(s.memoryUsedBytes) for s in p.stateOperators) / MB,
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def drain(self, timeout: float = 5.0) -> list[dict]:
        """Wait until every started query's termination was delivered (events
        arrive asynchronously), then return and clear the progress so far."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.05)
        with self.lock:
            out, self.progress = self.progress, []
        return out


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``. Each thread lists the children it forked,
    and the JVM starts the Python workers' daemon from a worker thread."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


# Thread names (truncated to 15 characters by the kernel) of the JVM's JIT
# compilers; ``run.prepare_env`` keeps these threads alive for the JVM's
# lifetime, so their CPU time can be read and left out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_jit_tids: dict[int, list[str]] = {}


def _jit_ticks(pid: int) -> int:
    """CPU ticks spent by the JIT compiler threads of process ``pid``. The
    threads are found once per process: the JVM starts them all at launch,
    so there is no need to scan its hundred-odd threads around every query."""
    if pid not in _jit_tids:
        found = []
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        found.append(tid)
            except OSError:
                continue
        _jit_tids[pid] = found
    total = 0
    for tid in _jit_tids[pid]:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            continue
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    counting what each has reaped from exited children (Python workers), less
    the JVM's background JIT compilation: the compiler threads keep working
    through the warm passes and their share of a pass swings by seconds with
    when each compile happens to finish."""
    total, todo = 0, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total -= _jit_ticks(pid)
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and its live
    descendants: the driver, the JVM and the Python workers."""
    total_kb, todo = 0, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
