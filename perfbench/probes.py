"""Counters the benchmark reads from outside the package.

- ``ExecCounters``: Spark job and stage counts per call, by id range.  The
  DAG scheduler hands out job and stage ids in order, so the ids a call
  used are exactly those between the marks taken before and after it,
  including jobs that micro-batches start on the stream thread.  Stage
  figures are then read per id from the app status store; a stage already
  evicted from it raises instead of being skipped.
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps each trigger's
  ``durationMs`` and input row count.
- ``SnapshotVerbTimer``: times ``SnapshotTable`` verbs, which the stream
  calls invoke internally, while a traced call runs.
- ``peak_rss_mb``: peak resident memory of this process plus the JVM.
- ``SessionCpu``: CPU seconds used by this process's session.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class ExecCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        # AppStatusStore.stageData takes all five arguments through py4j
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.self_s = 0.0  # time spent taking marks

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) of the DAG scheduler."""
        t0 = time.perf_counter()
        ids = int(self._dag.nextJobId()), int(self._dag.nextStageId())
        self.self_s += time.perf_counter() - t0
        return ids

    def stages_between(self, ranges) -> dict:
        """Sum the executed stage attempts with ids in the half-open ranges."""
        tot = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes",
             "input_bytes"), 0,
        )
        run_ms = 0
        for lo, hi in ranges:
            for sid in range(lo, hi):
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += s.numTasks()
                    tot["failed_tasks"] += s.numFailedTasks()
                    tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    tot["spill_bytes"] += s.diskBytesSpilled()
                    tot["input_bytes"] += s.inputBytes()
                    run_ms += s.executorRunTime()
        tot["task_s"] = run_ms / 1000
        return tot


class ProgressLog(StreamingQueryListener):
    """Collects the progress of every micro-batch, in delivery order."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: list[dict] = []
        self._started = 0
        self._terminated = 0

    def onQueryStarted(self, event):
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event):
        p = event.progress
        row = dict(p.durationMs)
        row["numInputRows"] = p.numInputRows
        with self._lock:
            self._progress.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._terminated += 1

    def drain(self, timeout: float = 60.0) -> list[dict]:
        """Progress of the queries finished since the last drain.

        Waits until every started query has delivered its termination
        event, which the listener bus posts after the query's last
        progress event.
        """
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                if self._terminated >= self._started:
                    out, self._progress = self._progress, []
                    return [p for p in out if p["numInputRows"] > 0]
            if time.monotonic() > deadline:
                raise TimeoutError("streaming listener missed a termination event")
            time.sleep(0.01)


class SnapshotVerbTimer:
    """Times ``SnapshotTable`` verbs called while a traced call runs.

    The verbs are wrapped on the class only inside ``recording(True)`` and
    restored after it; nested verb calls are attributed to the outermost.
    """

    VERBS = ("commit_merge_on_read", "read")

    def __init__(self, counters: ExecCounters):
        self._counters = counters
        self._local = threading.local()
        self.samples: dict[str, list[tuple[float, int]]] = {v: [] for v in self.VERBS}
        self.last_table = None

    def _wrap(self, name, orig):
        @functools.wraps(orig)
        def timed(table, *args, **kwargs):
            if getattr(self._local, "depth", 0):
                return orig(table, *args, **kwargs)
            self._local.depth = 1
            j0 = self._counters.mark()[0]
            t0 = time.perf_counter()
            try:
                return orig(table, *args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1000
                self.samples[name].append((ms, self._counters.mark()[0] - j0))
                self.last_table = table
                self._local.depth = 0

        return timed

    @contextmanager
    def recording(self, on: bool):
        if not on:
            yield
            return
        from bigdata_homed_spark.sources.snapshots import SnapshotTable

        saved = {v: SnapshotTable.__dict__[v] for v in self.VERBS}
        for v, orig in saved.items():
            setattr(SnapshotTable, v, self._wrap(v, orig))
        try:
            yield
        finally:
            for v, orig in saved.items():
                setattr(SnapshotTable, v, orig)

    def metrics(self) -> dict:
        def med(name, i):
            vals = [s[i] for s in self.samples[name]]
            return statistics.median(vals) if vals else 0.0

        t = self.last_table
        return {
            "snapshots.commits": (len(self.samples["commit_merge_on_read"]), "count"),
            "snapshots.commit_merge_on_read_ms": (med("commit_merge_on_read", 0), "ms"),
            "snapshots.commit_jobs": (med("commit_merge_on_read", 1), "count"),
            "snapshots.read_ms": (med("read", 0), "ms"),
            "snapshots.read_jobs": (med("read", 1), "count"),
            "snapshots.files_live": (len(t.files()) if t else 0, "count"),
            "snapshots.dv_fraction": (t.dv_fraction() if t else 0.0, "ratio"),
        }


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the JVM it launched."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024


class SessionCpu:
    """CPU seconds used so far by this process's session, less JIT compiling.

    ``run.py`` starts the worker as a session leader, so the session holds
    the Python driver, the JVM and the JVM's Python workers, and nothing
    else.  The kernel does not charge a task for the time its virtual CPU
    spends descheduled by the host (steal), so on a shared host this figure
    holds still while other tenants' load stretches wall time.

    The JVM's JIT compiler threads are counted apart: how far compiling has
    got in a pass depends on the host's load as much as on the program.
    ``run.py`` keeps those threads alive for the whole run, so none of their
    time is lost with an exited thread.
    """

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self._sid = os.getsid(0)
        self._jvm = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(path: str) -> tuple[str, list[str]]:
        with open(path) as f:
            stat = f.read()
        # fields after the command name: state, ppid, pgrp, session, ...
        return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()

    def __call__(self) -> tuple[float, float]:
        """(CPU seconds less JIT compiling, JIT compiling seconds)."""
        ticks = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                _, fields = self._stat(f"/proc/{pid}/stat")
            except OSError:  # the process has just exited
                continue
            if int(fields[3]) == self._sid:
                # utime, stime, and the same for reaped children
                ticks += sum(int(x) for x in fields[11:15])
        jit = 0
        for tid in os.listdir(f"/proc/{self._jvm}/task"):
            try:
                comm, fields = self._stat(f"/proc/{self._jvm}/task/{tid}/stat")
            except OSError:  # the thread has just exited
                continue
            if comm in self.JIT_THREADS:
                jit += int(fields[11]) + int(fields[12])
        return (ticks - jit) / self._tick, jit / self._tick
