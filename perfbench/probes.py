"""Readers for what Spark and the OS already record: job-id watermarks,
stage figures, SQL-operator metrics, JVM GC time and process memory.

Everything here reads the live status stores (``sc.statusStore()`` for
jobs and stages, ``sharedState().statusStore()`` for SQL executions), which
Spark keeps with the UI disabled. Job groups are not used to attribute
work: the sandbox executor resets the group after each run and pool
threads inside operators drop it, so work is attributed by the job ids
issued between two watermarks instead.
"""

from __future__ import annotations

import os


def _rss_peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of the live process tree rooted at
    ``pid``, plus what its reaped children used."""
    tick = os.sysconf("SC_CLK_TCK")
    root = pid or os.getpid()
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12])  # utime, stime
        total += int(f[13]) + int(f[14])  # reaped children
    return total / tick


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    process tree rooted at ``pid``: this Python process and the JVM it
    launched. An upper bound of the tree's simultaneous peak."""
    return sum(_rss_peak_kb(p) for p in process_tree(pid or os.getpid())) / 1024


def _metric_number(text) -> float:
    """A SQL metric's display value as a number: plain sums print as
    ``12,345``; timing/size metrics print a ``total (min, med, max)`` block
    whose first figure is the total."""
    if text is None:
        return 0.0
    s = str(text)
    if "\n" in s:
        s = s.split("\n", 1)[1]
    tok = s.strip().split(" ")[0].replace(",", "")
    try:
        return float(tok)
    except ValueError:
        return 0.0


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- watermarks ----------------------------------------------------

    def job_mark(self) -> int:
        """Id the next submitted job will get."""
        return int(self._jsc.dagScheduler().nextJobId())

    def exec_mark(self) -> int:
        """Id the next SQL execution will get (ids are sequential)."""
        execs = self._sql.executionsList()
        n = execs.size()
        return int(execs.apply(n - 1).executionId()) + 1 if n else 0

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    # -- stages --------------------------------------------------------

    def stages(self, job0: int, job1: int) -> list[dict]:
        """Stage figures of the jobs with ids in ``[job0, job1)``; a stage
        shared by several jobs is counted once, skipped stages not at all."""
        store = self._jsc.statusStore()
        seen: dict[int, dict] = {}
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        for jid in range(job0, job1):
            try:
                job = store.job(jid)
            except Exception:  # evicted or never registered
                continue
            for sid in self._conv.asJava(job.stageIds()):
                sid = int(sid)
                if sid in seen:
                    continue
                try:
                    attempts = self._conv.asJava(
                        store.stageData(sid, False, None, False, empty))
                except Exception:
                    continue
                for a in attempts:
                    if a.status().toString() != "COMPLETE":
                        continue
                    sub, done = a.submissionTime(), a.completionTime()
                    seen[sid] = {
                        "run_s": a.executorRunTime() / 1000.0,
                        "shuffle_bytes": a.shuffleWriteBytes(),
                        "spill_bytes": a.memoryBytesSpilled()
                        + a.diskBytesSpilled(),
                        "t0": sub.get().getTime() / 1000.0
                        if sub.isDefined() else None,
                        "t1": done.get().getTime() / 1000.0
                        if done.isDefined() else None,
                    }
        return list(seen.values())

    # -- SQL operators -------------------------------------------------

    def executions(self, exec0: int, exec1: int | None = None) -> list[int]:
        """Ids of the retained SQL executions in ``[exec0, exec1)``."""
        execs = self._sql.executionsList()
        ids = [int(execs.apply(i).executionId()) for i in range(execs.size())]
        return [e for e in ids if e >= exec0 and (exec1 is None or e < exec1)]

    def node_metrics(self, exec_id: int) -> list[tuple[str, dict]]:
        """(operator name, {metric name: number}) for each plan node."""
        values = dict(self._conv.asJava(self._sql.executionMetrics(exec_id))
                      .items())
        out = []
        for node in self._conv.asJava(self._sql.planGraph(exec_id).allNodes()):
            ms = {
                m.name(): _metric_number(values.get(m.accumulatorId()))
                for m in self._conv.asJava(node.metrics())
            }
            out.append((node.name(), ms))
        return out

    def largest_join_rows(self, exec0: int, exec1: int) -> float:
        """Output rows of the largest join among the SQL executions with
        ids in ``[exec0, exec1)``."""
        best = 0.0
        for eid in self.executions(exec0, exec1):
            for name, ms in self.node_metrics(eid):
                if "Join" in name:
                    best = max(best, ms.get("number of output rows", 0.0))
        return best

    def files_read(self, exec0: int, exec1: int) -> float:
        """Files the parquet scans of executions ``[exec0, exec1)`` opened."""
        return sum(
            ms.get("number of files read", 0.0)
            for eid in self.executions(exec0, exec1)
            for name, ms in self.node_metrics(eid)
            if name.startswith("Scan")
        )


def busy_and_gap(stages: list[dict], t0: float, t1: float) -> tuple[float, float]:
    """(summed executor run time of the stages, part of the wall interval
    ``[t0, t1]`` that no running stage covers)."""
    busy = sum(s["run_s"] for s in stages)
    spans = sorted(
        (max(s["t0"], t0), min(s["t1"], t1)) for s in stages
        if s["t0"] is not None and s["t1"] is not None
    )
    covered, end = 0.0, t0
    for a, b in spans:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return busy, max(0.0, (t1 - t0) - covered)
