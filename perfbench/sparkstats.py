"""Spark's own counters, read through the driver JVM: the job counter,
the stage list and the SQL status store. Works with the UI disabled."""

from __future__ import annotations

import re


class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism

    def jobs_started(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return int(ex.apply(n - 1).executionId()) if n else -1

    def last_stage_id(self) -> int:
        stages = self._stages()
        return max((int(stages.apply(i).stageId())
                    for i in range(stages.size())), default=-1)

    def cached_bytes(self) -> int:
        return sum(int(r.memSize()) + int(r.diskSize())
                   for r in self._jsc.getRDDStorageInfo())

    def _stages(self):
        gw = self._gw
        return self._jsc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList())

    def stage_totals(self, after_stage: int, upto_stage: int) -> dict:
        """Summed task metrics of the stages in the id range."""
        t = {"task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
             "peak_mem_bytes": 0, "fetch_wait_s": 0.0, "scan_bytes": 0}
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if not after_stage < int(s.stageId()) <= upto_stage:
                continue
            t["task_s"] += s.executorRunTime() / 1000.0
            t["shuffle_bytes"] += int(s.shuffleWriteBytes())
            t["spill_bytes"] += int(s.memoryBytesSpilled()) + \
                int(s.diskBytesSpilled())
            t["peak_mem_bytes"] = max(t["peak_mem_bytes"],
                                      int(s.peakExecutionMemory()))
            t["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000.0
            t["scan_bytes"] += int(s.inputBytes())
        return t

    def executions(self, after_id: int, upto_id: int):
        """(id, duration_s) of finished SQL executions in the id range."""
        ex = self._sql.executionsList()
        out = []
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = int(e.executionId())
            if not after_id < eid <= upto_id:
                continue
            done = e.completionTime()
            if done.isDefined():
                out.append((eid, (done.get().getTime()
                                  - e.submissionTime()) / 1000.0))
        return out

    def _node_rows(self, eid: int) -> list[tuple[str, int]]:
        """(operator name, output rows) for each operator, top down."""
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        nodes = graph.allNodes()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() != "number of output rows":
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out.append((node.name(), parse_count(v.get())))
        return out

    def candidate_rows(self, after_id: int, upto_id: int) -> tuple[int, int]:
        """(join output rows over every execution in the range, rows
        reaching the last execution's sink)."""
        joined, out = 0, 0
        ids = [eid for eid, _ in self.executions(after_id, upto_id)]
        for eid in ids:
            rows = self._node_rows(eid)
            joined += sum(n for name, n in rows
                          if "Join" in name or "Cartesian" in name)
            if eid == ids[-1] and rows:
                out = rows[0][1]
        return joined, out


_COUNT = re.compile(r"^[\d,]+$")


def parse_count(text: str) -> int:
    """A SQL row-count metric as shown by the status store (``1,234``)."""
    text = text.strip()
    return int(text.replace(",", "")) if _COUNT.match(text) else 0
