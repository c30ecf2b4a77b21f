"""Spark engine counters read from the live ``AppStatusStore``.

The status store is reachable through ``SparkContext.statusStore()``
even with ``spark.ui.enabled=false``. Stage metrics are read with the
five-argument ``stageData`` form (the Scala default arguments are not
visible through py4j). ``Dataset.observe()`` is deliberately not used:
its metrics read empty when the observed action crosses a
``localCheckpoint``.

Jobs are attributed to an operation by ``setJobGroup(op id)``; after
the operation the listener bus is drained so the store holds every
job and stage it ran.
"""

from __future__ import annotations

#: per-stage counters summed over an operation's stages
STAGE_SUMS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.deserialize_s": ("executorDeserializeTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, op_id: str) -> list[dict]:
        """Every job of group ``op_id`` with its stages' counters."""
        self._bus.waitUntilEmpty()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(op_id)):
            j = self._store.job(jid)
            sids = j.stageIds()
            stages = [self._stage(sids.apply(i)) for i in range(sids.size())]
            out.append(
                {
                    "id": jid,
                    "submit_ms": _opt_ms(j.submissionTime()),
                    "complete_ms": _opt_ms(j.completionTime()),
                    "stages": [s for s in stages if s is not None],
                }
            )
        return out

    def _stage(self, sid: int) -> dict | None:
        attempts = self._store.stageData(
            sid, False, self._no_status, False, self._no_quantiles
        )
        run = [attempts.apply(k) for k in range(attempts.size())]
        run = [s for s in run if s.status().toString() != "SKIPPED"]
        if not run:
            return None
        out = {k: 0.0 for k in STAGE_SUMS}
        out.update(tasks=0, scheduler_wait_ms=0, peak_exec_mem=0)
        for s in run:
            for key, (attr, scale) in STAGE_SUMS.items():
                out[key] += getattr(s, attr)() * scale
            out["tasks"] += s.numCompleteTasks()
            sub, first = _opt_ms(s.submissionTime()), _opt_ms(s.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                out["scheduler_wait_ms"] += first - sub
            out["peak_exec_mem"] = max(out["peak_exec_mem"], s.peakExecutionMemory())
        return out


def summarize(jobs: list[dict]) -> dict[str, float]:
    """Engine totals over a list of jobs (from :meth:`SparkStats.jobs`)."""
    tot = {k: 0.0 for k in STAGE_SUMS}
    tot.update(
        {
            "spark.jobs": len(jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.scheduler_wait_s": 0.0,
            "spark.peak_exec_mem_bytes": 0,
        }
    )
    for j in jobs:
        for s in j["stages"]:
            tot["spark.stages"] += 1
            tot["spark.tasks"] += s["tasks"]
            tot["spark.scheduler_wait_s"] += s["scheduler_wait_ms"] / 1e3
            tot["spark.peak_exec_mem_bytes"] = max(
                tot["spark.peak_exec_mem_bytes"], s["peak_exec_mem"]
            )
            for k in STAGE_SUMS:
                tot[k] += s[k]
    return tot


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    """(start, end) of each finished job, in seconds since the epoch."""
    return [
        (j["submit_ms"] / 1e3, j["complete_ms"] / 1e3)
        for j in jobs
        if j["submit_ms"] is not None and j["complete_ms"] is not None
    ]
