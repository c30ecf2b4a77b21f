"""Shared machinery: the per-operation recorder, the timed window and
the metric arithmetic every workload uses."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from .sparkstats import SparkStats, job_intervals, summarize
from .trace import Tracer, covered


@dataclass
class OpRecord:
    kind: str
    phase: str  # "warm" | "timed" | "check"
    latency: float
    ok: bool
    traced: bool
    op_id: str
    error: str | None = None
    jobs: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Recorder:
    """Runs one operation at a time (one client, closed loop), times it,
    checks its output and, when tracing, opens the operation's span and
    attributes its Spark jobs to it."""

    def __init__(self, spark=None, tracer: Tracer | None = None):
        self.tracer = tracer
        self.stats = SparkStats(spark) if (spark is not None and tracer) else None
        self.records: list[OpRecord] = []
        self.phase = "warm"
        self.tracing = False
        self._n = 0

    def op(self, kind: str, fn, check=None):
        """Run ``fn()``; ``check(result)`` decides correctness and is not
        timed. Returns ``(result, record)``; an error counts as failed."""
        op_id = f"op{self._n}"
        self._n += 1
        traced = self.tracing and self.tracer is not None
        if self.tracer is not None:
            self.tracer.enabled = traced
        if traced:
            self.tracer.op = op_id
            self.stats.begin(op_id)
        out, err, tb = None, None, None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{kind}"):
                    out = fn()
            else:
                out = fn()
            ok = True
        except Exception as e:  # noqa: BLE001 — a failing operation is data
            ok, err = False, f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
            tb = traceback.format_exc()
        latency = time.perf_counter() - t0
        rec = OpRecord(kind, self.phase, latency, ok, traced, op_id, err)
        if tb:
            rec.extra["traceback"] = tb
        if traced:
            self.stats.end()
            self.tracer.op = None
            rec.jobs = self.stats.jobs(op_id)
        if ok and check is not None:
            try:
                ok = bool(check(out))
                if not ok:
                    rec.error = "wrong result"
            except Exception as e:  # noqa: BLE001
                ok, rec.error = False, f"check {type(e).__name__}: {e}"
        rec.ok = ok
        self.records.append(rec)
        return out, rec

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)

    def timed(self, kind: str | None = None, traced: bool = False) -> list[OpRecord]:
        return [
            r
            for r in self.records
            if r.phase == "timed"
            and r.traced == traced
            and (kind is None or r.kind == kind)
        ]


#: traced runs order passes untraced, traced, traced, untraced: the
#: timed window still sits on the JVM's warm-up slope, and this order
#: cancels a linear trend out of traced minus untraced
_TRACE_ORDER = (False, True, True, False)


def run_window(rec: Recorder, run_pass, seconds: float, trace: bool) -> list[tuple[bool, float]]:
    """Run whole passes for ``seconds``: at least one, and no further
    pass once the median pass so far would end past the deadline. A
    traced run runs whole groups of :data:`_TRACE_ORDER` (at least one).
    Returns ``[(traced, wall_s), ...]``."""
    rec.phase = "timed"
    group = len(_TRACE_ORDER) if trace else 1
    passes = []
    deadline = time.monotonic() + seconds
    i = 0
    while True:
        rec.tracing = trace and _TRACE_ORDER[i % group]
        t0 = time.perf_counter()
        run_pass(rec, i)
        passes.append((rec.tracing, time.perf_counter() - t0))
        i += 1
        if i % group:
            continue
        if time.monotonic() + group * median(w for _, w in passes) > deadline:
            break
    rec.tracing = False
    rec.phase = "check"
    return passes


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def latency_summary(lat: list[float]) -> dict:
    """Median, plus the highest of p90/p99 that has at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(lat), "p50": median(lat)}
    for q in (99, 90):
        if len(lat) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(lat, n=100)[q - 1]
            break
    return out


def per_op_engine(records: list[OpRecord]) -> dict[str, float]:
    """Mean per operation of every engine counter, plus driver time
    outside Spark jobs (``driver.nonjob_s``)."""
    if not records:
        return {}
    tot: dict[str, float] = {}
    nonjob = 0.0
    peak = 0
    for r in records:
        s = summarize(r.jobs)
        peak = max(peak, s.pop("spark.peak_exec_mem_bytes"))
        for k, v in s.items():
            tot[k] = tot.get(k, 0.0) + v
        in_jobs = covered(job_intervals(r.jobs), float("-inf"), float("inf"))
        nonjob += max(0.0, r.latency - in_jobs)
    n = len(records)
    out = {k: v / n for k, v in tot.items()}
    out["spark.peak_exec_mem_bytes"] = peak
    out["driver.nonjob_s"] = nonjob / n
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
