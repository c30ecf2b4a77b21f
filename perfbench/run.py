"""Benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, Spark ``local[N]`` with
N = ``SPARK_GRAFT_CPUS`` (default: ``nproc``), one client, closed loop.

A run: start the session; set up the workload's seeded inputs
``REPS`` times (session restart included) and report the median as
``setup_s``; run one untimed, checked warm pass; time the calibration
anchor; run whole timed passes for ``--seconds``; check the final
state; time the calibration anchor again.

Report lines (``# ...``) give every end-to-end metric that applies to
the workload, with its unit, and the host anchor. The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the metrics are ``BENCHMARK.json``'s ``end_to_end``
list, with ``--trace 1`` its ``per_layer`` list. A traced run orders
its passes untraced, traced, traced, untraced, so ``trace.overhead_s``
(median traced minus median untraced pass wall time) is free of a
linear warm-up trend.

Run details (and, when traced, every span) are written under
``perfbench/results/``; inputs are built under ``perfbench/_work/``
and removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = ("setup_s", "wall_s", "op_p50_s", "peak_rss_mb")
PER_LAYER = (
    "session.start_s",
    "driver.nonjob_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.scheduler_wait_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.deserialize_s",
    "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "spark.peak_exec_mem_bytes",
    "trace.overhead_s",
)
UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "driver.nonjob_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_wait_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.deserialize_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "trace.overhead_s": "s",
}

DRIVER_MEM = "2g"
#: set-ups per run; ``setup_s`` is their median
REPS = 3

#: input sizes per workload; ``tiny`` is the test size
SIZES = {
    "full": {
        "lifecycle": {"rows": 10_000},
        "analytics_fixed": {"sf": 0.1},
        "keyed_upsert": {"base_rows": 250_000, "sizes": (12, 3_000)},
    },
    "tiny": {
        "lifecycle": {"rows": 100},
        "analytics_fixed": {"sf": 0.001},
        "keyed_upsert": {"base_rows": 1_000, "sizes": (5, 50)},
    },
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every temporary location inside the checkout and make the
    package importable by Python workers (they do not inherit sys.path)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from airflow_subscription_etl_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            # a fixed, pre-touched heap: its resident size no longer
            # depends on GC sizing heuristics, so peak_rss_mb moves with
            # the Python side and the JVM's off-heap use
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM (and with it the
    Python worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_anchor(spark) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
    }


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "airflow_subscription_etl_spark", "__init__.py")):
        print(
            "perfbench: the airflow_subscription_etl_spark package is not next to "
            "perfbench/; run from a repository checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from perfbench.harness import (
        Recorder,
        latency_summary,
        median,
        per_op_engine,
        peak_rss_mb,
        run_window,
    )
    from perfbench.trace import Tracer, by_name
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed, **SIZES[args.size][args.workload])

    from bench import calibration_sec

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        cold_start = time.perf_counter() - t0

        setup_times, session_times, sizes = [], [], {}
        for k in range(REPS):
            t0 = time.perf_counter()
            spark.stop()
            spark = start_spark(work)
            session_times.append(time.perf_counter() - t0)
            rep_dir = os.path.join(work, f"rep{k}")
            sizes = wl.setup(spark, rep_dir)
            setup_times.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(work, f"rep{k - 1}"), ignore_errors=True)

        tracer = Tracer() if args.trace else None
        undo = wl.install_trace(tracer) if tracer else []
        rec = Recorder(spark, tracer)
        wl.warm(spark, rec, 0)
        cal_start = calibration_sec(spark)
        passes = run_window(
            rec, lambda r, i: wl.run_pass(spark, r, i), args.seconds, bool(args.trace)
        )
        wl.final_check(spark, rec)
        for u in undo:
            u()
        cal_end = calibration_sec(spark)

        untraced = [w for t, w in passes if not t]
        e2e = {
            "setup_s": median(setup_times),
            "wall_s": median(untraced),
            "op_p50_s": median(r.latency for r in rec.timed()),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        named = {name: (v, UNITS[name]) for name, v in e2e.items()}
        named.update(wl.named(spark, rec))
        named["failed_ratio"] = (rec.failed / rec.attempted, "ratio")
        latencies = {
            k: sorted(r.latency for r in rec.timed(k))
            for k in sorted({r.kind for r in rec.timed()})
        }
        anchor = host_anchor(spark)
        anchor["calibration_sec"] = {"start": cal_start, "end": cal_end}
        detail = {
            "workload": wl.name,
            "modules": wl.modules,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "inputs": sizes,
            "host": anchor,
            "cold_start_s": cold_start,
            "setup_reps_s": setup_times,
            "passes": [{"traced": t, "wall_s": w} for t, w in passes],
            "ops": {
                "n_timed": len(rec.timed()),
                "latency_by_kind": latencies,
                "summary_by_kind": {k: latency_summary(v) for k, v in latencies.items()},
                "errors": [
                    {
                        "kind": r.kind,
                        "phase": r.phase,
                        "error": r.error,
                        "traceback": r.extra.get("traceback"),
                    }
                    for r in rec.records
                    if not r.ok
                ],
            },
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        }

        print(
            f"# workload {wl.name} seed {args.seed} trace {args.trace} size {args.size} "
            f"modules {','.join(wl.modules)}"
        )
        print(f"# inputs {json.dumps(sizes)}")
        print(
            f"# host nproc={anchor['nproc']} SPARK_GRAFT_CPUS={anchor['SPARK_GRAFT_CPUS']} "
            f"spark={anchor['spark_version']} calibration_sec start={cal_start} end={cal_end}"
        )
        print(
            f"# ops attempted={rec.attempted} failed={rec.failed} "
            f"timed={len(rec.timed())} passes={len(passes)}"
        )
        for k, (v, u) in named.items():
            print(f"# e2e {k} {_fmt(v)} {u}")
        for k, summ in detail["ops"]["summary_by_kind"].items():
            extra = "".join(f" {q}={_fmt(summ[q])}" for q in ("p90", "p99") if q in summ)
            print(f"# samples {k} n={summ['n']} p50={_fmt(summ['p50'])}{extra}")
        for e in detail["ops"]["errors"]:
            print(f"# error {e['kind']} ({e['phase']}): {e['error']}")

        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
        if args.trace:
            traced = rec.timed(traced=True)
            layer = per_op_engine(traced)
            layer["session.start_s"] = median(session_times)
            layer["trace.overhead_s"] = median(w for t, w in passes if t) - median(untraced)
            layers = {k: (v, UNITS[k]) for k, v in layer.items()}
            layers.update(wl.layers(spark, rec, tracer))
            detail["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            detail["spans_by_name"] = by_name(tracer.spans)
            for k, (v, u) in layers.items():
                print(f"# layer {k} {_fmt(v)} {u}")
            metrics = {k: {"value": layer[k], "unit": UNITS[k]} for k in PER_LAYER}

        out_dir = os.path.join(HERE, "results")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        if tracer:
            tracer.dump(stem + "-spans.json")

        print(
            json.dumps(
                {
                    "correct": rec.failed == 0,
                    "attempted": rec.attempted,
                    "failed": rec.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
