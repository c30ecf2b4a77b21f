"""End-to-end runs of the benchmark at the tiny size (sf0.001 star
tables, a 10^2-row lifecycle table, 10^3 rows of keyed state).

Each run starts its own Spark JVM in a subprocess, exactly as the
command in BENCHMARK.json does.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared(section):
    """``{name: unit}`` of a metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


COMMON = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB", "failed_ratio": "ratio"}
NAMED = {
    "lifecycle": {
        "create_p50_s": "s",
        "change_p50_s": "s",
        "cancel_p50_s": "s",
        "view_p50_s": "s",
        "write_bytes_per_user_byte": "ratio",
    },
    "analytics_fixed": {"query_p50_s": "s"},
    "keyed_upsert": {
        "upsert_snapshot_p50_s": "s",
        "upsert_bucketed_p50_s": "s",
        "state_read_p50_s": "s",
        "write_bytes_per_user_byte": "ratio",
        "stored_bytes_per_live_byte": "ratio",
    },
}
ENGINE = {
    "session.start_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_wait_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.deserialize_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "trace.overhead_s": "s",
}
LAYERS = {
    "lifecycle": {
        "io.write_json.s": "s",
        "io.write_json.rows": "count",
        "io.write_json.bytes": "bytes",
        "io.write_json.useful_ratio": "ratio",
        "pipeline.run_intent.self_s": "s",
        **{f"pipeline.jobs_per_op.{k}": "count" for k in ("create", "change", "cancel", "view")},
        **{f"spark.input_bytes.{k}": "bytes" for k in ("create", "change", "cancel", "view")},
        "mutations.s": "s",
        "mutations.jobs": "count",
        "relational.s": "s",
    },
    "analytics_fixed": {
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "spark.plan_s": "s",
    },
    "keyed_upsert": {
        **{
            f"{m}.{lay}": u
            for lay in ("snapshot", "bucketed")
            for m, u in (
                ("sinks.upsert.s", "s"),
                ("sinks.upsert.bytes_written", "bytes"),
                ("sinks.upsert.useful_ratio", "ratio"),
                ("fsio.calls", "count"),
                ("fsio.s", "s"),
            )
        },
        "bucketed.buckets_touched_ratio": "ratio",
        "sinks.read.s": "s",
        "sinks.snapshots_retained": "count",
    },
}
TINY = ["--seconds", "1", "--size", "tiny"]


def _run(args: list[str], code: str | None = None):
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [
        sys.executable, "-c", code, *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _report(lines, tag):
    out = {}
    for ln in lines:
        if ln.startswith(f"# {tag} "):
            _, _, name, value, unit = ln.split()
            out[name] = (float(value), unit)
    return out


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_tiny_traced_run_reports_every_named_metric(workload):
    lines, res = _run(["--workload", workload, "--seed", "11", "--trace", "1", *TINY])
    e2e = _report(lines, "e2e")
    for name, unit in {**COMMON, **NAMED[workload]}.items():
        assert e2e[name][1] == unit, name
    assert e2e["failed_ratio"][0] == 0
    layers = _report(lines, "layer")
    for name, unit in {**ENGINE, **LAYERS[workload]}.items():
        assert layers[name][1] == unit, name
    assert layers["spark.jobs"][0] > 0
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert {k: m["unit"] for k, m in res["metrics"].items()} == _declared("per_layer")
    assert any(ln.startswith("# host nproc=") and "calibration_sec" in ln for ln in lines)


def test_untraced_run_prints_the_end_to_end_metrics():
    _, res = _run(["--workload", "lifecycle", "--seed", "12", "--trace", "0", *TINY])
    assert {k: m["unit"] for k, m in res["metrics"].items()} == _declared("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["metrics"]["setup_s"]["unit"] == "s"
    assert res["failed"] == 0


def test_injected_wrong_result_counts_as_failed():
    # the engine is untouched; the reference answer for every `change`
    # is corrupted, so each change call must be reported as failed
    code = (
        "import sys; sys.path.insert(0, '.');"
        "import perfbench.workloads as w, perfbench.run as r;"
        "orig = w.run_result_matches;"
        "w.run_result_matches = lambda res, exp: orig(res, dict(exp, price_difference=-1.5)"
        " if res.intent == 'change' else exp);"
        "raise SystemExit(r.main(sys.argv[1:]))"
    )
    lines, res = _run(["--workload", "lifecycle", "--seed", "13", "--trace", "0", *TINY], code)
    errors = [ln for ln in lines if ln.startswith("# error change")]
    assert res["correct"] is False
    assert res["failed"] == len(errors) > 0
    assert _report(lines, "e2e")["failed_ratio"][0] == pytest.approx(
        res["failed"] / res["attempted"], rel=1e-5
    )
