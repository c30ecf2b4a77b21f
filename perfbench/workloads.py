"""The benchmark workloads. Each drives the package only through its
public functions and checks every operation's output.

A workload provides ``setup`` (inputs from the seed into a fresh
directory), ``warm`` (an untimed checked pass), ``run_pass`` (one pass
of the timed window), ``final_check``, ``named`` (its end-to-end
metrics) and, for the traced run, ``install_trace`` and ``layers``.
"""

from __future__ import annotations

import importlib.util
import json
import os

import numpy as np
import pandas as pd

from . import gen
from .harness import dir_bytes, median, per_op_engine
from .reference import KeyedReference, LifecycleModel, run_result_matches
from .trace import self_times


def _p50(rec, kind):
    return median(r.latency for r in rec.timed(kind))


def _spans_of(tracer, prefix):
    return [s for s in tracer.spans if s.name.startswith(prefix)]


def _jobs_in(records, spans) -> int:
    """Jobs (of ``records``) submitted while one of ``spans`` was open."""
    n = 0
    for r in records:
        for j in r.jobs:
            t = (j["submit_ms"] or 0) / 1e3
            if any(s.op == r.op_id and s.start - 1e-3 <= t <= s.end for s in spans):
                n += 1
    return n


def _oracle_compare():
    """``tools/check_oracle.compare``: the repository's own mirror of the
    query oracle gate (sorted columns and rows, exact string equality)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


# --------------------------------------------------------------------------


class Lifecycle:
    """A seeded stream of ``plans.pipeline.run_intent`` calls, one of
    each intent per pass, against a JSON-array ``user_subscriptions``
    table. Every result is compared with :class:`LifecycleModel`, and
    the final table file with the model's table."""

    name = "lifecycle"
    modules = [
        "plans.pipeline",
        "sources.io",
        "operators.mutations",
        "operators.relational",
    ]
    kinds = gen.INTENTS

    def __init__(self, seed: int, rows: int, groups: int = 40):
        self.seed, self.rows, self.groups = seed, rows, groups

    def setup(self, spark, d: str) -> dict:
        from airflow_subscription_etl_spark.schemas import PLANS_SEED

        os.makedirs(d, exist_ok=True)
        cols = [
            "subscription_plan_id",
            "subscription_plan_name",
            "subscription_price",
            "subscription_plan_start_date",
            "subscription_plan_end_date",
        ]
        plans = [dict(zip(cols, p)) for p in PLANS_SEED]
        for p in plans:
            p["subscription_price"] = int(p["subscription_price"])
        subs = gen.subscriptions_table(self.rows, self.seed)
        self.plans_path = os.path.join(d, "plans.json")
        self.subs_path = os.path.join(d, "user_subscriptions.json")
        sizes = {
            "plans": {"rows": len(plans), "bytes": gen.write_json(self.plans_path, plans)},
            "user_subscriptions": {
                "rows": len(subs),
                "bytes": gen.write_json(self.subs_path, subs),
            },
        }
        self.stream = gen.lifecycle_stream(plans, subs, self.groups, self.seed)
        self.model = LifecycleModel(plans, subs)
        self.cursor = 0
        sizes["stream"] = {"rows": len(self.stream), "bytes": len(json.dumps(self.stream))}
        return sizes

    def _call(self, spark, rec):
        from airflow_subscription_etl_spark.plans import pipeline

        conf = self.stream[self.cursor]
        self.cursor += 1
        expected = self.model.apply(conf)
        _, r = rec.op(
            conf["intent"],
            lambda: pipeline.run_intent(spark, conf, self.plans_path, self.subs_path),
            check=lambda res: run_result_matches(res, expected),
        )
        if conf["intent"] != "view":
            r.extra["file_bytes"] = os.path.getsize(self.subs_path)
            r.extra["user_bytes"] = len(json.dumps(expected["result"], indent=2))

    def run_pass(self, spark, rec, i: int) -> None:
        for _ in self.kinds:
            self._call(spark, rec)

    warm = run_pass

    def final_check(self, spark, rec) -> None:
        def read():
            with open(self.subs_path) as fh:
                return json.load(fh)

        rec.op(
            "final_table",
            read,
            check=lambda rows: sorted(rows, key=lambda r: r["subscription_id"])
            == self.model.table(),
        )

    def named(self, spark, rec) -> dict:
        out = {f"{k}_p50_s": (_p50(rec, k), "s") for k in self.kinds}
        writes = [r for r in rec.timed() if "file_bytes" in r.extra]
        out["write_bytes_per_user_byte"] = (
            sum(r.extra["file_bytes"] for r in writes)
            / max(1, sum(r.extra["user_bytes"] for r in writes)),
            "ratio",
        )
        return out

    def install_trace(self, tracer) -> list:
        from airflow_subscription_etl_spark.operators import mutations
        from airflow_subscription_etl_spark.plans import pipeline

        def rows_written(span, rows, *_):
            span.attrs["rows"] = len(rows)

        undo = [
            tracer.wrap(pipeline, "run_intent", "pipeline.run_intent"),
            tracer.wrap(pipeline, "read_plans", "io.read_plans"),
            tracer.wrap(pipeline, "read_user_subscriptions", "io.read_user_subscriptions"),
            tracer.wrap(pipeline, "write_json_table", "io.write_json", rows_written),
        ]
        for fn in ("insert_subscription", "change_subscription_plan", "cancel_subscription"):
            undo.append(tracer.wrap(pipeline, fn, f"mutations.{fn}"))
        for fn in (
            "active_subs_for_user",
            "lookup_join",
            "price_difference",
            "top1_per_key",
            "validate_intent",
            "with_label",
        ):
            undo.append(tracer.wrap(pipeline, fn, f"relational.{fn}"))
        for fn in (
            "active_subs_for_user",
            "top1_per_key",
            "next_subscription_id",
            "payment_status_for_price",
            "coalesce_default",
        ):
            undo.append(tracer.wrap(mutations, fn, f"relational.{fn}"))
        return undo

    def layers(self, spark, rec, tracer) -> dict:
        traced = rec.timed(traced=True)
        writes = _spans_of(tracer, "io.write_json")
        selfs = self_times(tracer.spans)
        out = {
            "io.write_json.s": (_mean(s.end - s.start for s in writes), "s"),
            "io.write_json.rows": (_mean(s.attrs.get("rows", 0) for s in writes), "count"),
            "io.write_json.bytes": (
                _mean(r.extra["file_bytes"] for r in traced if "file_bytes" in r.extra),
                "bytes",
            ),
            "io.write_json.useful_ratio": (
                _mean(1.0 / s.attrs["rows"] for s in writes if s.attrs.get("rows")),
                "ratio",
            ),
            "pipeline.run_intent.self_s": (
                _mean(selfs[s.id] for s in _spans_of(tracer, "pipeline.run_intent")),
                "s",
            ),
        }
        for k in self.kinds:
            recs = [r for r in traced if r.kind == k]
            eng = per_op_engine(recs)
            out[f"pipeline.jobs_per_op.{k}"] = (eng.get("spark.jobs", 0.0), "count")
            out[f"spark.input_bytes.{k}"] = (eng.get("spark.input_bytes", 0.0), "bytes")
        mut_ops = [r for r in traced if r.kind in ("change", "cancel")]
        mut = _spans_of(tracer, "mutations.")
        rel = _spans_of(tracer, "relational.")
        n = max(1, len(mut_ops))
        out["mutations.s"] = (sum(s.end - s.start for s in mut) / n, "s")
        out["mutations.jobs"] = (_jobs_in(mut_ops, mut) / n, "count")
        out["relational.s"] = (sum(selfs[s.id] for s in rel) / max(1, len(traced)), "s")
        return out


# --------------------------------------------------------------------------


class AnalyticsFixed:
    """Registered queries whose cost is dominated by per-job and
    per-stage overhead and driver-side build: the most jobs and tasks
    (``doc_nb_confusion``), the largest builder (``doc_cc_islands``)
    and an Arrow Python-worker query with a large builder
    (``emb_kmeans``). Each is the registered
    builder plus a noop-sink action, with the cache cleared between
    queries. The untimed warm pass collects every result and compares
    it with DuckDB running the query's ``oracle_sql()``."""

    name = "analytics_fixed"
    modules = ["queries", "operators.*", "sources.io"]
    kinds = (
        "doc_nb_confusion",
        "doc_cc_islands",
        "emb_kmeans",
    )

    def __init__(self, seed: int, sf: float):
        self.seed, self.sf = seed, sf

    def setup(self, spark, d: str) -> dict:
        self.dir = d
        return gen.write_star_tables(d, self.sf, self.seed)

    def warm(self, spark, rec, i: int = 0) -> None:
        import duckdb

        from airflow_subscription_etl_spark.queries import REGISTRY
        from airflow_subscription_etl_spark.schemas import STAR_TABLES

        compare = _oracle_compare()
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.dir
        con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for q in self.kinds:
            fn, sql = REGISTRY[q]
            want = con.execute(sql() if callable(sql) else sql).df()
            spark.catalog.clearCache()
            rec.op(
                q,
                lambda: fn(spark, self.dir).toPandas(),
                check=lambda got: compare(got, want) == "OK",
            )
        con.close()

    def _run(self, spark, q, tracer):
        from airflow_subscription_etl_spark import queries

        fn = queries.REGISTRY[q][0]
        if tracer is None or not tracer.enabled:
            df = fn(spark, self.dir)
        else:
            with tracer.span("queries.build"):
                df = fn(spark, self.dir)
            with tracer.span("spark.plan") as sp:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                it = phases.iterator()
                total = 0
                while it.hasNext():
                    total += it.next()._2().durationMs()
                sp.attrs["tracker_s"] = total / 1e3
        df.write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, rec, i: int) -> None:
        for q in self.kinds:
            spark.catalog.clearCache()
            rec.op(q, lambda: self._run(spark, q, rec.tracer))

    def final_check(self, spark, rec) -> None:
        pass

    def named(self, spark, rec) -> dict:
        return {"query_p50_s": (median(r.latency for r in rec.timed()), "s")}

    def install_trace(self, tracer) -> list:
        return []

    def layers(self, spark, rec, tracer) -> dict:
        traced = rec.timed(traced=True)
        builds = _spans_of(tracer, "queries.build")
        n = max(1, len(traced))
        return {
            "queries.build_s": (sum(s.end - s.start for s in builds) / n, "s"),
            "queries.build_jobs": (_jobs_in(traced, builds) / n, "count"),
            "spark.plan_s": (
                sum(s.attrs["tracker_s"] for s in _spans_of(tracer, "spark.plan")) / n,
                "s",
            ),
        }


# --------------------------------------------------------------------------


class KeyedUpsert:
    """Subscription-event micro-batches applied to a keyed state through
    ``streaming.sinks.upsert_keyed_state`` in both layouts, each on its
    own root, every batch followed by a ``read_keyed_state`` read-back
    of the batch's keys. Batch sizes cycle through ``sizes`` so both
    the few-buckets and the all-buckets regime of the 64-bucket layout
    occur. Snapshots are compacted after every batch (keep last 2)."""

    name = "keyed_upsert"
    modules = ["streaming.sinks", "streaming.bucketed_state", "streaming.fsio"]
    kinds = ("upsert_snapshot", "upsert_bucketed", "state_read")
    layouts = ("snapshot", "bucketed")

    def __init__(self, seed: int, base_rows: int, sizes: tuple[int, ...], rounds: int = 40):
        self.seed, self.base_rows, self.sizes, self.rounds = seed, base_rows, list(sizes), rounds

    def _frame(self, spark, cols):
        return spark.createDataFrame(pd.DataFrame(cols), schema=gen.KEYED_SCHEMA)

    def setup(self, spark, d: str) -> dict:
        from airflow_subscription_etl_spark.streaming import sinks

        base = gen.keyed_base(self.base_rows, self.seed)
        self.batches = gen.keyed_batches(self.base_rows, self.sizes, self.rounds, self.seed)
        self.ref = KeyedReference(base)
        self.roots = {lay: os.path.join(d, lay) for lay in self.layouts}
        df = gen.keyed_base_frame(spark, self.base_rows, self.seed)
        for lay, root in self.roots.items():
            sinks.upsert_keyed_state(df, root, ["sub_id"], "seq", 0, layout=lay)
        self.batch_id = 1
        self.cursor = 0
        self.live_row_bytes = dir_bytes(os.path.join(self.roots["snapshot"], "snapshot_0")) / self.base_rows
        return {
            "state": {
                "rows": self.base_rows,
                "bytes": dir_bytes(os.path.join(self.roots["snapshot"], "snapshot_0")),
            },
            "batches": {
                "rows": sum(len(b["sub_id"]) for b in self.batches),
                "sizes": self.sizes,
            },
        }

    def _new_dir(self, lay: str, bid: int) -> str:
        sub = f"snapshot_{bid}" if lay == "snapshot" else f"batch={bid}"
        return os.path.join(self.roots[lay], sub)

    def _read_back(self, spark, lay, keys_df):
        from pyspark.sql import functions as F

        from airflow_subscription_etl_spark.streaming import sinks

        rows = (
            sinks.read_keyed_state(spark, self.roots[lay], layout=lay)
            .join(F.broadcast(keys_df), "sub_id")
            .collect()
        )
        return {tuple(r[c] for c in KeyedReference.COLS) for r in rows}

    def run_pass(self, spark, rec, i: int) -> None:
        from airflow_subscription_etl_spark.streaming import bucketed_state, sinks

        for _ in self.sizes:
            batch = self.batches[self.cursor]
            self.cursor += 1
            bid = self.batch_id
            self.batch_id += 1
            bdf = self._frame(spark, batch)
            keys = np.unique(batch["sub_id"])
            keys_df = spark.createDataFrame(pd.DataFrame({"sub_id": keys}), "sub_id BIGINT")
            self.ref.apply(batch)
            want = self.ref.rows_for(keys)
            for lay in self.layouts:
                root = self.roots[lay]
                _, r = rec.op(
                    f"upsert_{lay}",
                    lambda: sinks.upsert_keyed_state(
                        bdf, root, ["sub_id"], "seq", bid, layout=lay
                    ),
                )
                new = self._new_dir(lay, bid)
                r.extra.update(
                    bytes_written=dir_bytes(new),
                    rows_rewritten=_parquet_rows(new),
                    keys=len(keys),
                    user_bytes=len(batch["sub_id"]) * self.live_row_bytes,
                )
                if lay == "bucketed":
                    r.extra["buckets_touched"] = sum(
                        n.startswith("bucket=") for n in os.listdir(new)
                    )
                    bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
                else:
                    sinks.compact_snapshots(spark, root, keep_last=2)
            for lay in self.layouts:
                rec.op(
                    "state_read",
                    lambda: self._read_back(spark, lay, keys_df),
                    check=lambda got: got == want,
                )

    warm = run_pass

    def final_check(self, spark, rec) -> None:
        from airflow_subscription_etl_spark.streaming import sinks

        want = self.ref.frame()
        for lay in self.layouts:
            rec.op(
                f"final_state_{lay}",
                lambda: sinks.read_keyed_state(spark, self.roots[lay], layout=lay)
                .toPandas()
                .sort_values("sub_id", kind="stable")
                .reset_index(drop=True),
                check=lambda got: _frames_equal(got, want),
            )

    def _stored(self, spark, lay) -> tuple[int, int]:
        from airflow_subscription_etl_spark.streaming import bucketed_state, sinks

        root = self.roots[lay]
        if lay == "snapshot":
            live = dir_bytes(os.path.join(root, f"snapshot_{max(sinks.list_snapshots(spark, root))}"))
        else:
            live = sum(
                dir_bytes(p)
                for p in bucketed_state.bucket_snapshots(spark, root, 2**62).values()
            )
        return dir_bytes(root), live

    def named(self, spark, rec) -> dict:
        ups = [r for r in rec.timed() if r.kind.startswith("upsert_")]
        out = {
            "upsert_snapshot_p50_s": (_p50(rec, "upsert_snapshot"), "s"),
            "upsert_bucketed_p50_s": (_p50(rec, "upsert_bucketed"), "s"),
            "state_read_p50_s": (_p50(rec, "state_read"), "s"),
            "write_bytes_per_user_byte": (
                sum(r.extra["bytes_written"] for r in ups)
                / max(1.0, sum(r.extra["user_bytes"] for r in ups)),
                "ratio",
            ),
        }
        stored = [self._stored(spark, lay) for lay in self.layouts]
        out["stored_bytes_per_live_byte"] = (
            sum(s for s, _ in stored) / max(1, sum(lv for _, lv in stored)),
            "ratio",
        )
        return out

    def install_trace(self, tracer) -> list:
        from airflow_subscription_etl_spark.streaming import fsio

        return [
            tracer.wrap(fsio, fn, f"fsio.{fn}")
            for fn in (
                "exists",
                "is_dir",
                "list_names",
                "mkdirs",
                "delete",
                "rename",
                "replace_dir",
                "rename_overwrite",
                "read_text",
                "write_text_atomic",
            )
        ]

    def layers(self, spark, rec, tracer) -> dict:
        from airflow_subscription_etl_spark.streaming import bucketed_state, sinks

        traced = rec.timed(traced=True)
        out = {}
        fs = _spans_of(tracer, "fsio.")
        for lay in self.layouts:
            ups = [r for r in traced if r.kind == f"upsert_{lay}"]
            ops = {r.op_id for r in ups}
            # calls made by the sink layer, not fsio's calls to itself
            mine = [
                s
                for s in fs
                if s.op in ops and not tracer.spans[s.parent].name.startswith("fsio.")
            ]
            out[f"sinks.upsert.s.{lay}"] = (_mean(r.latency for r in ups), "s")
            out[f"sinks.upsert.bytes_written.{lay}"] = (
                _mean(r.extra["bytes_written"] for r in ups),
                "bytes",
            )
            out[f"sinks.upsert.useful_ratio.{lay}"] = (
                _mean(r.extra["keys"] / max(1, r.extra["rows_rewritten"]) for r in ups),
                "ratio",
            )
            out[f"fsio.calls.{lay}"] = (len(mine) / max(1, len(ups)), "count")
            out[f"fsio.s.{lay}"] = (
                sum(s.end - s.start for s in mine) / max(1, len(ups)),
                "s",
            )
        bucketed = [r for r in traced if r.kind == "upsert_bucketed"]
        out["bucketed.buckets_touched_ratio"] = (
            _mean(r.extra["buckets_touched"] / bucketed_state.DEFAULT_BUCKETS for r in bucketed),
            "ratio",
        )
        out["sinks.read.s"] = (
            _mean(r.latency for r in traced if r.kind == "state_read"),
            "s",
        )
        out["sinks.snapshots_retained"] = (
            len(sinks.list_snapshots(spark, self.roots["snapshot"])),
            "count",
        )
        return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    return all(
        np.array_equal(got[c].to_numpy(), want[c].to_numpy()) for c in want.columns
    )


WORKLOADS = {w.name: w for w in (Lifecycle, AnalyticsFixed, KeyedUpsert)}
