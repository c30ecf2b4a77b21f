"""Fast checks of the benchmark's own arithmetic and references (no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen
from perfbench.harness import Recorder, latency_summary
from perfbench.reference import KeyedReference, LifecycleModel
from perfbench.trace import Span, Tracer, by_name, self_times

PLANS = [
    {"subscription_plan_id": 1, "subscription_plan_name": "Free", "subscription_price": 0,
     "subscription_plan_start_date": "2025-01-01", "subscription_plan_end_date": "2025-12-31"},
    {"subscription_plan_id": 2, "subscription_plan_name": "Pro", "subscription_price": 29,
     "subscription_plan_start_date": "2025-01-01", "subscription_plan_end_date": "2025-12-31"},
    {"subscription_plan_id": 3, "subscription_plan_name": "Team", "subscription_price": 99,
     "subscription_plan_start_date": "2025-01-01", "subscription_plan_end_date": "2025-12-31"},
]
SUBS = [
    {"subscription_id": 1001, "user_id": 101, "subscription_plan_id": 1,
     "subscription_status": "active", "start_date": "2025-01-01", "end_date": "2025-12-31"},
    {"subscription_id": 1002, "user_id": 102, "subscription_plan_id": 2,
     "subscription_status": "active", "start_date": "2025-02-01", "end_date": "2025-12-31"},
]


def test_self_time_on_synthetic_span_tree():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "op0"),
        Span(1, "a", 1.0, 4.0, 0, "op0"),
        Span(2, "b", 3.0, 6.0, 0, "op0"),  # overlaps a
        Span(3, "a.child", 2.0, 3.0, 1, "op0"),
        Span(4, "c", 8.0, 12.0, 0, "op0"),  # runs past its parent
    ]
    st = self_times(spans)
    # root: 10 minus the union [1,6] + [8,10]
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)
    agg = by_name(spans + [Span(5, "a", 20.0, 21.0, None, "op1")])
    assert agg["a"]["calls"] == 2
    assert agg["a"]["s"] == pytest.approx(4.0)
    assert agg["a"]["self_s"] == pytest.approx(3.0)


def test_tracer_wrap_records_nesting_and_undo():
    class Mod:
        @staticmethod
        def inner(x):
            return x + 1

    t = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(t)))
    undo = tracer.wrap(Mod, "inner", "layer.inner", lambda sp, out, x: sp.attrs.update(x=x))
    with tracer.span("op.call"):
        assert Mod.inner(1) == 2
    tracer.enabled = False
    assert Mod.inner(5) == 6
    undo()
    assert not hasattr(Mod.inner, "__wrapped__")
    names = [(s.name, s.parent, s.attrs) for s in tracer.spans]
    assert names == [("op.call", None, {}), ("layer.inner", 0, {"x": 1})]


def test_recorder_counts_errors_and_wrong_results():
    rec = Recorder()
    rec.op("ok", lambda: 2, check=lambda v: v == 2)
    rec.op("wrong", lambda: 3, check=lambda v: v == 2)
    rec.op("raises", lambda: 1 / 0)
    assert (rec.attempted, rec.failed) == (3, 2)
    assert [r.error for r in rec.records][1:] == ["wrong result", rec.records[2].error]
    assert rec.records[2].error.startswith("ZeroDivisionError")


def test_latency_summary_adds_a_percentile_only_with_ten_samples_beyond():
    assert set(latency_summary([1.0] * 99)) == {"n", "p50"}
    assert "p90" in latency_summary([float(i) for i in range(100)])
    assert "p99" in latency_summary([float(i) for i in range(1000)])


def test_lifecycle_model_golden_scenarios():
    m = LifecycleModel(PLANS, SUBS)
    exp = m.apply({"user_id": 101, "intent": "create"})
    assert exp["result"] == {
        "subscription_id": 1003, "user_id": 101, "subscription_plan_id": 2,
        "subscription_status": "active", "start_date": "2025-01-01",
        "end_date": "2025-12-31", "payment_status": "Paid",
    }
    assert exp["plan_labels"] == ["Free - $0.0", "Pro - $29.0", "Team - $99.0"]
    # 1003 (start 2025-01-01, id 1003) beats 1001 on the id tiebreak
    exp = m.apply({"user_id": 101, "intent": "cancel"})
    assert exp["result"]["subscription_id"] == 1003
    exp = m.apply({"user_id": 102, "intent": "change", "selected_plan_name": "Team"})
    assert exp["price_difference"] == 70.0
    assert exp["result"]["subscription_plan_id"] == 3
    assert m.apply({"user_id": 999, "intent": "view"})["result"] is None
    with pytest.raises(ValueError):
        m.apply({"user_id": 999, "intent": "change"})


def test_lifecycle_stream_is_seeded_and_always_valid():
    subs = gen.subscriptions_table(200, seed=7)
    a = gen.lifecycle_stream(PLANS, subs, 10, seed=7)
    assert a == gen.lifecycle_stream(PLANS, subs, 10, seed=7)
    assert a != gen.lifecycle_stream(PLANS, subs, 10, seed=8)
    for i in range(0, len(a), 4):
        assert sorted(c["intent"] for c in a[i : i + 4]) == sorted(gen.INTENTS)
    m = LifecycleModel(PLANS, subs)
    for conf in a:
        m.apply(conf)  # raises if a change/cancel had no target


def test_keyed_reference_is_last_writer_wins():
    base = gen.keyed_base(50, seed=1)
    batches = gen.keyed_batches(50, [7, 30], 4, seed=1)
    ref = KeyedReference(base)
    brute = {int(k): (int(k), int(u), int(p), s, int(q)) for k, u, p, s, q in zip(
        *(base[c] for c in KeyedReference.COLS))}
    for b in batches:
        ref.apply(b)
        for row in zip(*(b[c] for c in KeyedReference.COLS)):
            row = tuple(v.item() if hasattr(v, "item") else v for v in row)
            if row[0] not in brute or brute[row[0]][4] < row[4]:
                brute[row[0]] = row
    assert ref.rows_for(list(brute)) == set(brute.values())
    assert len(ref) == len(brute)


def test_star_tables_are_seeded():
    a = gen.star_tables(0.001, seed=3)
    b = gen.star_tables(0.001, seed=3)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(gen.star_tables(0.001, seed=4)["documents"])
    assert (a["documents"].num_rows, a["embeddings"].num_rows) == (50, 20)
    emb = np.stack(a["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
