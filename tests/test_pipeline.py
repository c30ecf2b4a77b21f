"""Golden lifecycle tests (SURVEY.md §5.2 item 2; FIXTURES.md §1)."""

from __future__ import annotations

import functools
import json
import os
import re
import tempfile

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from airflow_subscription_etl_spark.plans import run_intent

GOLDEN_CREATE = {
    "subscription_id": 1003,
    "user_id": 101,
    "subscription_plan_id": 2,
    "subscription_status": "active",
    "start_date": "2025-01-01",
    "end_date": "2025-12-31",
    "payment_status": "Paid",
}


def test_create_golden_record(spark, seed_tables):
    """The notify_logs.png golden run: user 101, plan defaults to Pro."""
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    assert res.result == GOLDEN_CREATE
    assert res.payment_status == "Success"
    assert res.notified
    table = json.load(open(subs_path))
    assert len(table) == 3 and table[2] == GOLDEN_CREATE


def test_create_free_plan_payment_status(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 101, "intent": "create", "selected_plan_name": "Free"},
        plans_path,
        subs_path,
    )
    assert res.result["payment_status"] == "Free"


def test_change_updates_plan_and_price_diff(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        plans_path,
        subs_path,
    )
    assert res.price_difference == 70.0
    assert res.result["subscription_plan_id"] == 3
    table = json.load(open(subs_path))
    row = next(r for r in table if r["subscription_id"] == 1002)
    assert row["subscription_plan_id"] == 3
    # M2 invariant: only plan_id changed
    assert row["subscription_status"] == "active" and row["start_date"] == "2025-02-01"


def test_change_downgrade_negative_diff(spark, seed_tables):
    """D6: downgrades still route through payment, diff is negative."""
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 102, "intent": "change", "selected_plan_name": "Free"},
        plans_path,
        subs_path,
    )
    assert res.price_difference == -29.0
    assert res.payment_status == "Success"


def test_cancel_soft_delete(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "cancel"}, plans_path, subs_path)
    assert res.result["subscription_status"] == "inactive"
    table = json.load(open(subs_path))
    row = next(r for r in table if r["subscription_id"] == 1001)
    assert row["subscription_status"] == "inactive"
    # M3 invariant: other columns unchanged
    assert row["subscription_plan_id"] == 1 and row["end_date"] == "2025-12-31"


def test_view_returns_latest_active(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "view"}, plans_path, subs_path)
    assert res.result["subscription_id"] == 1001
    # table untouched
    assert len(json.load(open(subs_path))) == 2


def test_view_unknown_user_null_no_error(spark, seed_tables):
    """D7: view path returns null result without raising."""
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 999, "intent": "view"}, plans_path, subs_path)
    assert res.result is None
    assert res.notified


def test_change_unknown_user_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="No active subscription for user_id 999"):
        run_intent(spark, {"user_id": 999, "intent": "change"}, plans_path, subs_path)


def test_invalid_intent_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="Invalid intent"):
        run_intent(spark, {"intent": "refund"}, plans_path, subs_path)


def test_unknown_plan_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="Selected plan not found: Gold"):
        run_intent(
            spark,
            {"user_id": 101, "intent": "create", "selected_plan_name": "Gold"},
            plans_path,
            subs_path,
        )


def test_a1_tiebreak_subscription_id_desc(spark, seed_tables):
    """D2: equal start_date → higher subscription_id wins."""
    plans_path, subs_path = seed_tables
    # create adds id 1003 with start_date 2025-01-01 == seed row 1001's
    run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    res = run_intent(spark, {"user_id": 101, "intent": "view"}, plans_path, subs_path)
    assert res.result["subscription_id"] == 1003


# --- error paths never write (SURVEY D8; reference check order) -------------


def _add_orphan_row(subs_path):
    """User 103's only active row points at plan 9, absent from the catalog."""
    table = json.load(open(subs_path))
    table.append(
        {
            "subscription_id": 1003,
            "user_id": 103,
            "subscription_plan_id": 9,
            "subscription_status": "active",
            "start_date": "2025-03-01",
            "end_date": "2025-12-31",
        }
    )
    with open(subs_path, "w") as f:
        json.dump(table, f, indent=2)


@pytest.mark.parametrize(
    "conf, message",
    [
        ({"user_id": 999, "intent": "change"}, "No active subscription for user_id 999"),
        ({"user_id": 999, "intent": "cancel"}, "No active subscription for user_id 999"),
        (
            {"user_id": 101, "intent": "create", "selected_plan_name": "Gold"},
            "Selected plan not found: Gold",
        ),
        (
            {"user_id": 102, "intent": "change", "selected_plan_name": "Gold"},
            "Selected plan not found: Gold",
        ),
        # unknown user AND unknown plan: the active-row check comes first (:108)
        (
            {"user_id": 999, "intent": "change", "selected_plan_name": "Gold"},
            "No active subscription for user_id 999",
        ),
        ({"user_id": 103, "intent": "change"}, "Current plan not found: subscription_plan_id 9"),
        # orphan current plan AND unknown plan: the orphan check (:121) precedes :178
        (
            {"user_id": 103, "intent": "change", "selected_plan_name": "Gold"},
            "Current plan not found: subscription_plan_id 9",
        ),
        ({"user_id": 101, "intent": "refund"}, "Invalid intent: refund"),
    ],
)
def test_failed_runs_leave_the_table_byte_identical(spark, seed_tables, conf, message):
    plans_path, subs_path = seed_tables
    _add_orphan_row(subs_path)
    before = open(subs_path, "rb").read()
    with pytest.raises(ValueError, match=message):
        run_intent(spark, conf, plans_path, subs_path)
    assert open(subs_path, "rb").read() == before


def test_size_guard_failure_leaves_the_table_byte_identical(spark, seed_tables, monkeypatch):
    from airflow_subscription_etl_spark.plans import pipeline
    from airflow_subscription_etl_spark.sources import io

    plans_path, subs_path = seed_tables
    before = open(subs_path, "rb").read()
    # a create grows the 2-row seed table to 3 rows, one past this bound
    monkeypatch.setattr(
        pipeline, "write_json_table", functools.partial(io.write_json_table, max_rows=2)
    )
    with pytest.raises(ValueError, match="driver-materializing"):
        run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    assert open(subs_path, "rb").read() == before


# --- Spark jobs per intent ---------------------------------------------------


def test_jobs_per_intent_budget(spark, seed_tables):
    """One catalog collect, one locate, one guarded write: create ≤3,
    change ≤3, cancel ≤2, view ≤1 Spark jobs."""
    plans_path, subs_path = seed_tables
    sc = spark.sparkContext
    limits = {"create": 3, "change": 3, "cancel": 2, "view": 1}
    confs = [
        {"user_id": 101, "intent": "create"},
        {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        {"user_id": 101, "intent": "cancel"},
        {"user_id": 102, "intent": "view"},
    ]
    jobs = {}
    try:
        for conf in confs:
            group = f"test_jobs_per_intent_budget-{conf['intent']}"
            sc.setJobGroup(group, group)
            run_intent(spark, conf, plans_path, subs_path)
            jobs[conf["intent"]] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(jobs[k] <= limits[k] for k in limits), jobs


# --- replay: random intent streams against a pure-Python model ---------------

_PLANS = [
    {
        "subscription_plan_id": pid,
        "subscription_plan_name": name,
        "subscription_price": price,
        "subscription_plan_start_date": "2025-01-01",
        "subscription_plan_end_date": "2025-12-31",
    }
    for pid, name, price in [(1, "Free", 0), (2, "Pro", 29), (3, "Team", 99)]
]


class _Model:
    """The reference DAG over a list of dicts (subscription_flow.py:37–358,
    with decisions D2–D4, D7, D8)."""

    def __init__(self, rows):
        self.rows = [dict(r) for r in rows]

    def _plan(self, col, value):
        return next((p for p in _PLANS if p[col] == value), None)

    def _latest_active(self, user):
        cands = [
            r
            for r in self.rows
            if r.get("user_id", 0) == user and r["subscription_status"] == "active"
        ]
        return max(cands, key=lambda r: (r["start_date"], r["subscription_id"]), default=None)

    def run(self, conf):
        user = int(conf.get("user_id") or 0)
        intent = conf.get("intent") or "view"
        name = conf.get("selected_plan_name") or "Pro"
        if intent not in ("create", "change", "cancel", "view"):
            raise ValueError(f"Invalid intent: {intent}")
        out = {"result": None, "price_difference": None, "payment_status": None, "plan_labels": []}
        if intent in ("create", "change"):
            out["plan_labels"] = [
                f"{p['subscription_plan_name']} - ${float(p['subscription_price'])}"
                for p in _PLANS
            ]
        if intent == "create":
            plan = self._plan("subscription_plan_name", name)
            if plan is None:
                raise ValueError(f"Selected plan not found: {name}")
            row = {
                "subscription_id": max([r["subscription_id"] for r in self.rows] + [1000]) + 1,
                "user_id": user,
                "subscription_plan_id": plan["subscription_plan_id"],
                "subscription_status": "active",
                "start_date": plan["subscription_plan_start_date"],
                "end_date": plan["subscription_plan_end_date"],
                "payment_status": "Paid" if plan["subscription_price"] > 0 else "Free",
            }
            self.rows.append(row)
            out.update(result=dict(row), payment_status="Success")
            return out
        cur = self._latest_active(user)
        if intent == "view":
            out["result"] = None if cur is None else dict(cur)
            return out
        if cur is None:
            raise ValueError(f"No active subscription for user_id {user}")
        if intent == "change":
            old = self._plan("subscription_plan_id", cur["subscription_plan_id"])
            if old is None:
                raise ValueError(
                    f"Current plan not found: subscription_plan_id {cur['subscription_plan_id']}"
                )
            plan = self._plan("subscription_plan_name", name)
            if plan is None:
                raise ValueError(f"Selected plan not found: {name}")
            out["price_difference"] = float(plan["subscription_price"] - old["subscription_price"])
            out["payment_status"] = "Success"
            cur["subscription_plan_id"] = plan["subscription_plan_id"]
        else:
            cur["subscription_status"] = "inactive"
        out["result"] = dict(cur)
        return out


def _seed_row():
    # two start dates only, so ties on start_date are common (D2); plan 9
    # is an orphan (D8); ids below 1000 exercise the A2 floor; a row
    # without user_id reads as user 0 (D3)
    return st.fixed_dictionaries(
        {
            "user_id": st.sampled_from([101, 102, None]),
            "subscription_plan_id": st.sampled_from([1, 2, 3, 9]),
            "subscription_status": st.sampled_from(["active", "active", "inactive"]),
            "start_date": st.sampled_from(["2025-01-01", "2025-02-01"]),
        }
    )


def _conf():
    return st.fixed_dictionaries(
        {
            "intent": st.sampled_from(["create", "change", "cancel", "view"]),
            # 999 is never in the table
            "user_id": st.sampled_from([0, 101, 102, 999]),
        },
        optional={"selected_plan_name": st.sampled_from(["Free", "Team", "Gold"])},
    )


@settings(max_examples=2, deadline=None)
@given(
    seed=st.lists(_seed_row(), max_size=4),
    first_id=st.sampled_from([5, 1001]),
    confs=st.lists(_conf(), min_size=1, max_size=4),
)
@example(
    # a start_date tie for user 101 (ids 5 and 6, then the created 1001),
    # the A2 floor, an absent user, an orphan plan for user 0, an unknown plan
    seed=[
        {"user_id": 101, "subscription_plan_id": 1, "subscription_status": "active", "start_date": "2025-01-01"},
        {"user_id": 101, "subscription_plan_id": 2, "subscription_status": "active", "start_date": "2025-01-01"},
        {"user_id": None, "subscription_plan_id": 9, "subscription_status": "active", "start_date": "2025-02-01"},
    ],
    first_id=5,
    confs=[
        {"intent": "view", "user_id": 101},
        {"intent": "create", "user_id": 101},
        {"intent": "change", "user_id": 101, "selected_plan_name": "Team"},
        {"intent": "change", "user_id": 999, "selected_plan_name": "Gold"},
        {"intent": "change", "user_id": 0},
        {"intent": "create", "user_id": 102, "selected_plan_name": "Gold"},
        {"intent": "cancel", "user_id": 101},
    ],
)
def test_replay_matches_model(spark, seed, first_id, confs):
    rows = []
    for i, r in enumerate(seed):
        row = {"subscription_id": first_id + i}
        if r["user_id"] is not None:
            row["user_id"] = r["user_id"]
        row.update(
            subscription_plan_id=r["subscription_plan_id"],
            subscription_status=r["subscription_status"],
            start_date=r["start_date"],
            end_date="2025-12-31",
        )
        rows.append(row)
    model = _Model(rows)
    with tempfile.TemporaryDirectory() as d:
        plans_path = os.path.join(d, "plans.json")
        subs_path = os.path.join(d, "user_subscriptions.json")
        with open(plans_path, "w") as f:
            json.dump(_PLANS, f, indent=2)
        with open(subs_path, "w") as f:
            json.dump(rows, f, indent=2)
        for conf in confs:
            try:
                want = model.run(conf)
            except ValueError as e:
                with pytest.raises(ValueError, match=re.escape(str(e))):
                    run_intent(spark, conf, plans_path, subs_path)
            else:
                res = run_intent(spark, conf, plans_path, subs_path)
                got = {k: getattr(res, k) for k in want}
                assert got == want, conf
                assert res.notified
            assert open(subs_path).read() == json.dumps(model.rows, indent=2), conf
