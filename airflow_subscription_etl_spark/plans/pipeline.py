"""Lifecycle pipeline: the reference DAG's control flow as driver code.

Maps the Airflow layer (SURVEY.md §2.7, C1–C7) to plain Python
dispatch. The reference routes ``create | change | cancel | view``
through two ``BranchPythonOperator``s (subscription_flow.py:69–76,
258–267); here un-taken branches are never even *planned* — cheaper
than Airflow's skip propagation. The always-run ``notify_user``
finalizer (TriggerRule.ALL_DONE, :334) becomes try/finally (C4).

Each run computes a fact once and reuses it. Spark jobs per intent:

- catalog: one labelled collect of the 3-row plans table supplies the
  labels, the selected-plan check and both prices (create, change);
- locate: one sort-limit returns the user's latest active row, which
  answers "no active subscription" and names the row to update
  (change, cancel, view);
- A2: one top-1 for the new id (create);
- write: the lazy mutation materializes in ``write_json_table``'s one
  guarded collect (create, change, cancel).

So create 3, change 3, cancel 2, view 1.

Error-message parity with the reference's ``ValueError``s, checked in
reference order before any write:
- invalid intent            (:62–63)
- no active subscription    (:108–109)
- current plan not in the catalog (:121; decision D8 — the reference
  dies with ``StopIteration``)
- unknown selected plan     (:178–179, :208–209)

An Airflow deployment keeps orchestration upstream: a thin DAG shells
into :func:`run_intent` per run (see ``dags/subscription_flow_spark.py``),
retaining retries (C6) at the task level.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from ..operators.mutations import (
    insert_subscription,
    latest_active_subscription,
    update_subscription,
)
from ..operators.relational import validate_intent, with_label
from ..sources.io import (
    read_plans,
    read_user_subscriptions,
    write_json_table,
)

# perfbench's traced run (perfbench/workloads.py) wraps these names on
# this module, so they stay importable from here.
from ..operators.mutations import (  # noqa: F401
    cancel_subscription,
    change_subscription_plan,
)
from ..operators.relational import (  # noqa: F401
    active_subs_for_user,
    lookup_join,
    price_difference,
    top1_per_key,
)


@dataclass
class RunResult:
    """What the reference surfaces via XCom + notify_user (:248–256)."""

    intent: str
    user_id: int
    result: dict[str, Any] | None = None
    price_difference: float | None = None
    payment_status: str | None = None
    plan_labels: list[str] = field(default_factory=list)
    notified: bool = False

    def notify_json(self) -> str:
        """S5 log sink: pretty JSON (subscription_flow.py:256)."""
        return json.dumps(self.result, indent=2)


def _plan_where(catalog: list[Row], col: str, value: Any) -> Row | None:
    """J1/J2 lookup over the collected catalog: first match in file order."""
    return next((p for p in catalog if p[col] == value), None)


def run_intent(
    spark: SparkSession,
    conf: dict[str, Any],
    plans_path: str,
    subs_path: str,
) -> RunResult:
    """Execute one lifecycle run — the whole reference DAG in at most
    three Spark jobs (create 3, change 3, cancel 2, view 1; see the
    module docstring).

    ``conf`` mirrors ``dag_run.conf`` (subscription_flow.py:52–60):
    ``user_id`` (default 0), ``intent`` (default "view"),
    ``selected_plan_name`` (default "Pro", :157).
    """
    user_id = int(conf.get("user_id") or 0)
    intent = validate_intent(str(conf.get("intent") or "view"))
    selected_name = str(conf.get("selected_plan_name") or "Pro")

    res = RunResult(intent=intent, user_id=user_id)
    try:
        plans = read_plans(spark, plans_path)
        subs = read_user_subscriptions(spark, subs_path)

        catalog: list[Row] = []
        if intent in ("create", "change"):
            # fetch_subscription_plans / fetch_available…: P1+P2 labels
            # (subscription_flow.py:84–91, 127–134); the same rows serve
            # every later plan lookup of this run.
            catalog = with_label(
                plans, "subscription_plan_name", "subscription_price"
            ).collect()
            res.plan_labels = [p["label"] for p in catalog]

        if intent == "create":
            if _plan_where(catalog, "subscription_plan_name", selected_name) is None:
                raise ValueError(f"Selected plan not found: {selected_name}")
            res.payment_status = "Success"  # E4 (:186)
            sel = plans.filter(F.col("subscription_plan_name") == selected_name)
            new_subs = insert_subscription(subs, sel, user_id)
            # write_json_table materializes BEFORE overwriting; derive the
            # result from those rows — any later action on `new_subs`
            # would lazily re-read the mutated file (see sources.io).
            rows = write_json_table(new_subs, subs_path)
            res.result = max(rows, key=lambda r: r["subscription_id"])

        elif intent in ("change", "cancel"):
            current = latest_active_subscription(subs, user_id)
            if current is None:
                raise ValueError(f"No active subscription for user_id {user_id}")
            if intent == "change":
                # J1/J4 enrichment (:118–125)
                cur_plan = _plan_where(
                    catalog, "subscription_plan_id", current["subscription_plan_id"]
                )
                if cur_plan is None:
                    raise ValueError(
                        "Current plan not found: subscription_plan_id "
                        f"{current['subscription_plan_id']}"
                    )
                sel = _plan_where(catalog, "subscription_plan_name", selected_name)
                if sel is None:
                    raise ValueError(f"Selected plan not found: {selected_name}")
                # E1 price diff (:170–182): double subtraction, as in Spark
                res.price_difference = float(
                    sel["subscription_price"] - cur_plan["subscription_price"]
                )
                res.payment_status = "Success"  # E4 (:190) — downgrades too (D6)
                values = {"subscription_plan_id": sel["subscription_plan_id"]}
            else:
                values = {"subscription_status": "inactive"}
            target_id = current["subscription_id"]
            new_subs = update_subscription(subs, target_id, values)
            rows = write_json_table(new_subs, subs_path)
            res.result = next(r for r in rows if r["subscription_id"] == target_id)

        else:  # view — null result, NO error (decision D7, :245)
            current = latest_active_subscription(subs, user_id)
            if current is not None:
                res.result = {
                    k: v for k, v in current.asDict().items() if v is not None
                }

        return res
    finally:
        # C4: notify always runs (TriggerRule.ALL_DONE, :334), even when a
        # branch raised above.
        res.notified = True
