"""Pure-Python references the benchmark checks the engine against.

- :class:`LifecycleModel` replays the reference DAG's semantics for
  ``create | change | cancel | view`` on an in-memory copy of the
  ``user_subscriptions`` table.
- :class:`KeyedReference` is a last-writer-wins keyed table over
  numpy arrays, fed the same micro-batches as the engine's keyed sinks.
"""

from __future__ import annotations

import copy

import numpy as np


class LifecycleModel:
    """Reference semantics (FIXTURES.md §1):

    - new subscription id = ``max(ids + [1000]) + 1``;
    - a user's current subscription is their latest *active* row by
      ``start_date`` desc, then ``subscription_id`` desc;
    - ``change`` reports ``new price - current price`` and sets the plan;
      ``cancel`` sets the status to ``inactive``;
    - a new row is ``Paid`` when its plan costs more than 0, else ``Free``;
    - ``view`` of a user with no active row returns ``None``, no error.
    """

    def __init__(self, plans: list[dict], subs: list[dict]):
        self.plans = {p["subscription_plan_name"]: p for p in plans}
        self.plan_by_id = {p["subscription_plan_id"]: p for p in plans}
        self.rows = copy.deepcopy(subs)
        self.by_user: dict[int, list[dict]] = {}
        for r in self.rows:
            self.by_user.setdefault(r.get("user_id", 0), []).append(r)
        self.max_id = max([r["subscription_id"] for r in self.rows] + [1000])

    def latest_active(self, user_id: int) -> dict | None:
        cands = [
            r
            for r in self.by_user.get(user_id, [])
            if r["subscription_status"] == "active"
        ]
        if not cands:
            return None
        return max(cands, key=lambda r: (r["start_date"], r["subscription_id"]))

    def labels(self) -> list[str]:
        return sorted(
            f"{p['subscription_plan_name']} - ${float(p['subscription_price'])}"
            for p in self.plans.values()
        )

    def apply(self, conf: dict) -> dict:
        """Apply one ``run_intent`` conf; returns the expected
        ``{"result", "price_difference", "payment_status", "plan_labels"}``."""
        user = int(conf.get("user_id") or 0)
        intent = conf.get("intent") or "view"
        name = conf.get("selected_plan_name") or "Pro"
        out = {
            "result": None,
            "price_difference": None,
            "payment_status": None,
            "plan_labels": [],
        }
        if intent in ("create", "change"):
            out["plan_labels"] = self.labels()
        if intent == "create":
            plan = self.plans[name]
            self.max_id += 1
            row = {
                "subscription_id": self.max_id,
                "user_id": user,
                "subscription_plan_id": plan["subscription_plan_id"],
                "subscription_status": "active",
                "start_date": plan.get("subscription_plan_start_date") or "2025-01-01",
                "end_date": plan.get("subscription_plan_end_date") or "2025-12-31",
                "payment_status": "Paid" if plan["subscription_price"] > 0 else "Free",
            }
            self.rows.append(row)
            self.by_user.setdefault(user, []).append(row)
            out.update(result=dict(row), payment_status="Success")
        elif intent in ("change", "cancel"):
            cur = self.latest_active(user)
            if cur is None:
                raise ValueError(f"No active subscription for user_id {user}")
            if intent == "change":
                plan = self.plans[name]
                old = self.plan_by_id[cur["subscription_plan_id"]]
                out["price_difference"] = float(
                    plan["subscription_price"] - old["subscription_price"]
                )
                out["payment_status"] = "Success"
                cur["subscription_plan_id"] = plan["subscription_plan_id"]
            else:
                cur["subscription_status"] = "inactive"
            out["result"] = dict(cur)
        else:
            cur = self.latest_active(user)
            out["result"] = dict(cur) if cur is not None else None
        return out

    def table(self) -> list[dict]:
        return sorted(self.rows, key=lambda r: r["subscription_id"])


def run_result_matches(res, expected: dict) -> bool:
    """Whether a ``plans.pipeline.RunResult`` equals the model's answer."""
    return (
        res.result == expected["result"]
        and res.price_difference == expected["price_difference"]
        and res.payment_status == expected["payment_status"]
        and sorted(res.plan_labels) == expected["plan_labels"]
    )


class KeyedReference:
    """Last-writer-wins keyed table: per ``sub_id`` keep the row with
    the greatest ``seq``. Ids are dense from 0, so rows live in arrays
    indexed by id."""

    COLS = ("sub_id", "user_id", "plan_id", "status", "seq")

    def __init__(self, base: dict[str, np.ndarray]):
        self.cols = {c: np.array(base[c], copy=True) for c in self.COLS}

    def __len__(self) -> int:
        return len(self.cols["sub_id"])

    def apply(self, batch: dict[str, np.ndarray]) -> None:
        ids = batch["sub_id"]
        grow = int(ids.max()) + 1 - len(self)
        if grow > 0:
            for c, arr in self.cols.items():
                fill = np.full(grow, -1, arr.dtype) if arr.dtype != object else np.full(grow, None, object)
                self.cols[c] = np.concatenate([arr, fill])
            self.cols["sub_id"][-grow:] = np.arange(len(self) - grow, len(self))
        # within a batch the greatest seq per id wins: walking the batch
        # in seq order leaves each id's winner as its last position
        order = np.argsort(batch["seq"], kind="stable")
        last = {}
        for pos in order:
            last[int(ids[pos])] = pos
        pos = np.fromiter(last.values(), dtype=np.int64)
        key = np.fromiter(last.keys(), dtype=np.int64)
        newer = batch["seq"][pos] > self.cols["seq"][key]
        pos, key = pos[newer], key[newer]
        for c in self.COLS[1:]:
            self.cols[c][key] = batch[c][pos]

    def rows_for(self, ids) -> set[tuple]:
        ids = np.unique(np.asarray(ids, dtype=np.int64))
        return {
            tuple(_py(self.cols[c][i]) for c in self.COLS) for i in ids
        }

    def frame(self):
        """The whole table as a pandas frame sorted by ``sub_id``."""
        import pandas as pd  # noqa: PLC0415

        return pd.DataFrame({c: self.cols[c] for c in self.COLS})


def _py(v):
    return v.item() if hasattr(v, "item") else v
