"""Mutations M1–M3 (SURVEY.md §2.6) as pure DataFrame→DataFrame transforms.

The reference mutates a list-of-dicts in place and rewrites the whole
file (subscription_flow.py:211–241). Here each mutation is a pure
transform ``subs -> new_subs``; the caller persists via sources.io
(JSON single-file for reference parity, parquet/Delta-style rewrite at
scale). Non-transactional read-modify-write semantics and the
single-writer constraint are documented in SURVEY.md §7.4.1.

Target-row selection for M2/M3 is one A1 locate
(:func:`latest_active_subscription`, a single job); the UPDATE itself
(:func:`update_subscription`) is lazy and keyed by subscription_id, so
a caller that already located the row (``plans.pipeline``) pays no
second locate.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from .relational import (
    active_subs_for_user,
    coalesce_default,
    next_subscription_id,
    payment_status_for_price,
    top1_per_key,  # noqa: F401 — perfbench's traced run wraps this name here
)

def latest_active_subscription(subs: DataFrame, user_id: int) -> Row | None:
    """A1 locate: the user's latest active row, or None if absent.

    Order: start_date (ISO string, lexicographic == chronological,
    decision D1) desc, subscription_id desc as deterministic tiebreak
    (decision D2 — the reference's Python ``max`` keeps file order,
    which is not a relational concept).

    A sort-limit (``TakeOrderedAndProject``): one job, no shuffle, and
    the whole row comes back, so one call answers both "no active
    subscription" and which row to update.
    """
    rows = (
        active_subs_for_user(subs, user_id)
        .orderBy(F.col("start_date").desc(), F.col("subscription_id").desc())
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def insert_subscription(
    subs: DataFrame,
    selected_plan: DataFrame,
    user_id: int,
) -> DataFrame:
    """M1: INSERT — append the new subscription row built from the
    selected plan (E5 row construction, subscription_flow.py:213–225).

    - new id = global max + 1, floor 1000 (A2, :214; decision D4)
    - dates default from the plan with literal fallbacks (P6, :220–221)
    - payment_status = Paid|Free by price (E2, :222)
    """
    new_id = next_subscription_id(subs)
    new_row = selected_plan.select(
        F.lit(new_id).cast("int").alias("subscription_id"),
        F.lit(user_id).cast("int").alias("user_id"),
        F.col("subscription_plan_id").cast("int").alias("subscription_plan_id"),
        F.lit("active").alias("subscription_status"),
        coalesce_default("subscription_plan_start_date", "2025-01-01").alias("start_date"),
        coalesce_default("subscription_plan_end_date", "2025-12-31").alias("end_date"),
        payment_status_for_price(F.col("subscription_price")).alias("payment_status"),
    )
    # allowMissingColumns absorbs the ragged payment_status column
    # (SURVEY.md §7.4.6).
    return subs.unionByName(new_row, allowMissingColumns=True)


def _apply_via_merge(
    subs: DataFrame, target_id: int, set_exprs: dict[str, "F.Column"]
) -> DataFrame:
    """Express a single-row UPDATE as a MERGE: the source is the
    target row with the SET columns overwritten; merge_upsert
    joins it back on subscription_id (matched → UPDATE; the key always
    matches, so the insert branch is provably empty). This is the
    1:1 shape of ``MERGE INTO subs USING cdc ON key WHEN MATCHED THEN
    UPDATE SET ...`` — on Delta/Iceberg the same source frame feeds
    ``DeltaTable.merge`` / ``MERGE INTO`` and the table format turns
    the full rewrite into a file-level upsert. Row order of the result
    follows the merge join, not the input file; callers needing
    reference file order sort by subscription_id (M1 assigns max+1, so
    id order IS file order).
    """
    source = subs.filter(F.col("subscription_id") == F.lit(target_id)).select(
        F.col("subscription_id"),
        *[e.alias(c) for c, e in set_exprs.items()],
    )
    return merge_upsert(
        subs, source, ["subscription_id"], update_cols=list(set_exprs)
    )


def _check_strategy(strategy: str) -> None:
    if strategy not in ("projection", "merge"):
        raise ValueError(f"unknown strategy: {strategy!r}")


def update_subscription(
    subs: DataFrame,
    subscription_id: int,
    values: dict[str, Any],
    strategy: str = "projection",
) -> DataFrame:
    """Shared M2/M3 writer interface (SURVEY §7.4: "do both behind one
    writer interface"): set ``values`` (column → literal, cast to the
    column's type) on the row with ``subscription_id``. Lazy — no
    Spark job runs until the caller's action. ``strategy``:

    - ``"projection"`` (default): conditional ``withColumn`` over the
      full table — narrow, order-preserving, the Spark equivalent of
      the reference's in-place row edit + full-file save. Right for
      the catalog-sized JSON-parity table.
    - ``"merge"``: the same update expressed through
      :func:`merge_upsert` — the scale path that maps 1:1 onto a
      lakehouse ``MERGE INTO`` (Delta/Iceberg), where unmatched data
      passes through untouched instead of being rewritten.

    Both strategies produce identical rows (equivalence is pinned in
    tests/test_round6_ops.py).
    """
    _check_strategy(strategy)
    set_exprs = {
        c: F.lit(v).cast(subs.schema[c].dataType) for c, v in values.items()
    }
    if strategy == "merge":
        return _apply_via_merge(subs, subscription_id, set_exprs)
    is_target = F.col("subscription_id") == F.lit(subscription_id)
    out = subs
    for col, expr in set_exprs.items():
        out = out.withColumn(
            col, F.when(is_target, expr).otherwise(F.col(col))
        )
    return out


def _update_latest_active(
    subs: DataFrame, user_id: int, values: dict[str, Any], strategy: str
) -> DataFrame:
    """Locate (one job) then :func:`update_subscription` (lazy); raises
    the reference's error when the user has no active subscription
    (subscription_flow.py:229, 237)."""
    # validate BEFORE the A1 Spark job: a typoed strategy must fail
    # fast with the right message, not after (or masked by) the
    # target-row lookup
    _check_strategy(strategy)
    target = latest_active_subscription(subs, user_id)
    if target is None:
        raise ValueError(f"No active subscription found for user_id {user_id}")
    return update_subscription(subs, target["subscription_id"], values, strategy)


def change_subscription_plan(
    subs: DataFrame, user_id: int, new_plan_id: int, strategy: str = "projection"
) -> DataFrame:
    """M2: UPDATE subscription_plan_id on the A1-selected row
    (subscription_flow.py:228–234) — see
    :func:`update_subscription` for the projection/merge strategy
    choice."""
    return _update_latest_active(
        subs, user_id, {"subscription_plan_id": new_plan_id}, strategy
    )


def cancel_subscription(
    subs: DataFrame, user_id: int, strategy: str = "projection"
) -> DataFrame:
    """M3: soft delete — status → "inactive" on the A1-selected row
    (subscription_flow.py:236–242) — see
    :func:`update_subscription` for the projection/merge strategy
    choice."""
    return _update_latest_active(
        subs, user_id, {"subscription_status": "inactive"}, strategy
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as a pure transform — the lakehouse CDC
    primitive (matched → UPDATE, not-matched → INSERT, optionally
    matched+flag → DELETE) the reference's whole-file rewrite
    (subscription_flow.py:211–241) generalizes to at scale.

    Plan shape: ONE key-equi-join (left outer from target) resolves
    updates and deletes, one ``left_anti`` resolves inserts; both join
    on the same key, so at scale a bucketed/pre-partitioned target
    pays a single shuffle of the (small) CDC batch — never a rewrite
    of unmatched data, which passes through untouched. With AQE the
    typical CDC batch broadcasts.

    ``update_cols`` defaults to every non-key column. ``delete_col``
    names a boolean column in ``source``; matched rows with it true
    drop from the result, and flagged unmatched rows are NOT inserted.
    Inserted rows take NULL for target columns outside ``update_cols``
    — and a matched update SETS NULL when the source carries NULL
    (``_matched``-gated, not ``coalesce``: a CDC event that nulls a
    field must null it, e.g. PII erasure) — both ANSI MERGE rules.
    ANSI's third rule is enforced too: duplicate keys in ``source``
    raise at execution (``raise_error`` behind a per-key window count
    over the small CDC side), because a fanned-out match would
    silently duplicate target rows.
    """
    update_cols = update_cols or [
        c for c in target.columns if c not in key_cols
    ]
    missing = [c for c in update_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks update columns: {missing}")
    src_cols = key_cols + update_cols + ([delete_col] if delete_col else [])
    wk = Window.partitionBy(*key_cols)
    s = source.select(*src_cols).withColumn(
        "_kn", F.count(F.lit(1)).over(wk)
    )
    # the guard rides ON the first key column (not a dead side column
    # Catalyst would prune away), so it must evaluate wherever the key does
    k0 = key_cols[0]
    s = s.withColumn(
        k0,
        F.when(
            F.col("_kn") > 1,
            F.raise_error(
                F.concat(
                    F.lit("merge_upsert: duplicate source key ("),
                    F.concat_ws(
                        ",", *[F.col(k).cast("string") for k in key_cols]
                    ),
                    F.lit(") — ANSI MERGE forbids multiple matched rows"),
                )
            ),
        ).otherwise(F.col(k0)),
    ).drop("_kn")
    s_upd = s.select(
        *key_cols,
        *[F.col(c).alias(f"_src_{c}") for c in update_cols],
        *(
            [F.coalesce(F.col(delete_col), F.lit(False)).alias("_src_del")]
            if delete_col
            else []
        ),
        F.lit(True).alias("_matched"),
    )
    upd = target.join(s_upd, key_cols, "left")
    if delete_col:
        upd = upd.filter(~F.coalesce(F.col("_src_del"), F.lit(False)))
    matched = F.coalesce(F.col("_matched"), F.lit(False))
    merged = upd.select(
        *key_cols,
        *[
            F.when(matched, F.col(f"_src_{c}")).otherwise(F.col(c)).alias(c)
            if c in update_cols
            else F.col(c)
            for c in target.columns
            if c not in key_cols
        ],
    )
    ins = s.join(target.select(*key_cols), key_cols, "left_anti")
    if delete_col:
        ins = ins.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    return merged.unionByName(
        ins.select(*key_cols, *update_cols), allowMissingColumns=True
    )
