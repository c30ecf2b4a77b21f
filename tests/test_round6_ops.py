"""Round-6 operator work: the lifecycle writer's M2/M3 target-row
contract (VERDICT r5 #5) and the plan-lint broadcast-miss rule
(VERDICT r5 #6)."""

from __future__ import annotations

import pathlib
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.operators import mutations as M
from airflow_subscription_etl_spark.schemas import USER_SUBSCRIPTIONS_SCHEMA

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

_spark = None


@pytest.fixture(autouse=True)
def _cap(spark):
    global _spark
    _spark = spark


SEED = [
    (1001, 101, 1, "active", "2025-01-01", "2025-12-31", None),
    (1002, 102, 2, "active", "2025-02-01", "2025-12-31", None),
    (1003, 101, 2, "active", "2025-01-01", "2025-12-31", "Paid"),
    (1004, 103, 3, "inactive", "2025-03-01", "2025-12-31", "Paid"),
]


def _subs(spark):
    return spark.createDataFrame(SEED, USER_SUBSCRIPTIONS_SCHEMA)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


# --- M2/M3 target row ------------------------------------------------------


def test_change_lands_on_latest_active_row(spark):
    subs = _subs(spark)
    out = M.change_subscription_plan(subs, 102, 3)
    assert out.columns == subs.columns
    by_id = {r["subscription_id"]: r for r in out.collect()}
    assert by_id[1002]["subscription_plan_id"] == 3
    assert [by_id[i]["subscription_plan_id"] for i in (1001, 1003, 1004)] == [1, 2, 3]


def test_cancel_breaks_start_date_tie_on_id(spark):
    subs = _subs(spark)
    out = M.cancel_subscription(subs, 101)
    assert out.columns == subs.columns
    # A1 tiebreak: user 101's 1003 (same start_date, higher id) cancels
    by_id = {r["subscription_id"]: r for r in out.collect()}
    assert by_id[1003]["subscription_status"] == "inactive"
    assert by_id[1001]["subscription_status"] == "active"


def test_change_and_cancel_without_active_row_raise(spark):
    subs = _subs(spark)
    with pytest.raises(ValueError, match="No active subscription"):
        M.change_subscription_plan(subs, 999, 2)
    with pytest.raises(ValueError, match="No active subscription"):
        M.cancel_subscription(subs, 103)  # inactive only


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1001, 1015),
            st.integers(100, 104),
            st.integers(1, 3),
            st.sampled_from(["active", "inactive"]),
            st.sampled_from(["2025-01-01", "2025-02-01"]),
            st.just("2025-12-31"),
            st.none(),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda r: r[0],
    ),
    user=st.integers(100, 104),
)
def test_change_matches_model_property(rows, user):
    """For ANY table state and user, M2 either raises (no active row)
    or sets plan 3 on exactly the A1 row: latest start_date, tie → id."""
    subs = _spark.createDataFrame(rows, USER_SUBSCRIPTIONS_SCHEMA)
    active = [r for r in rows if r[1] == user and r[3] == "active"]
    if not active:
        with pytest.raises(ValueError, match="No active subscription"):
            M.change_subscription_plan(subs, user, 3)
        return
    target = max(active, key=lambda r: (r[4], r[0]))[0]
    want = sorted(r[:2] + (3,) + r[3:] if r[0] == target else r for r in rows)
    assert _sorted_rows(M.change_subscription_plan(subs, user, 3)) == want


# --- plan_lint broadcast-miss rule ------------------------------------------


@pytest.fixture(scope="module")
def _nobroadcast(spark):
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_broadcast_miss_flags_global_agg_side(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("k").alias("k"))
    plan = plan_lint.render_plan(df.join(agg, "k"))
    flags = plan_lint.lint_plan(plan)
    assert "broadcast-miss" in flags
    assert "global" in flags["broadcast-miss"]


def test_broadcast_miss_flags_limit_side(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    lim = df.orderBy("id").limit(5).select("k").distinct()
    plan = plan_lint.render_plan(df.join(lim, "k"))
    assert "broadcast-miss" in plan_lint.lint_plan(plan)


def test_broadcast_miss_silent_on_big_big_and_grouped(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    big = df.withColumnRenamed("id", "id2")
    assert "broadcast-miss" not in plan_lint.lint_plan(
        plan_lint.render_plan(df.join(big, "k"))
    )
    grouped = df.groupBy("k").agg(F.max("id").alias("mx"))
    assert "broadcast-miss" not in plan_lint.lint_plan(
        plan_lint.render_plan(df.join(grouped, "k"))
    )


def test_broadcast_idiom_stays_clean(spark):
    import plan_lint

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("k").alias("mx"))
    plan = plan_lint.render_plan(df.crossJoin(F.broadcast(agg)))
    assert "broadcast-miss" not in plan_lint.lint_plan(plan)


# --- semantic_dedup keep-rule -----------------------------------------------


def test_semantic_dedup_drops_planted_copies(spark):
    from airflow_subscription_etl_spark.operators.clustering import semantic_dedup

    rows = [
        (i, [float((i * 13 + j * 5) % 17) / 17.0 for j in range(8)])
        for i in range(60)
    ] + [(1000 + i, [float((i * 13 + j * 5) % 17) / 17.0 for j in range(8)])
         for i in range(10)]  # planted near-identical copies
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r[0]: r[2] for r in semantic_dedup(df, k=4, threshold=0.45).collect()}
    # an exact copy shares its original's cluster and loses to its lower id
    assert all(out[1000 + i] for i in range(10))
    assert not out[0]


def test_broadcast_miss_not_fooled_by_bound_below_join(_nobroadcast):
    """A global aggregate correctly broadcast into one side via
    crossJoin(F.broadcast(...)) does NOT bound that side once a join
    sits between it and the side root — rows re-expand below the bound
    (review finding r6: the walk must stop at row-expanding nodes)."""
    import plan_lint

    spark = _nobroadcast
    df = spark.range(100000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("id").alias("mx"))
    side = df.crossJoin(F.broadcast(agg))  # sanctioned idiom, still 100k rows
    big2 = spark.range(100000).withColumn("k", F.col("id") % 7).withColumnRenamed("id", "id2")
    plan = plan_lint.render_plan(side.join(big2, "k"))
    assert "SortMergeJoin" in plan  # precondition: it IS a big-big SMJ
    assert "broadcast-miss" not in plan_lint.lint_plan(plan)


# --- doc_minhash_indexed registered query -----------------------------------


def test_doc_minhash_indexed_matches_plain_and_is_rerunnable(spark):
    """The indexed registered query emits the SAME pairs as the plain
    incremental query (the oracle claim), and re-invoking it in one
    session (driver runs Spark + oracle sides; bench runs 2-3 passes)
    survives the managed-table overwrite path."""
    from airflow_subscription_etl_spark.queries import (
        q_doc_minhash_incremental,
        q_doc_minhash_indexed,
    )

    sf = "/root/testdata/sf0.001"
    plain = sorted(map(tuple, q_doc_minhash_incremental(spark, sf).collect()))
    first = sorted(map(tuple, q_doc_minhash_indexed(spark, sf).collect()))
    again = sorted(map(tuple, q_doc_minhash_indexed(spark, sf).collect()))
    assert first == plain
    assert again == plain
