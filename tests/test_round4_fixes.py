"""Round-4 hardening: regression tests for the advisor findings
(zorder sign-bit overflow, prefix-sum integer exactness, HALF_UP
weight quantization, reservoir weight guard, empty expectations)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def test_zorder_value_rejects_sign_bit_overflow(spark):
    from airflow_subscription_etl_spark.operators.scale import zorder_value

    # 4 dims x 16 bits would interleave into bit 63 (the bigint sign
    # bit) -> negative Morton keys that sort before all positive ones.
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_value(["a", "b", "c", "d"], bits=16)
    # the documented safe maximum for 4 dims still builds
    zorder_value(["a", "b", "c", "d"], bits=15)


def test_prefix_sum_integral_stays_exact_past_2_53(spark):
    from airflow_subscription_etl_spark.operators.scale import (
        distributed_prefix_sum,
    )

    base = 1 << 53  # double loses +1 exactness past here
    df = spark.createDataFrame(
        [(0, base), (1, 1), (2, 1), (3, 1)], "k int, v long"
    )
    out = distributed_prefix_sum(
        df, [F.col("k").asc()], "v", out_col="cum", num_partitions=3
    )
    assert dict(out.dtypes)["cum"] == "bigint"
    got = {r["k"]: r["cum"] for r in out.collect()}
    # double offsets would collapse base+1 == base; bigint keeps each +1
    assert got == {0: base, 1: base + 1, 2: base + 2, 3: base + 3}


def test_prefix_sum_fractional_still_double(spark):
    from airflow_subscription_etl_spark.operators.scale import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame([(0, 0.5), (1, 0.25)], "k int, v double")
    out = distributed_prefix_sum(
        df, [F.col("k").asc()], "v", out_col="cum", num_partitions=2
    )
    got = {r["k"]: r["cum"] for r in out.collect()}
    assert got == {0: 0.5, 1: 0.75}


def test_micro_quantization_is_half_up_not_banker():
    from airflow_subscription_etl_spark.operators.sampling import (
        _micro_half_up,
    )

    # 2.5 micro-units: banker's round() gives 2, HALF_UP must give 3
    assert _micro_half_up(2.5e-6) == 3
    assert _micro_half_up(1.5e-6) == 2  # banker agrees here; HALF_UP too
    assert _micro_half_up(0.25e-6) == 0
    assert round(2.5) == 2  # documents why built-in round is wrong


def test_weighted_reservoir_excludes_nonpositive_weights(spark):
    from airflow_subscription_etl_spark.operators.sampling import (
        weighted_reservoir,
    )

    rows = [(i, 1.0) for i in range(10)]
    rows += [(100, 0.0), (101, -5.0), (102, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_reservoir(df, "doc_id", "w", k=13).collect()
    picked = {r["doc_id"] for r in out}
    # only the 10 positive-weight rows are eligible
    assert len(out) == 10
    assert picked == set(range(10))


def test_write_json_table_guards_big_tables(spark, tmp_path):
    from airflow_subscription_etl_spark.sources.io import write_json_table

    big = spark.range(50).selectExpr("id", "id * 2 AS v")
    with pytest.raises(ValueError, match="driver-materializing"):
        write_json_table(big, str(tmp_path / "t.json"), max_rows=10)
    # at-the-bound passes and round-trips
    small = spark.range(10).selectExpr("id", "id * 2 AS v")
    rows = write_json_table(small, str(tmp_path / "s.json"), max_rows=10)
    assert len(rows) == 10
    # a 2-partition union of two JSON scans (the M1 create shape): exactly
    # at the bound it writes every row in input order, in one job; one
    # row over, it raises
    def scan(name, ids):
        p = tmp_path / name
        p.write_text(json.dumps([{"id": i} for i in ids]))
        return spark.read.schema("id long").option("multiLine", True).json(str(p))

    at_bound = scan("a.json", range(6)).union(scan("b.json", range(6, 10)))
    assert at_bound.rdd.getNumPartitions() == 2
    sc = spark.sparkContext
    sc.setJobGroup("write_json_table-union", "write_json_table-union")
    try:
        rows = write_json_table(at_bound, str(tmp_path / "u.json"), max_rows=10)
        assert len(sc.statusTracker().getJobIdsForGroup("write_json_table-union")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r["id"] for r in rows] == list(range(10))
    assert json.load(open(tmp_path / "u.json")) == rows
    over = scan("a.json", range(6)).union(scan("c.json", range(6, 11)))
    assert over.rdd.getNumPartitions() == 2
    with pytest.raises(ValueError, match="driver-materializing"):
        write_json_table(over, str(tmp_path / "o.json"), max_rows=10)
    assert not (tmp_path / "o.json").exists()


def test_write_json_table_keeps_input_order_across_partitions(spark, tmp_path):
    """coalesce(1) puts a partition with a preferred location (here a
    cached one) ahead of the others; the sink still writes the input's
    row order."""
    from airflow_subscription_etl_spark.sources.io import write_json_table

    sc = spark.sparkContext
    head = spark.createDataFrame(sc.parallelize([(i,) for i in range(3)], 1), "id long")
    tail = spark.createDataFrame(sc.parallelize([(i,) for i in range(3, 6)], 1), "id long")
    tail.cache().count()
    try:
        rows = write_json_table(head.union(tail), str(tmp_path / "t.json"))
    finally:
        tail.unpersist()
    assert [r["id"] for r in rows] == list(range(6))


def test_enforce_expectations_empty_rules_raise(spark):
    from airflow_subscription_etl_spark.operators.relational import (
        enforce_expectations,
    )

    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="non-empty"):
        enforce_expectations(df, {})
