"""Round-5 fixes: the six ADVICE r4 findings + the PQ default-path
change (VERDICT r4 #3). Each test pins the failure mode the advice
described, so a regression re-introducing it is loud."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators import dedup as D
from airflow_subscription_etl_spark.operators import graph as G
from airflow_subscription_etl_spark.operators import scale as SC
from airflow_subscription_etl_spark.operators import similarity as S

DIMS = 8
M = 2
CODES = 4


def _vec(i: int) -> list[float]:
    return [float((i * 7 + j * 3) % 11) / 11.0 for j in range(DIMS)]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, _vec(i)) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").cache()


# --- pq_topk_pandas id dtype derivation (ADVICE similarity.py:1034) ---------


def test_pq_topk_pandas_string_ids(spark, emb):
    """The mapInPandas output schema must derive the id type from the
    input schema — a hardcoded `long` miscast string ids."""
    semb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    qv = _vec(0)
    out = S.pq_topk_pandas(semb, qv, k=5, m=M, n_codes=CODES).collect()
    assert len(out) == 5
    assert all(r["vec_id"].startswith("doc-") for r in out)
    assert dict(S.pq_topk_pandas(semb, qv, k=5, m=M, n_codes=CODES).dtypes)[
        "vec_id"
    ] == "string"


def test_pq_topk_pandas_int_ids_match_hof(spark, emb):
    """Integer ids of either width keep their type and the results
    still bit-match the HOF reference."""
    for id_type, qv in (("int", _vec(3)), ("bigint", _vec(2))):
        iemb = emb.select(F.col("vec_id").cast(id_type).alias("vec_id"), "embedding")
        a = [tuple(r) for r in S.pq_topk(iemb, qv, k=8, m=M, n_codes=CODES).collect()]
        b = [
            tuple(r)
            for r in S.pq_topk_pandas(iemb, qv, k=8, m=M, n_codes=CODES).collect()
        ]
        assert a == b


# --- PQ plan shapes (VERDICT r4 #3) ------------------------------------------


def test_pq_topk_pandas_plan_runs_mapinpandas(spark, emb):
    plan = S.pq_topk_pandas(emb, _vec(1), k=5, m=M, n_codes=CODES)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan


def test_pq_topk_plan_stays_jvm_side(spark, emb):
    plan = S.pq_topk(emb, _vec(1), k=5, m=M, n_codes=CODES)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan


# --- survivor_selection checksum overflow (ADVICE dedup.py:740) -------------


def test_survivor_checksum_near_int64_max(spark):
    """Hash-derived ids near 2^63 must not overflow: the sum runs in
    decimal(38,0) and folds back via mod 2^62."""
    big = (1 << 63) - 10  # three ids near the bigint ceiling
    members = spark.createDataFrame(
        [(big, 1), (big + 1, 1), (big + 2, 1)],
        "doc_id bigint, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [(big, 0.1), (big + 1, 0.9), (big + 2, 0.5)],
        "doc_id bigint, quality_score double",
    )
    row = D.survivor_selection(members, scores).collect()[0]
    assert row["keep_doc_id"] == big + 1
    expect = ((big + (big + 2)) % (1 << 62) + (1 << 62)) % (1 << 62)
    assert row["dropped_checksum"] == expect
    assert row["dropped_checksum"] >= 0


def test_survivor_checksum_small_ids_unchanged(spark):
    """For ordinary ids the mod is a no-op — same fingerprint as before."""
    members = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (9, 9)], "doc_id bigint, cluster_id bigint"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.1), (9, 0.7)],
        "doc_id bigint, quality_score double",
    )
    out = {r["cluster_id"]: r for r in D.survivor_selection(members, scores).collect()}
    assert out[10]["keep_doc_id"] == 2
    assert out[10]["dropped_checksum"] == 1 + 3
    assert out[9]["dropped_checksum"] == 0


# --- key_skew_report ordering contract (ADVICE scale.py:389) ----------------


def test_key_skew_report_order_is_contractual(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1], "k string"
    )
    # order must hold even through an extra repartition (plan changes
    # must not reorder the report)
    rows = SC.key_skew_report(df.repartition(7), "k", top_n=3).collect()
    assert [(r["key"], r["cnt"]) for r in rows] == [("a", 5), ("b", 3), ("c", 3)]


# --- winsorize_summary odd column names (ADVICE scale.py:462) ---------------


def test_winsorize_summary_hyphenated_column(spark):
    df = spark.createDataFrame(
        [(g, float(v)) for g in ["x", "y"] for v in range(1, 21)],
        ["grp", "the value"],
    ).withColumnRenamed("the value", "unit-price.usd")
    out = {
        r["grp"]: r
        for r in SC.winsorize_summary(df, "unit-price.usd", "grp").collect()
    }
    assert out["x"]["n"] == 20
    # exact interpolated p5/p95 of 1..20: 1.95 / 19.05
    assert out["x"]["lo_micro"] == 1_950_000
    assert out["x"]["hi_micro"] == 19_050_000


# --- kcore_peel invariant under insufficient rounds (ADVICE graph.py:340) ---


def test_kcore_insufficient_rounds_never_violates_degree_bound(spark):
    """A long chain hanging off a 4-clique needs ~chain-length rounds to
    peel; with rounds=1 the old code returned chain nodes with
    core_degree < k. The final filter must keep the invariant."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(10 + i, 11 + i) for i in range(6)] + [(3, 10)]
    edges = spark.createDataFrame(clique + chain, "src bigint, dst bigint")
    for rounds in (1, 2, 8):
        rows = G.kcore_peel(edges, k=3, rounds=rounds).collect()
        assert all(r["core_degree"] >= 3 for r in rows), (rounds, rows)
    # converged: exactly the 4-clique, every node at degree 3
    conv = sorted(
        (r["node"], r["core_degree"])
        for r in G.kcore_peel(edges, k=3, rounds=8).collect()
    )
    assert conv == [(0, 3), (1, 3), (2, 3), (3, 3)]


# --- ANSI-safe shingle tail access (minhash on sub-k-token docs) ------------


def test_minhash_short_docs_survive_ansi(spark):
    """A doc with fewer tokens than k_shingle reads past the token-hash
    array in its one tail shingle; F.get yields NULL there (xxhash64
    skips it) where element_at would abort the job under ANSI mode."""
    from airflow_subscription_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        with_minhash,
    )

    docs = spark.createDataFrame(
        [(1, "single"), (2, "two words"), (3, "three word doc"), (4, "three word doc")],
        "doc_id bigint, text string",
    )
    sigs = with_minhash(docs).collect()
    assert len(sigs) == 4
    assert all(len(r["minhash"]) == 32 for r in sigs)
    pairs = minhash_lsh_pairs(docs, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(3, 4)]
