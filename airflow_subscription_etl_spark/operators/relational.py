"""Relational operators (SURVEY.md §2.2–§2.5): P1–P6, J1–J4, A1–A3, E1–E6.

Each operator is a pure ``DataFrame -> DataFrame`` transform, composable
via ``df.transform(...)``. Everything stays JVM-side (built-in
``pyspark.sql.functions``), inside whole-stage codegen — no Python in
the hot path.

Scale posture per operator family:
- P* projections/filters: pushed to the scan by Catalyst (column
  pruning + predicate pushdown on parquet).
- J* joins: catalog-sized build sides get an explicit
  ``F.broadcast`` hint — zero shuffle; fact-fact joins shuffle on the
  key and AQE handles skew.
- A1 top-1-per-key: a single shuffle on the partition key; at 1000
  executors this is the canonical window pattern. When only the
  max-row is needed, ``max_by(struct(*), key)`` gives map-side partial
  aggregation (less shuffle IO than row_number over raw rows).
- A2 global max: a top-1 sort-limit (per-partition top-1, merged on
  the driver; no exchange). The max+1 *allocation* serializes writers by design
  (reference semantics, subscription_flow.py:214); a scale deployment
  swaps the strategy (see ``next_subscription_id``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --- P: projections / filters / predicates ---------------------------------

#: Valid intents (P4; subscription_flow.py:62–63).
VALID_INTENTS = ("create", "change", "cancel", "view")


def project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P1: column projection (subscription_flow.py:84–87, 127–130)."""
    return df.select(*cols)


def with_label(
    df: DataFrame,
    name_col: str,
    price_col: str,
    out: str = "label",
) -> DataFrame:
    """P2/E3: computed string label ``f"{name} - ${price}"``
    (subscription_flow.py:88–91, 131–134).

    Uses ``concat`` + string cast rather than ``format_string`` so the
    rendering of numeric values is engine-portable (matches the DuckDB
    oracle's ``CAST(x AS VARCHAR)``).
    """
    return df.withColumn(
        out,
        F.concat(F.col(name_col), F.lit(" - $"), F.col(price_col).cast("string")),
    )


def active_subs_for_user(df: DataFrame, user_id: int) -> DataFrame:
    """P3+P6: conjunctive equality filter with null-defaulting
    (subscription_flow.py:95–98): ``user_id == :uid AND status == 'active'``
    where a missing user_id reads as 0 (decision D3)."""
    return df.filter(
        (F.coalesce(F.col("user_id"), F.lit(0)) == F.lit(user_id))
        & (F.col("subscription_status") == "active")
    )


def validate_intent(intent: str) -> str:
    """P4: intent enum validation (subscription_flow.py:62–63).

    Driver-side by design — it guards *control flow*, not data.
    """
    if intent not in VALID_INTENTS:
        raise ValueError(f"Invalid intent: {intent}")
    return intent


def coalesce_default(col: str | Column, default) -> Column:
    """P6: `.get(k, default)` → ``coalesce(col, lit(default))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(default))


# --- J: joins ---------------------------------------------------------------


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """J1/J4: equi lookup join against a catalog-sized dimension
    (subscription_flow.py:121 — the `next(...)` linear scan).

    The dim side is broadcast: at 100 TB of fact data this is the only
    sane plan (no shuffle of the fact table; hash map ships to every
    executor).
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def lookup_required(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    error: str,
) -> DataFrame:
    """J2/J3: lookup that must match, with custom error parity
    (subscription_flow.py:177–179, 207–209).

    Left join + emptiness check preserves the reference's explicit
    ``ValueError`` message instead of silently dropping rows.

    The no-match probe is an explicit join-indicator column, not a
    null test on the first dim attribute (r12 review): a matched dim
    row whose first attribute is legitimately NULL is not a missing
    match, and a key-only dim has no attribute to test at all — the
    old probe raised on the former and silently skipped the required
    check on the latter.
    """
    marked = dim.withColumn("__matched", F.lit(True))
    joined = fact.join(F.broadcast(marked), on=on, how="left")
    if joined.filter(F.col("__matched").isNull()).limit(1).count() > 0:
        raise ValueError(error)
    return joined.drop("__matched")


# --- A: aggregations --------------------------------------------------------


def top1_per_key(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """A1: top-1 per key / argmax (subscription_flow.py:93–103).

    The reference's ``max(candidates, key=start_date)`` keeps the first
    maximal element in file order; row order isn't relational, so we
    require the caller to pass a *total* order (decision D2: e.g.
    ``[start_date.desc(), subscription_id.desc()]``).

    One shuffle on ``key``; AQE splits skewed partitions. The window
    variant keeps all columns; for narrow outputs prefer
    :func:`argmax_per_key` (map-side partial agg).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def argmax_per_key(df: DataFrame, key: str | Sequence[str], order_col: Column) -> DataFrame:
    """A1 (agg form): ``groupBy(key).agg(max_by(struct(*), order_col))``.

    Partial-aggregates map-side before the shuffle — at scale this moves
    one struct per key per partition instead of every row.
    """
    keys = [key] if isinstance(key, str) else list(key)
    payload = F.struct(*[F.col(c) for c in df.columns])
    out = df.groupBy(*keys).agg(F.max_by(payload, order_col).alias("__row"))
    return out.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


def next_subscription_id(subs: DataFrame, strategy: str = "max_plus_one") -> Column | int:
    """A2: ID allocation (subscription_flow.py:214):
    ``max([ids] + [1000]) + 1`` — empty table → 1001 (decision D4).

    ``max_plus_one`` is reference-faithful but serializes writers; at
    scale pass ``strategy="monotonic"`` (collision-free per-partition
    ids) or ``"uuid"`` behind the same interface (SURVEY.md §7.4.3).
    """
    if strategy == "max_plus_one":
        # top-1 by id (sort-limit): one job, no exchange, where an
        # agg(max) plans a single-partition exchange (2 jobs under AQE)
        top = (
            subs.select("subscription_id")
            .orderBy(F.col("subscription_id").desc())
            .limit(1)
            .collect()
        )
        ids = [r[0] for r in top if r[0] is not None]
        return max(ids + [1000]) + 1
    if strategy == "monotonic":
        return F.monotonically_increasing_id() + F.lit(1001)
    if strategy == "uuid":
        return F.expr("uuid()")
    raise ValueError(f"unknown id strategy: {strategy}")


def is_empty(df: DataFrame) -> bool:
    """A3: emptiness/existence check (subscription_flow.py:99–100 etc.).

    ``limit(1)`` keeps the action O(first partition with a row), not a
    full count.
    """
    return df.limit(1).count() == 0


# --- E: scalar expressions --------------------------------------------------


def price_difference(new_price: Column, current_price: Column) -> Column:
    """E1: float subtraction (subscription_flow.py:181)."""
    return (new_price - current_price).alias("price_difference")


def payment_status_for_price(price: Column) -> Column:
    """E2: CASE WHEN — "Paid" if price > 0 else "Free"
    (subscription_flow.py:222)."""
    return F.when(price > 0, F.lit("Paid")).otherwise(F.lit("Free"))


def row_json(df: DataFrame) -> DataFrame:
    """E6: record → JSON string (subscription_flow.py:256)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("row_json"))


def enforce_expectations(
    df: DataFrame, expectations: dict[str, Column]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Declarative data-quality expectations (the DLT/Great-Expectations
    pattern): evaluate every named boolean rule in ONE pass, split the
    frame into (clean, violations), and emit per-rule metrics.

    - clean: rows satisfying every rule (nulls count as failures —
      an expectation must be provably true);
    - violations: failing rows plus a ``failed_rules`` array naming
      which rules broke (quarantine-with-diagnosis, not just a drop);
    - metrics: one row per rule with exact violation counts.

    All three come from the same projected frame: map-side rule
    evaluation, one aggregation for metrics — no per-rule re-scan, so
    the cost at 100 TB is one pass + one tiny agg regardless of how
    many rules are attached.

    Raises ``ValueError`` if ``expectations`` is empty — an empty rule
    set is a caller bug (nothing to enforce), not an identity pass.
    """
    if not expectations:
        raise ValueError("expectations must be non-empty")
    flagged = df
    for name, cond in expectations.items():
        flagged = flagged.withColumn(
            f"__ok_{name}", F.coalesce(cond, F.lit(False))
        )
    ok_cols = [F.col(f"__ok_{n}") for n in expectations]
    all_ok = ok_cols[0]
    for c in ok_cols[1:]:
        all_ok = all_ok & c
    failed = F.filter(
        F.array(
            *[
                F.when(~F.col(f"__ok_{n}"), F.lit(n))
                for n in expectations
            ]
        ),
        lambda x: x.isNotNull(),
    )
    clean = flagged.filter(all_ok).drop(*[f"__ok_{n}" for n in expectations])
    violations = (
        flagged.filter(~all_ok)
        .withColumn("failed_rules", failed)
        .drop(*[f"__ok_{n}" for n in expectations])
    )
    metrics = flagged.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.when(~F.col(f"__ok_{n}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__v_{n}")
            for n in expectations
        ],
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("rule"),
                        F.col(f"__v_{n}").alias("n_violations"),
                        F.col("__n").cast("bigint").alias("n_rows"),
                    )
                    for n in expectations
                ]
            )
        ).alias("m")
    ).select("m.rule", "m.n_violations", "m.n_rows")
    return clean, violations, metrics


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column profile: one row per column with
    ``(column, n_rows, n_nulls, null_frac, n_distinct, min_str,
    max_str, avg_len)`` — the statistics every engine's optimizer and
    every data catalog collects (ndv/null_frac drive join estimates;
    min/max drive skipping).

    ONE aggregation job computes every column's metrics (count/
    count-distinct/min/max/avg-length per column in a single agg —
    Spark plans the multi-distinct via Expand, multiplying scan rows
    by |cols|: the standard ANALYZE cost, amortized by running it once
    per table write, and cheap next to the scan it later saves).
    min/max surface as strings so one schema covers every column type;
    the unpivot to rows is driver-side over |cols| literals, not data.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.sum(col.isNull().cast("bigint")).alias(f"_nn_{c}"),
            F.count_distinct(col).alias(f"_nd_{c}"),
            F.min(col).cast("string").alias(f"_min_{c}"),
            F.max(col).cast("string").alias(f"_max_{c}"),
            F.avg(F.length(col.cast("string"))).alias(f"_al_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_n_{c}").cast("bigint").alias("n_rows"),
                F.col(f"_nn_{c}").cast("bigint").alias("n_nulls"),
                (F.col(f"_nn_{c}") / F.col(f"_n_{c}")).alias("null_frac"),
                F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_str"),
                F.col(f"_max_{c}").alias("max_str"),
                F.round(F.col(f"_al_{c}"), 6).alias("avg_len"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")
