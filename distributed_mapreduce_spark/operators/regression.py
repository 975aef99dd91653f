"""Distributed linear-regression training via batch gradient descent,
engine-deterministic end to end — the third graded iterative loop
(with kmeans_lloyd and components.pagerank): a DuckDB oracle can
replay every descent step bit-for-bit.

Determinism recipe (the repo-wide decimal discipline applied to GD):
per-row gradient terms round to 12 decimals into DECIMAL(22,12) — the
sum is exact and accumulation-order-independent — and EVERY derived
scalar (gradient components, updated weights, final mse) is rounded by
the ENGINE's round(x, 12), never by Python (Python's round is
half-even; the engines' is half-up — mixing them would drift). The
driver only ferries already-rounded doubles between iterations, the
bounded-collect pattern of ivf_topk/kmeans_lloyd.

Model: y ≈ w0 + w1·x on pre-scaled features (callers divide by fixed
constants; GD needs O(1)-magnitude features for a fixed step size).
The 2× in the squared-loss gradient is absorbed into the step size.

Scale shape: each iteration is ONE partial-agg'd global aggregation
over the feature table (two decimal sums + a count) — map-side
combine, a 1-row exchange, a 1-row collect. At 100 TB an iteration
costs one scan; 3 iterations, 3 scans (or 1 with the table cached).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mapreduce_spark import caching

GD_LR = 0.5
GD_ITERS = 3


def linreg_gd(
    xy: DataFrame,
    lr: float = GD_LR,
    iters: int = GD_ITERS,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Fit y ≈ w0 + w1·x by `iters` full-batch GD steps from (0, 0).
    Returns a 1-row DataFrame (w0, w1, mse, n) — weights after the
    last step and the mse AT those weights, all engine-rounded to 12.
    """
    x, y = F.col(x_col), F.col(y_col)
    # persist: one scan of the feature prep instead of iters+1 (the
    # kmeans_lloyd cache-the-training-set idiom; numerically neutral)
    xy = caching.persist(xy)

    def dec12(c):
        return F.round(c, 12).cast("decimal(22,12)")

    def davg(c):
        # exact decimal sum -> double -> engine round
        return F.round(F.sum(dec12(c)).cast("double") / F.count("*"), 12)

    w0, w1 = 0.0, 0.0
    for _ in range(iters):
        e = (F.lit(w0) + F.lit(w1) * x) - y
        row = xy.agg(
            F.round(F.lit(w0) - F.lit(lr) * davg(e), 12).alias("w0"),
            F.round(F.lit(w1) - F.lit(lr) * davg(e * x), 12).alias("w1"),
        ).collect()[0]
        w0, w1 = float(row["w0"]), float(row["w1"])
    e = (F.lit(w0) + F.lit(w1) * x) - y
    return xy.agg(
        F.lit(w0).alias("w0"),
        F.lit(w1).alias("w1"),
        davg(e * e).alias("mse"),
        F.count("*").alias("n"),
    )


SVM_LR = 0.3
SVM_ITERS = 3


def linsvm_gd(
    xy: DataFrame,
    features: list[str],
    y_col: str = "y",
    lr: float = SVM_LR,
    iters: int = SVM_ITERS,
) -> DataFrame:
    """Linear classifier trained by full-batch subgradient descent on
    the HINGE loss — chosen over logistic precisely because it needs
    no transcendental: exp() is NOT bit-identical across engines
    (measured: 45/500 values differ in the last ulp between the JVM
    and DuckDB), while hinge terms are pure compare/multiply/add, so
    every descent step stays engine-exact under the decimal staging.

    Model: z = w0 + Σ wⱼ·xⱼ, labels y ∈ {−1, +1}; per row the
    subgradient contribution is −y·xⱼ when y·z < 1 else 0.
    Returns 1 row: (w0, w1.., hinge, accuracy, n) — weights after the
    last step, mean hinge loss and training accuracy AT those weights.
    Same scale shape as linreg_gd: one partial-agg'd global
    aggregation per step."""
    y = F.col(y_col)
    # persist: one scan of the feature prep instead of iters+1 (the
    # kmeans_lloyd cache-the-training-set idiom; numerically neutral)
    xy = caching.persist(xy)

    def dec12(c):
        return F.round(c, 12).cast("decimal(22,12)")

    def davg(c):
        return F.round(F.sum(dec12(c)).cast("double") / F.count("*"), 12)

    w = [0.0] * (1 + len(features))
    for _ in range(iters):
        z = F.lit(w[0])
        for j, f in enumerate(features):
            z = z + F.lit(w[j + 1]) * F.col(f)
        active = (y * z) < 1
        aggs = [
            F.round(F.lit(w[0]) - F.lit(lr) * davg(F.when(active, -y).otherwise(0.0)), 12)
        ] + [
            F.round(
                F.lit(w[j + 1])
                - F.lit(lr) * davg(F.when(active, -y * F.col(f)).otherwise(0.0)),
                12,
            )
            for j, f in enumerate(features)
        ]
        row = xy.agg(*[a.alias(f"w{j}") for j, a in enumerate(aggs)]).collect()[0]
        w = [float(row[f"w{j}"]) for j in range(len(w))]
    z = F.lit(w[0])
    for j, f in enumerate(features):
        z = z + F.lit(w[j + 1]) * F.col(f)
    return xy.agg(
        *[F.lit(w[j]).alias(f"w{j}") for j in range(len(w))],
        davg(F.greatest(F.lit(0.0), F.lit(1.0) - y * z)).alias("hinge"),
        F.round(
            F.sum(((y * z) > 0).cast("bigint")).cast("double") / F.count("*"),
            6,
        ).alias("accuracy"),
        F.count("*").alias("n"),
    )


def linsvm_gd_sql(
    table_sql: str,
    features: list[str],
    lr: float = SVM_LR,
    iters: int = SVM_ITERS,
) -> str:
    """DuckDB replay of linsvm_gd: `table_sql` yields (features..., y);
    the CTE chain mirrors every expression op for op."""

    def davg(expr: str) -> str:
        return (
            f"round(CAST(sum(CAST(round({expr}, 12) AS DECIMAL(22,12)))"
            f" AS DOUBLE) / count(*), 12)"
        )

    nw = 1 + len(features)

    def z_expr() -> str:
        z = "w.w0"
        for j, f in enumerate(features):
            z = f"({z} + w.w{j + 1} * {f})"
        return z

    parts = [
        f"WITH t AS ({table_sql})",
        "i0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(nw)) + ")",
    ]
    for i in range(iters):
        z = z_expr()
        active = f"(y * {z}) < 1"
        cols = [
            f"round(w.w0 - {lr} * "
            + davg(f"CASE WHEN {active} THEN -y ELSE 0.0 END")
            + " , 12) AS w0"
        ] + [
            f"round(w.w{j + 1} - {lr} * "
            + davg(f"CASE WHEN {active} THEN -y * {f} ELSE 0.0 END")
            + f", 12) AS w{j + 1}"
            for j, f in enumerate(features)
        ]
        group = ", ".join(f"w.w{j}" for j in range(nw))
        parts.append(
            f"i{i + 1} AS (SELECT "
            + ", ".join(cols)
            + f" FROM t CROSS JOIN i{i} w GROUP BY {group})"
        )
    z = z_expr()
    group = ", ".join(f"w.w{j}" for j in range(nw))
    final = (
        "SELECT "
        + ", ".join(f"w.w{j} AS w{j}" for j in range(nw))
        + ", "
        + davg(f"greatest(0.0, 1.0 - y * {z})")
        + " AS hinge, "
        + f"round(CAST(sum(CASE WHEN (y * {z}) > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        + " / count(*), 6) AS accuracy, "
        + "count(*) AS n "
        + f"FROM t CROSS JOIN i{iters} w GROUP BY {group}"
    )
    return ",\n".join(parts) + "\n" + final


def linreg_gd_sql(
    table_sql: str,
    lr: float = GD_LR,
    iters: int = GD_ITERS,
) -> str:
    """DuckDB replay of linreg_gd: `table_sql` must be a CTE body
    yielding columns (x, y); the generated chain w0 → g/w per
    iteration mirrors the Spark expressions op for op."""

    def davg(expr: str) -> str:
        return (
            f"round(CAST(sum(CAST(round({expr}, 12) AS DECIMAL(22,12)))"
            f" AS DOUBLE) / count(*), 12)"
        )

    parts = [
        f"WITH t AS ({table_sql})",
        "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1)",
    ]
    for i in range(iters):
        e = "((w.w0 + w.w1 * x) - y)"
        parts.append(
            f"""w{i + 1} AS (
            SELECT round(w.w0 - {lr} * {davg(e)}, 12) AS w0,
                   round(w.w1 - {lr} * {davg(f"{e} * x")}, 12) AS w1
            FROM t CROSS JOIN w{i} w
            GROUP BY w.w0, w.w1
        )"""
        )
    e = "((w.w0 + w.w1 * x) - y)"
    return (
        ",\n".join(parts)
        + f"""
        SELECT w.w0 AS w0, w.w1 AS w1,
               {davg(f"{e} * {e}")} AS mse,
               count(*) AS n
        FROM t CROSS JOIN w{iters} w
        GROUP BY w.w0, w.w1
    """
    )
