"""Time-series relational operators over event logs: calendar
resampling with gap filling, and cohort retention — the two
product-analytics staples Spark has no built-in for.

Exactness conventions (the repo's standard): per-bucket aggregates are
exact integers (counts + cent-quantized sums) so they survive any
aggregation order, and the forward fill uses the gap-group trick —
``grp = running count of non-null buckets`` then ``max over (key,
grp)`` — which both Spark and DuckDB express identically (DuckDB's
``IGNORE NULLS`` support differs by version; the gap-group form needs
nothing special on either engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["resample_fill", "cohort_retention", "holt_smooth"]


def holt_smooth(
    df: DataFrame,
    key_col: str,
    value_col: str,
    alpha: float = 0.25,
    beta: float = 0.125,
    horizon: int = 4,
    order_cols: "tuple[str, ...]" = ("ts",),
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + linear
    trend) with an h-step-ahead forecast — the trend-aware upgrade of
    the EWMA scorer, same execution shape (applyInPandas fold over
    each key's totally-ordered history):

        s_1 = x_1,  b_1 = 0                       (naive trend init)
        s_t = α·x_t + (1−α)·(s_{t−1} + b_{t−1})
        b_t = β·(s_t − s_{t−1}) + (1−β)·b_{t−1}
        forecast = s_n + horizon·b_n

    Output: (key, n, level, trend, forecast), one row per key.

    Determinism contract (the EWMA/batch_anomaly rules): pass a
    tie-breaking total ``order_cols`` or equal-timestamp rows fold in
    Arrow arrival order; and for oracle-exact replays pick α, β whose
    complements are exact binary fractions (the defaults 0.25/0.125 —
    ``1−α`` computed here and a ``0.75`` literal in SQL are then the
    same double; with α=0.3 they differ by one ulp and knife-edge
    roundings diverge).

    Scale: one hash shuffle on the key + a per-key O(n) fold; the
    repartition is pinned like batch_anomaly's because the exchange
    is byte-small but Python-heavy — AQE would coalesce it to a few
    fat tasks."""
    import pandas as pd

    a, be, h = float(alpha), float(beta), int(horizon)
    one_a, one_b = 1.0 - a, 1.0 - be
    kt = dict(zip(df.columns, [f.dataType.simpleString()
                               for f in df.schema.fields]))[key_col]
    schema = (
        f"{key_col} {kt}, n long, level double, trend double, "
        f"forecast double"
    )

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        x = pdf[value_col].to_numpy(dtype="float64")
        s, b = float(x[0]), 0.0
        for t in range(1, len(x)):
            s_prev = s
            s = a * float(x[t]) + one_a * (s + b)
            b = be * (s - s_prev) + one_b * b
        return pd.DataFrame({
            key_col: [pdf[key_col].iloc[0]],
            "n": [len(x)],
            "level": [s],
            "trend": [b],
            "forecast": [s + h * b],
        })

    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartition(n_part, key_col)
        .groupBy(key_col)
        .applyInPandas(run, schema)
    )


def resample_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Per-key calendar resampling with forward fill: one row for EVERY
    ``bucket_seconds`` bucket between the key's first and last event —
    gaps included — carrying (n_events, val_cents) of the bucket and
    ``fill_cents``, the last non-empty bucket's value carried forward
    (the gap-group window form). Output: (key, bucket, n_events,
    val_cents, fill_cents).

    Scale: the grid explode is bounded by each key's activity span ÷
    bucket (explicit, inspectable fan-out); two shuffles total — the
    per-bucket aggregation and the grid join — both on (key, bucket);
    the fill windows partition by key only, external-sort-safe."""
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(int(bucket_seconds))).cast("long")
    ev = df.select(
        F.col(key_col).alias("k"), b.alias("b"),
        F.col(value_col).alias("v"),
    )
    hourly = ev.groupBy("k", "b").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.expr("CAST(round(v * 100.0) AS BIGINT)")).cast("long").alias("val_cents"),
    )
    span = ev.groupBy("k").agg(F.min("b").alias("b0"), F.max("b").alias("b1"))
    grid = span.select(
        "k", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("b")
    )
    j = grid.join(hourly, ["k", "b"], "left")
    w = Window.partitionBy("k").orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grp = F.sum(F.when(F.col("val_cents").isNotNull(), 1).otherwise(0)).over(w)
    wg = Window.partitionBy("k", "grp")
    return (
        j.withColumn("grp", grp)
        .withColumn("fill_cents", F.max("val_cents").over(wg))
        .select(
            F.col("k").alias(key_col),
            F.col("b").alias("bucket"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("val_cents", F.lit(0)).cast("long").alias("val_cents"),
            F.coalesce("fill_cents", F.lit(0)).cast("long").alias("fill_cents"),
        )
    )


def cohort_retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Cohort retention matrix: cohort = the key's FIRST active bucket,
    offset = active bucket − cohort; output (cohort, offset, n_keys) =
    how many of the cohort's keys were active again ``offset`` buckets
    later (offset 0 = cohort size). Three map-side-combined groupBys
    and one broadcast-size join on the key's cohort — no window, no
    skew surface beyond ordinary hot-key aggregation."""
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(int(bucket_seconds))).cast("long")
    act = df.select(F.col(key_col).alias("k"), b.alias("b")).distinct()
    first = act.groupBy("k").agg(F.min("b").alias("cohort"))
    return (
        act.join(first, "k")
        .select("cohort", (F.col("b") - F.col("cohort")).alias("offset"))
        .groupBy("cohort", "offset")
        .agg(F.count("*").cast("long").alias("n_keys"))
    )
