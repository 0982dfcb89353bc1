"""As-of join: attach the most recent right-side row at or before each
left-side timestamp, per key.

The classic time-series primitive Spark lacks as a built-in (DuckDB's
``ASOF JOIN``, pandas ``merge_asof``). Semantics here are the inclusive
backward join: for each left row ``(k, t)``, the right row with the
greatest ``t_r <= t`` for the same key. The right side must be unique
per ``(key, ts)`` (pre-aggregate ties); the left side is returned
unchanged with the right value columns appended (NULL when nothing
precedes).

Scale design — two-phase, no single per-key sort task:

1. Union-tag both sides and bucket time into fixed ``bucket_us``-wide
   ranges. Phase 1 is ONE shuffle on ``(key, bucket)`` and an
   in-partition running ``last`` window ordered by ``(ts, side)``
   (right rows sort before left rows at equal ts, which is exactly the
   inclusive rule). The carried unit is the right-side ROW as a struct,
   not the bare value — a right row whose value is NULL is still "the
   most recent row" and must attach its NULL rather than let an older
   value bleed through (matching DuckDB ASOF JOIN / pandas merge_asof).
   A hub key's rows spread over its time buckets instead of one task's
   sort — per-task volume is bounded by per-(key, bucket) density, the
   knob the caller sets.
2. Phase 2 computes each ``(key, bucket)``'s LAST right-side row (a
   per-bucket 1-row aggregate, map-side combined) and turns it into a
   carry-in per bucket with a running window over the per-key bucket
   frame — rows per key there = occupied buckets, orders of magnitude
   below row count. Final row = in-bucket running row, else carry.

Both windows are bounded; neither is keyed on the raw key alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    out_col: str | None = None,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Left as-of join (backward, inclusive) on ``key``.

    ``left_ts`` / ``right_ts`` are epoch-microsecond longs; ``value_col``
    is the right-side column to attach (aliased ``out_col``).
    """
    out_col = out_col or value_col
    lcols = left.columns
    l = left.withColumn("_ts", F.col(left_ts).cast("long")).withColumn(
        "_side", F.lit(1)
    ).withColumn("_v", F.lit(None).cast(right.schema[value_col].dataType))
    r = (
        right.select(
            F.col(key),
            F.col(right_ts).cast("long").alias("_ts"),
            F.col(value_col).alias("_v"),
        )
        .withColumn("_side", F.lit(0))
    )
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l.select(*lcols, "_ts", "_side", "_v").unionByName(
        r.select(*lcols, "_ts", "_side", "_v")
    )
    u = u.withColumn("_b", F.expr(f"_ts div {bucket_us}"))
    # the carried unit is the whole right ROW (struct): non-null even
    # when its value is NULL, so a NULL value attaches instead of
    # letting an older non-null value bleed through
    u = u.withColumn(
        "_ev",
        F.when(
            F.col("_side") == 0,
            F.struct(F.col("_ts").alias("_et"), F.col("_v")),
        ),
    )

    in_bucket = Window.partitionBy(key, "_b").orderBy("_ts", "_side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the windowed union feeds both the left-bucket spine and the final
    # output — persist so the union + window computes once
    u = u.withColumn(
        "_run", F.last("_ev", ignorenulls=True).over(in_bucket)
    ).persist()

    # per-(key, bucket) final right-side row -> carry-in for later buckets
    bucket_last = (
        r.withColumn("_b", F.expr(f"_ts div {bucket_us}"))
        .groupBy(key, "_b")
        .agg(
            F.max_by(
                F.struct(F.col("_ts").alias("_et"), F.col("_v")), F.col("_ts")
            ).alias("_blast")
        )
    )
    carry_w = Window.partitionBy(key).orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # left rows in buckets with no right row at all still need a carry:
    # the carry frame is the union of left-occupied and right-occupied
    # buckets (rows per key = occupied buckets, not events), with each
    # bucket's carry = the nearest strictly-preceding bucket's final
    # right row. A range-asof on bucket ids would re-introduce the
    # problem one level up; this stays a bounded per-key window.
    left_buckets = u.filter(F.col("_side") == 1).select(key, "_b").distinct()
    all_b = (
        left_buckets.join(bucket_last.select(key, "_b"), [key, "_b"], "full")
        .select(key, "_b")
        .distinct()
        .join(bucket_last, [key, "_b"], "left")
    )
    all_carry = all_b.withColumn(
        "_carry", F.last("_blast", ignorenulls=True).over(carry_w)
    ).select(key, "_b", "_carry")

    out = (
        u.filter(F.col("_side") == 1)
        .join(all_carry, [key, "_b"], "left")
        .withColumn(
            out_col,
            # NOT coalesce on the values: a present run-row with a NULL
            # value is still the most recent row and must win over carry
            F.when(F.col("_run").isNotNull(), F.col("_run._v")).otherwise(
                F.col("_carry._v")
            ),
        )
    )
    return out.select(*lcols, out_col)


def scd2_intervals(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    dedup_consecutive: bool = False,
) -> DataFrame:
    """(key..., value..., valid_from_us, valid_to_us) — SCD Type-2
    historization of a change stream: each observation's values are
    valid from its own (epoch-us) timestamp until the key's NEXT
    observation; the current row carries ``valid_to_us = NULL``. The
    warehouse temporal-table build every pipeline runs before an as-of
    join can serve point-in-time lookups.

    ``dedup_consecutive=True`` first collapses runs where none of
    ``value_cols`` changed (the usual CDC compaction), so intervals
    describe VALUE validity, not observation cadence. ``(key, ts)``
    must be unique (pre-aggregate ties).

    Scale: one ``lead`` window per key (plus one ``lag`` comparison
    when deduping) — the per-user-lag envelope every sessionize-family
    operator uses; no global sort, no driver state.
    """
    if not key_cols or not value_cols:
        raise ValueError("key_cols and value_cols must be non-empty")
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        *key_cols, t.alias("__t"), *value_cols
    )
    w = Window.partitionBy(*key_cols).orderBy("__t")
    if dedup_consecutive:
        changed = F.lit(False)
        for v in value_cols:
            prev = F.lag(F.col(v)).over(w)
            changed = changed | ~F.col(v).eqNullSafe(prev)
        base = (
            base.withColumn(
                "__keep",
                F.lag("__t").over(w).isNull() | changed,
            )
            .filter(F.col("__keep"))
            .drop("__keep")
        )
        w = Window.partitionBy(*key_cols).orderBy("__t")
    return base.select(
        *key_cols,
        *value_cols,
        F.col("__t").alias("valid_from_us"),
        F.lead("__t").over(w).alias("valid_to_us"),
    )
