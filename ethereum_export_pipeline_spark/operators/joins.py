"""Join operators Spark lacks as built-ins, composed from primitives.

`asof_join` — for each left row, attach the most recent right row (by
time) with the same key at or before the left row's time. Spark has no
ASOF JOIN; the classic shuffle-free-of-range-explosion technique is
union + partitioned window fill:

    union(left ∪ right, tagged) → window over (key) ordered by
    (time, right-first) → last_value(right payload, ignoreNulls)
    → keep left rows

One shuffle on the key, one sort inside each partition — the same
cost as a sort-merge join, with NO range fan-out (a naive
`l.time >= r.time` join is O(|L|·|R|) per key). Skewed keys behave
like any skewed window (AQE/salting applies).

This is the time-series/feature-attribution primitive a training-data
pipeline needs (attach the latest label/metadata snapshot to each
sample). Verified against DuckDB's native ASOF JOIN in the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_TAG = "__asof_is_right"


def asof_join(left: DataFrame, right: DataFrame, key: str, time: str,
              payload: list[str], tiebreak: str | None = None,
              suffix: str = "_r") -> DataFrame:
    """Left as-of-backward join: every `left` row gains
    ``{p}{suffix}`` columns from the latest `right` row with the same
    `key` and ``right.time <= left.time`` (NULL when none precedes).

    `right` must be unique per (key, time) — pass `tiebreak` (a column
    name) to keep the row with the greatest tiebreak value instead of
    requiring uniqueness.
    """
    r = right.select(key, time, *payload)
    if tiebreak is not None:
        w_t = Window.partitionBy(key, time).orderBy(F.col(tiebreak).desc())
        r = (right.select(key, time, tiebreak, *payload)
                  .withColumn("__rn", F.row_number().over(w_t))
                  .where(F.col("__rn") == 1).drop("__rn", tiebreak))
    r = r.select(
        F.col(key), F.col(time),
        *[F.col(p).alias(f"{p}{suffix}") for p in payload],
        F.lit(1).alias(_TAG))
    l = left.withColumn(_TAG, F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)

    # right rows sort BEFORE left rows at equal time → `<=` semantics
    w = (Window.partitionBy(key)
               .orderBy(F.col(time).asc(), F.col(_TAG).desc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = u.select(
        "*",
        *[F.last(F.when(F.col(_TAG) == 1, F.col(f"{p}{suffix}")),
                 ignorenulls=True).over(w).alias(f"__fill_{p}")
          for p in payload])
    out = filled.where(F.col(_TAG) == 0).drop(_TAG)
    for p in payload:
        out = out.drop(f"{p}{suffix}").withColumnRenamed(f"__fill_{p}",
                                                         f"{p}{suffix}")
    return out


def asof_join_bucketed(left: DataFrame, right: DataFrame, key: str,
                       time: str, payload: list[str], bucket_width: int,
                       tiebreak: str | None = None,
                       suffix: str = "_r") -> DataFrame:
    """`asof_join` with HOT-KEY SKEW defused: identical semantics,
    but the window partitions on (key, time div `bucket_width`)
    instead of (key) alone — a key holding 50% of the corpus becomes
    as many sort groups as time buckets it spans, so no single task
    ever sorts the hot key's whole history (the plain path's failure
    mode at scale: one reducer sorts |hot key| rows while the other
    999 executors idle).

    Two-level fill, the sequence-packing prefix-sum shape:

      1. in-bucket: the union-window fill inside each (key, bucket) —
         covers right rows in the SAME bucket at/before the left row;
      2. boundary carry: per (key, bucket), the latest right payload
         IN that bucket (one row per bucket — a frame |buckets| wide,
         not |rows|) cascades forward via a rows-(-∞, -1) window over
         the bucket sequence, then joins back ON THE SAME (key,
         bucket) the stage-1 window partitioned on (no new exchange
         of the big frame); the final value coalesces in-bucket over
         carried.

    Exchange: one shuffle of |L|+|R| on (key, bucket) + one
    |key×bucket|-sized carry frame — vs the plain path's one shuffle
    on (key) with an unbounded sort group. Pick `bucket_width` so a
    hot key's densest bucket fits a task (time-uniform hot keys: span
    / cores; bursty: smaller)."""
    r = right.select(key, time, *payload)
    if tiebreak is not None:
        w_t = Window.partitionBy(key, time).orderBy(F.col(tiebreak).desc())
        r = (right.select(key, time, tiebreak, *payload)
                  .withColumn("__rn", F.row_number().over(w_t))
                  .where(F.col("__rn") == 1).drop("__rn", tiebreak))
    r = r.select(
        F.col(key), F.col(time),
        *[F.col(p).alias(f"{p}{suffix}") for p in payload],
        F.lit(1).alias(_TAG))
    l = left.withColumn(_TAG, F.lit(0))
    u = (l.unionByName(r, allowMissingColumns=True)
          .withColumn("__bkt", F.floor(F.col(time) / F.lit(bucket_width))
                      .cast("long")))

    w_in = (Window.partitionBy(key, "__bkt")
                  .orderBy(F.col(time).asc(), F.col(_TAG).desc())
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    filled = u.select(
        "*",
        *[F.last(F.when(F.col(_TAG) == 1, F.col(f"{p}{suffix}")),
                 ignorenulls=True).over(w_in).alias(f"__in_{p}")
          for p in payload])

    # per-(key, bucket) last right payload: r is unique per (key,
    # time) here, so max_by on time is deterministic
    last_in_bucket = (
        u.where(F.col(_TAG) == 1)
         .groupBy(key, "__bkt")
         .agg(*[F.expr(f"max_by({p}{suffix}, {time})")
                 .alias(f"__last_{p}") for p in payload]))
    universe = u.select(key, "__bkt").distinct()
    w_carry = (Window.partitionBy(key).orderBy(F.col("__bkt").asc())
                     .rowsBetween(Window.unboundedPreceding, -1))
    carry = (universe.join(last_in_bucket, [key, "__bkt"], "left")
             .select(key, "__bkt",
                     *[F.last(f"__last_{p}", ignorenulls=True)
                        .over(w_carry).alias(f"__carry_{p}")
                       for p in payload]))

    out = (filled.join(carry, [key, "__bkt"], "left")
                 .where(F.col(_TAG) == 0)
                 .drop(_TAG, "__bkt"))
    for p in payload:
        out = (out.withColumn(f"{p}{suffix}",
                              F.coalesce(f"__in_{p}", f"__carry_{p}"))
                  .drop(f"__in_{p}", f"__carry_{p}"))
    return out


def fuzzy_pairs(df: DataFrame, id_col: str, name_col: str,
                block_col, max_dist: int = 2,
                max_block: int | None = 10_000) -> DataFrame:
    """Record linkage by BLOCKING + edit distance — the entity-
    resolution staple (Fellegi–Sunter style candidate generation):
    pair up rows whose `name_col` values are within `max_dist`
    Levenshtein edits, considering ONLY pairs that share a blocking
    key (`block_col`, any deterministic Column — first token, sorted
    character sketch, phonetic code …). Exact matches (distance 0)
    are excluded: that's `dedup_exact`'s job; linkage exists to find
    the NON-identical same-entity rows.

    Returns (id_a, id_b, name_a, name_b, dist) with id_a < id_b.

    Scale shape: the naive all-pairs comparison is O(n²) and dead at
    any scale; blocking makes candidate generation an EQUI-join on
    the block key, so pairs only materialize within blocks —
    quadratic in the largest block, not the table. That makes hot
    blocks the skew risk (the empty/default name!), so `max_block`
    drops blocks larger than the cap before the self-join — the same
    df-cut discipline as `dedup.DEFAULT_MAX_DF`. levenshtein runs
    post-join on the residual, JVM codegen (no UDF).

    Per-pair cost (optimization r11, guide §1.2 step 2 — measured,
    then REVERTED): the banded form (length pre-filter + Spark ≥3.5's
    ``levenshtein(l, r, threshold)``) was tried and measured SLOWER on
    short entity names — paired in-process A/B over the same 999 831
    candidate pairs: banded min 9.04 s vs unbounded min 6.73 s
    (+34%; OPTIMIZATION_r11.md, "What changed" item 3). The
    O(min·threshold) band only pays when strings are long, and names
    stay short at any corpus scale, so the unbounded DP is kept;
    identical output rows were verified before reverting (count
    MATCH + oracle)."""
    base = (df.where(F.col(name_col).isNotNull())
              .select(F.col(id_col).alias("_id"),
                      F.col(name_col).alias("_name"),
                      block_col.alias("_blk"))
              .where(F.col("_blk").isNotNull()))
    if max_block is not None:
        small = (base.groupBy("_blk")
                     .agg(F.count(F.lit(1)).alias("_c"))
                     .where(F.col("_c") <= max_block)
                     .select("_blk"))
        base = base.join(small, "_blk", "left_semi")
    a = base.select(F.col("_blk"), F.col("_id").alias("id_a"),
                    F.col("_name").alias("name_a"))
    b = base.select(F.col("_blk"), F.col("_id").alias("id_b"),
                    F.col("_name").alias("name_b"))
    return (a.join(b, "_blk")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("dist",
                         F.levenshtein("name_a", "name_b").cast("long"))
             .where((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
             .select("id_a", "id_b", "name_a", "name_b", "dist"))
