"""Physical-layout operators: Z-order (Morton) clustering for
multi-dimensional data skipping, plus the one scan-width policy every
compute-bound operator applies to its input (`spread_narrow_scan`).

A parquet lake prunes with per-file min/max statistics. Sorting by ONE
column gives perfect skipping on that column and none on any other;
interleaving the bits of two columns into a Morton key and
range-partitioning by it gives every file a compact rectangle in
(x, y) space, so a box predicate on EITHER OR BOTH dimensions
intersects few files — the technique behind Delta/Iceberg's OPTIMIZE
ZORDER, expressed here with stock Spark primitives
(`repartitionByRange` + `sortWithinPartitions` + parquet stats).

The key is exact integer bit arithmetic (shifts, masks, adds) — the
same expression evaluates bit-identically in DuckDB, so the catalog
hash-checks it like any other projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

Z_BITS = 16  # per-dimension bits; 2 dims × 16 bits fit easily in int64


def spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin `df` across the session's default parallelism ONLY
    when its scan is narrower than that (optimization r11, guide §2.5
    input skew). A single small local file yields one partition, so a
    compute-bound projection in the scan stage — tokenize + per-token
    hashing, vector quantization, media generation ahead of a Python
    decode — would run on one core while the rest idle. Callers pass
    the LIGHT pre-compute projection (e.g. (id, text)), so the spread
    moves only those rows and heavy derived bytes never cross it.

    An already-well-split input — the 100 TB case, where file splits
    provide the parallelism — keeps its splits and skips what would be
    a wasted full shuffle of the table: the width is a fact of the
    input, inspected once at plan-build time, and there is no knob.
    Map-only operators (blocklist/phrase/pseudonymize/…) do not call
    this: their zero-exchange plans are the contract."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def z_value_expr(x: str, y: str, bits: int = Z_BITS) -> Column:
    """Morton key of two non-negative integer columns: bit i of `x`
    lands at position 2i, bit i of `y` at 2i+1. Values are masked to
    `bits` bits (callers with wider domains should bucket/scale
    first). Pure codegen'd integer arithmetic — no UDF."""
    terms = " + ".join(
        f"shiftleft((CAST({x} AS BIGINT) >> {i}) & 1, {2 * i}) + "
        f"shiftleft((CAST({y} AS BIGINT) >> {i}) & 1, {2 * i + 1})"
        for i in range(bits))
    return F.expr(terms)


def z_value_sql(x: str, y: str, bits: int = Z_BITS) -> str:
    """DuckDB twin of `z_value_expr` (same shifts, masks, adds)."""
    terms = " + ".join(
        f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i}) + "
        f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits))
    return f"CAST({terms} AS BIGINT)"


def compaction_plan(files: DataFrame, target_bytes: int,
                    key_col: str = "file_id",
                    bytes_col: str = "bytes",
                    bucket: int = 1024) -> DataFrame:
    """Small-file compaction planning as a distributed query — the
    OPTIMIZE/bin-packing step every long-lived 100 TB lake needs once
    ingestion has dribbled millions of under-sized files.

    Input: a file inventory (ordering key, size). Output: one row per
    planned output file (bin): (bin, n_files, total_bytes, first_file,
    last_file). Policy is ORDER-PRESERVING offset binning: walk files
    in key order and assign bin(f) = floor(bytes_before(f) /
    `target_bytes`) — each bin covers one target-sized byte interval
    of the ordered stream, so bins hold ~target bytes (overshooting
    only by the tail of their boundary-straddling last file). Real
    compactors (Delta OPTIMIZE, Iceberg binpack) make the same
    order-preserving choice: key locality is what min/max data
    skipping relies on; first-fit-decreasing packs marginally tighter
    but scrambles key ranges and is inherently sequential. A file
    larger than `target_bytes` lands alone — the bins its tail spans
    stay empty (files are never split).

    The prefix sum is computed DISTRIBUTED via the same two-level
    scheme as `text.pack_sequences` (per-bucket running sums in
    parallel + one tiny bucket-totals window broadcast back) — no
    global single-partition sort even at a hundred-million-file
    inventory."""
    from pyspark.sql import Window
    n = (files.where(F.col(key_col).isNotNull())
              .select(F.col(key_col).alias("f"),
                      F.col(bytes_col).cast("long").alias("sz"),
                      F.expr(f"CAST({key_col} AS BIGINT) div {bucket}")
                       .alias("_bkt"))
              # explicit, though implied by the join: both consumers of
              # the bucket exchange (window, totals) then canonicalize
              # identically and AQE reuses ONE shuffle — without it the
              # join branch alone gets an inferred isnotnull(_bkt) and
              # the inventory is derived twice (pack_sequences:
              # the same discipline)
              .where(F.col("_bkt").isNotNull()))
    w_local = (Window.partitionBy("_bkt").orderBy("f")
                     .rowsBetween(Window.unboundedPreceding, -1))
    local = n.withColumn(
        "_before_local",
        F.coalesce(F.sum("sz").over(w_local), F.lit(0)).cast("long"))
    totals = local.groupBy("_bkt").agg(
        F.max(F.col("_before_local") + F.col("sz")).alias("_bkt_total"))
    w_bkt = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (totals.withColumn(
        "_bkt_before",
        F.coalesce(F.sum("_bkt_total").over(w_bkt), F.lit(0)).cast("long"))
        .select("_bkt", "_bkt_before"))
    binned = (local.join(F.broadcast(offsets), "_bkt")
                   .withColumn("_before",
                               (F.col("_bkt_before") + F.col("_before_local"))
                               .cast("long"))
                   .withColumn("bin",
                               F.expr(f"_before div {target_bytes}")
                                .cast("long")))
    return (binned.groupBy("bin")
                  .agg(F.count(F.lit(1)).alias("n_files"),
                       F.sum("sz").alias("total_bytes"),
                       F.min("f").alias("first_file"),
                       F.max("f").alias("last_file"))
                  .select("bin",
                          F.col("n_files").cast("long").alias("n_files"),
                          F.col("total_bytes").cast("long").alias("total_bytes"),
                          "first_file", "last_file"))


def write_zordered(df: DataFrame, path: str, x: str, y: str,
                   n_files: int = 16, bits: int = Z_BITS) -> None:
    """Write `df` as parquet clustered on the (x, y) Morton curve:
    range-partition on the z-key (one compact curve segment — a small
    rectangle cover — per output file) and sort within partitions so
    row-group stats are tight too. Readers need no special support:
    plain min/max pruning on x and y now skips most files for box
    predicates on either dimension."""
    keyed = df.withColumn("__z", z_value_expr(x, y, bits))
    (keyed.repartitionByRange(n_files, "__z")
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(path))


def global_rank(df: DataFrame, order_cols: list[Column],
                rank_col: str = "global_rank",
                n_parts: int | None = None) -> DataFrame:
    """EXACT global ranking at scale — the distributed form of
    ``row_number() OVER (ORDER BY …)``, which Spark plans as an
    `Exchange SinglePartition` + one task sorting the WORLD (the
    global-sort anti-pattern; fine for top-k via TakeOrdered, fatal
    for ranking a full 100 TB corpus, e.g. curriculum ordering or
    score-percentile assignment).

    Three-step two-level prefix sum (the `pack_sequences` /
    `compaction_plan` discipline applied to ranking):
      1. range-repartition on the order key — each partition owns a
         contiguous key range;
      2. rank WITHIN each partition in parallel (a window partitioned
         by `spark_partition_id()` never merges partitions);
      3. add per-partition offsets — a cumulative count over the
         n_partitions-row histogram, broadcast back.

    `order_cols` must be a TOTAL order (include an id tie-break) or
    ranks are nondeterministic. The ranks produced are independent of
    partition boundaries; the frame is eagerly checkpointed so the
    histogram and the ranking window see the SAME physical
    partitioning (re-evaluated range sampling is not contractually
    stable across subtree recomputations)."""
    from pyspark.sql import Window
    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    keyed = (df.repartitionByRange(n, *order_cols)
               .withColumn("_pid", F.spark_partition_id())
               .localCheckpoint(eager=True))
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    w_off = (Window.orderBy("_pid")
                   .rowsBetween(Window.unboundedPreceding, -1))
    offs = (keyed.groupBy("_pid")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .withColumn("_off", F.coalesce(F.sum("_n").over(w_off),
                                                F.lit(0))))
    return (keyed.withColumn("_rn", F.row_number().over(w_in))
                 .join(F.broadcast(offs.select("_pid", "_off")), "_pid")
                 .withColumn(rank_col,
                             (F.col("_off") + F.col("_rn")).cast("long"))
                 .drop("_pid", "_rn", "_off"))
