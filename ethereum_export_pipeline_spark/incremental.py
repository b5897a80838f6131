"""Incremental processing — Glue job-bookmark parity (SURVEY §7.5).

The reference's only incremental mechanism is Glue bookmarks: every
node in its Glue jobs carries a `transformation_ctx` and `job.commit()`
persists which input has been consumed
(convert_blocks_to_parquet.py:21,46,53,58,67), so re-runs process only
new data. This module reproduces that semantics for the range-oriented
export pipeline with a MANIFEST: a tiny append-only parquet table of
committed (table, start_block, end_block) ranges.

    plan_ranges → filter_unprocessed(manifest) → process each →
    commit_ranges(manifest)

Properties:
  * idempotent re-runs — a committed range is never reprocessed;
  * crash-safe at range granularity — a range that failed before its
    commit re-runs next time (the reference gets the same from Data
    Pipeline retries + cascade);
  * the manifest is tiny (one row per range — the reference's full
    5M-block plan is 131 rows), so reading it is O(1) next to the data.

At production scale the append should go through a transactional
table format (Delta/Iceberg) to make commit atomic across concurrent
drivers; a filesystem parquet append is atomic-enough for a single
scheduler, which matches the reference's one-pipeline model. For the
file-arrival flavor of incrementality, `streaming.read_stream` +
`trigger(availableNow=True)` + a checkpoint gives exactly-once file
tracking instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType([
    T.StructField("table", T.StringType(), False),
    T.StructField("start_block", T.LongType(), False),
    T.StructField("end_block", T.LongType(), False),
])


def processed_ranges(spark: SparkSession, manifest_path: str,
                     table: str) -> set[tuple[int, int]]:
    """Committed ranges for `table`; empty on first run (no manifest).

    Only a MISSING manifest means "nothing committed": any other read
    failure (e.g. a corrupt or conflicting layout under the manifest
    path) raises, because reading it as empty would silently re-export
    the whole plan."""
    path = spark._jvm.org.apache.hadoop.fs.Path(manifest_path)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return set()
    df = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    rows = (df.where(F.col("table") == table)
              .select("start_block", "end_block").distinct().collect())
    return {(r.start_block, r.end_block) for r in rows}


def filter_unprocessed(plan: Iterable[tuple[int, int]],
                       done: set[tuple[int, int]]) -> list[tuple[int, int]]:
    return [r for r in plan if tuple(r) not in done]


def commit_ranges(spark: SparkSession, manifest_path: str, table: str,
                  ranges: Iterable[tuple[int, int]]) -> None:
    rows = [Row(table=table, start_block=int(s), end_block=int(e))
            for s, e in ranges]
    if not rows:
        return
    from .util import local_df
    (local_df(spark, rows, MANIFEST_SCHEMA)
          .coalesce(1).write.mode("append").parquet(manifest_path))


def run_incremental(spark: SparkSession, manifest_path: str, table: str,
                    plan: Iterable[tuple[int, int]],
                    process: Callable[[int, int], None]) -> list[tuple[int, int]]:
    """Bookmark-gated run: process only ranges not yet committed.
    Returns the ranges actually processed this run.

    Commits after EVERY range (the reference's per-activity bookmark
    granularity): a crash mid-plan re-runs only the in-flight range
    next time, at the cost of one manifest append per range."""
    todo = filter_unprocessed(plan, processed_ranges(spark, manifest_path, table))
    for s, e in todo:
        process(s, e)
        commit_ranges(spark, manifest_path, table, [(s, e)])
    return todo
