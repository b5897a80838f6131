"""CSV→Parquet typed conversion — the engine's generalization of the
reference's three Glue jobs (E3 in SURVEY §3):

    catalog/CSV scan → ApplyMapping typed projection → (ResolveChoice)
    → (DropNullFields) → Parquet partitioned by (start_block, end_block)

One parameterized job replaces convert_blocks_to_parquet.py,
convert_transactions_to_parquet.py and convert_token_transfers_to_parquet.py
(each ~60 LoC of per-table boilerplate in the reference).

Plan shape: Scan(csv) → Project(try_cast…) → InsertIntoHadoopFsRelation
— a single stage, no shuffle, fully codegen'd. The partitioned sink
reproduces the reference's Hive layout byte-for-byte
(`start_block=%08d/end_block=%08d`, convert_blocks_to_parquet.py:63-67),
which is what partition pruning keys on downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import apply_mapping, mapping_for
from .nulls import drop_null_fields


#: block-cursor column per table: sorting row groups by it makes
#: parquet min/max stats prune point/range predicates WITHIN a
#: partition file, not just across partition dirs.
SORT_COLUMN = {
    "blocks": "number", "transactions": "block_number",
    "token_transfers": "block_number", "receipts": "block_number",
    "logs": "block_number", "contracts": "block_number",
}

#: output file cap per partition directory (Spark's maxRecordsPerFile)
MAX_RECORDS_PER_FILE = 5_000_000


def convert_to_parquet(spark: SparkSession, csv_root: str, table: str,
                       out_root: str,
                       drop_all_null_columns: bool = False) -> str:
    """Run the conversion for one table; returns the output path."""
    from ..sources.csv_source import read_table_csv

    raw = read_table_csv(spark, csv_root, table)
    typed = typed_projection(raw, table)
    if drop_all_null_columns:
        typed = drop_null_fields(typed)
    if table in SORT_COLUMN:
        # local sort only (no shuffle): row-group min/max stats become
        # tight, so block_number predicates skip row groups at read
        typed = typed.sortWithinPartitions(SORT_COLUMN[table])
    out = f"{out_root.rstrip('/')}/{table}"
    (typed.write.mode("overwrite")
          .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
          .partitionBy("start_block", "end_block")
          .parquet(out))
    return out


def typed_projection(df: DataFrame, table: str) -> DataFrame:
    """ApplyMapping parity (P1–P3): select + per-column try_cast, with
    the wei columns landing as decimal(38,0)."""
    return apply_mapping(df, mapping_for(table, partitioned=True), safe=True)
