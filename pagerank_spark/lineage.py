"""Per-iteration lineage + metrics rows, persisted through the Catalog.

Schema (FIXTURES.md §5): one row per (run, iteration[, partition]) with rows
shuffled, L1 residual, wall time, and the checkpoint snapshot id, so any run
can be audited and resumed. Partition-level rows are optional (an extra small
job per iteration) — aggregate rows (partition_id = -1) are always written.
Rows are built on the driver as a ``pyarrow.Table`` and committed by the
catalog's driver-side writer, so logging an iteration starts no Spark job.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_TABLE = "lineage"
LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("iteration", pa.int32()),
    ("partition_id", pa.int32()),
    ("rows_shuffled", pa.int64()),
    ("residual_l1", pa.float64()),
    ("wall_time_s", pa.float64()),
    ("snapshot", pa.string()),
    ("extra", pa.string()),
])


class LineageWriter:
    def __init__(self, spark: SparkSession, catalog, per_partition: bool = False):
        self.spark = spark
        self.catalog = catalog
        self.per_partition = per_partition

    def partition_counts(self, df: DataFrame) -> list[tuple[int, int]]:
        rows = (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        return [(int(r["pid"]), int(r["count"])) for r in rows]

    def log_iteration(
        self,
        run_id: str,
        iteration: int,
        rows_shuffled: int,
        residual_l1: float,
        wall_time_s: float,
        snapshot: str | None = None,
        extra: dict | None = None,
        partition_counts: list[tuple[int, int]] | None = None,
    ) -> None:
        rows = [
            (
                run_id,
                iteration,
                -1,
                int(rows_shuffled),
                float(residual_l1),
                float(wall_time_s),
                snapshot,
                json.dumps(extra or {}),
            )
        ]
        for pid, cnt in partition_counts or []:
            rows.append(
                (run_id, iteration, pid, cnt, float(residual_l1),
                 float(wall_time_s), snapshot, "{}")
            )
        cols = dict(zip(LINEAGE_SCHEMA.names, map(list, zip(*rows))))
        tbl = pa.Table.from_pydict(cols, schema=LINEAGE_SCHEMA)
        self.catalog.write(tbl, LINEAGE_TABLE, mode="append")

    def read(self, run_id: str | None = None) -> DataFrame:
        df = self.catalog.read(self.spark, LINEAGE_TABLE)
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df
