"""Per-partition lineage ledger + checkpoint resume (SURVEY.md §4 item 4).

The reference resumes at file granularity: every stage checks output
existence (`prclz/_complexity.py:100`, `prclz/_parcels.py:188`,
`prclz/blocks/_extract_blocks.py:53`) and complexity keeps one
`.block.cache` file per block (`_complexity.py:79-97`). Distributed
equivalent: a Parquet ledger table

    (stage, partition_key, status, n_rows, wall_ms, attempt, ts)

written after each stage's partition completes; a restart anti-joins the
stage input against the ledger's done-keys (`left_anti`) so only missing
partitions recompute. This is finer-grained than the reference's
per-country files and it is the mechanism that makes the 10^12-row job
restartable per BASELINE.json north_rule.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )

    def done_keys(self, stage: str) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], "partition_key string")
        return (
            self.spark.read.parquet(self.path)
            .filter((F.col("stage") == stage) & (F.col("status") == "ok"))
            .select("partition_key")
            .distinct()
        )

    def filter_pending(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Checkpoint resume: drop partitions already recorded as done."""
        done = self.done_keys(stage).withColumnRenamed("partition_key", key_col)
        return df.join(done, key_col, "left_anti")

    def record(self, stage: str, results: DataFrame, key_col: str) -> None:
        """Append ok-rows for every key present in `results` (with metrics)."""
        now = time.time()
        rows = (
            results.groupBy(F.col(key_col).alias("partition_key"))
            .agg(F.count("*").alias("n_rows"))
            .withColumn("stage", F.lit(stage))
            .withColumn("status", F.lit("ok"))
            .withColumn("wall_ms", F.lit(None).cast("double"))
            .withColumn("attempt", F.lit(1))
            .withColumn("ts", F.lit(now))
            .select("stage", "partition_key", "status", "n_rows", "wall_ms", "attempt", "ts")
        )
        rows.write.mode("append").parquet(self.path)

    def record_errors(self, stage: str, errors: dict[str, str]) -> None:
        """Append one row per failed key carrying that key's own status
        (``error:<Class>``). Only ``'ok'`` counts as done, so a resume
        retries these keys."""
        if not errors:
            return
        now = time.time()
        rows = self.spark.createDataFrame(
            [(stage, k, status, 0, None, 1, now) for k, status in errors.items()],
            "stage string, partition_key string, status string, n_rows long, wall_ms double, attempt int, ts double",
        )
        rows.write.mode("append").parquet(self.path)


def run_stage(
    ledger: Ledger,
    stage: str,
    inputs: DataFrame,
    key_col: str,
    fn,
    out_path: str | None = None,
) -> DataFrame:
    """Resume-aware stage driver: pending = inputs ∖ done; fn(pending) → out;
    optionally write partitioned parquet; record ledger rows."""
    pending = ledger.filter_pending(inputs, stage, key_col)
    out = fn(pending)
    if out_path is not None:
        out.write.mode("append").partitionBy(key_col).parquet(out_path)
        out = ledger.spark.read.parquet(out_path)
    ledger.record(stage, out, key_col)
    return out
