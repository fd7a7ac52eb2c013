"""End-to-end pipeline driver: the five prclz stages wired through the
lineage ledger (SURVEY.md §0 macro-pattern + §4 item 4).

Each stage writes Parquet partitioned by its region key and records
per-partition ledger rows; a restart anti-joins inputs against the ledger
so only missing partitions recompute — the distributed generalization of
the reference's skip-if-exists flags (`prclz/_complexity.py:100`,
`prclz/_parcels.py:188`) and `.block.cache` files (`:79-97`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.blocks import extract_blocks
from .operators.complexity import k_complexity
from .operators.ledger import Ledger
from .operators.parcels import tessellate
from .operators.reblock_op import reblock


def _errors(out: DataFrame, key_col: str, status_col: str, failed) -> dict[str, str]:
    """{failed key: its status}, e.g. {'R7': 'error:ValueError'}."""
    return dict(out.filter(failed).groupBy(key_col).agg(F.min(status_col)).collect())


def run_pipeline(
    spark: SparkSession,
    lines: DataFrame,
    gadm: DataFrame,
    buildings: DataFrame,
    out_dir: str,
    res: int,
    with_reblock: bool = True,
) -> dict:
    """Run blocks → parcels → complexity (→ reblock), resumable.

    Returns {stage: output DataFrame} (reading back the Parquet outputs)."""
    led = Ledger(spark, os.path.join(out_dir, "_ledger"))
    outputs: dict[str, DataFrame] = {}

    # --- stage 1: blocks (keyed by gadm) --------------------------------
    blocks_path = os.path.join(out_dir, "blocks")
    pending_gadm = led.filter_pending(gadm, "blocks", "gadm")
    if not pending_gadm.isEmpty():
        out = extract_blocks(lines, pending_gadm, res, keep_status=True).persist()
        ok = out.filter(F.col("status") == "ok").drop("status")
        ok.write.mode("append").partitionBy("gadm").parquet(blocks_path)
        # a failed kernel must NOT look done: record its gadm with the
        # kernel's error:<Class> status so a resume retries it, and it never
        # reaches downstream stages
        led.record_errors("blocks", _errors(out, "gadm", "status", F.col("status") != "ok"))
        led.record("blocks", spark.read.parquet(blocks_path).join(
            pending_gadm.select("gadm"), "gadm", "left_semi"
        ), "gadm")
        out.unpersist()
    blocks = spark.read.parquet(blocks_path)
    outputs["blocks"] = blocks

    # Stages 2-4 record their ledger rows from the READ-BACK parquet
    # (left-semi joined to the pending keys), not the unmaterialized stage
    # DataFrame — otherwise each kernel would execute twice (once for the
    # write, once for the ledger aggregation).
    def _write_and_record(stage: str, out_df: DataFrame, path: str, pending_keys: DataFrame):
        out_df.write.mode("append").parquet(path)
        written = spark.read.parquet(path).join(pending_keys, "block_id", "left_semi")
        led.record(stage, written, "block_id")

    # --- stage 2: parcels (keyed by block_id) ----------------------------
    parcels_path = os.path.join(out_dir, "parcels")
    pending_blocks = led.filter_pending(blocks, "parcels", "block_id")
    if not pending_blocks.isEmpty():
        out = tessellate(pending_blocks, buildings, res)
        _write_and_record("parcels", out, parcels_path, pending_blocks.select("block_id"))
    parcels = spark.read.parquet(parcels_path)
    outputs["parcels"] = parcels

    # --- stage 3: k-complexity -------------------------------------------
    cplx_path = os.path.join(out_dir, "complexity")
    pending_blocks = led.filter_pending(blocks, "complexity", "block_id")
    if not pending_blocks.isEmpty():
        out = k_complexity(pending_blocks, buildings, res)
        _write_and_record("complexity", out, cplx_path, pending_blocks.select("block_id"))
    outputs["complexity"] = spark.read.parquet(cplx_path)

    # --- stage 4: reblock ---------------------------------------------------
    if with_reblock:
        rb_path = os.path.join(out_dir, "reblock")
        pending_blocks = led.filter_pending(blocks, "reblock", "block_id")
        if not pending_blocks.isEmpty():
            out = reblock(pending_blocks, parcels, buildings, res).persist()
            # a failed block kernel emits road_type='error:*' rows — those
            # must NOT be written as output nor ledger-recorded as done
            # (mirrors stage 1): record them as errors so a resume retries.
            failed = F.col("road_type").startswith("error:")
            _write_and_record("reblock", out.filter(~failed), rb_path, pending_blocks.select("block_id"))
            led.record_errors("reblock", _errors(out, "block_id", "road_type", failed))
            out.unpersist()
        outputs["reblock"] = spark.read.parquet(rb_path)

    return outputs
