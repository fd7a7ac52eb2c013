"""Checkpoint-resume: a re-run after partial completion recomputes only the
pending partitions and converges to the same outputs."""

from prclz_spark import cells as C
from prclz_spark import fixtures as FX
from prclz_spark.operators.ledger import Ledger
from prclz_spark.pipeline import run_pipeline


def test_pipeline_runs_and_resumes(spark, tmp_path):
    nx = 4
    lines, gadm, bldgs = FX.geo_world(spark, nx, nx)
    res = C.choose_resolution(*FX.grid_params(nx, nx), n_features=nx * nx * 4)
    out_dir = str(tmp_path / "pipe")

    outs = run_pipeline(spark, lines, gadm, bldgs, out_dir, res, with_reblock=False)
    n_blocks = outs["blocks"].count()
    n_cplx = outs["complexity"].count()
    assert n_blocks > 0 and n_cplx == n_blocks

    # resume: everything done → nothing pending, outputs unchanged
    led = Ledger(spark, f"{out_dir}/_ledger")
    assert led.filter_pending(gadm, "blocks", "gadm").isEmpty()
    outs2 = run_pipeline(spark, lines, gadm, bldgs, out_dir, res, with_reblock=False)
    assert outs2["blocks"].count() == n_blocks
    assert outs2["complexity"].count() == n_cplx

    # simulate a partial run: drop one gadm's ledger rows → only it pends
    import pyspark.sql.functions as F

    ledger_df = spark.read.parquet(f"{out_dir}/_ledger")
    some_gadm = gadm.first().gadm
    trimmed = ledger_df.filter(
        ~((F.col("stage") == "blocks") & (F.col("partition_key") == some_gadm))
    )
    trimmed.write.mode("overwrite").parquet(f"{out_dir}/_ledger2")
    led2 = Ledger(spark, f"{out_dir}/_ledger2")
    pend = led2.filter_pending(gadm, "blocks", "gadm")
    assert [r.gadm for r in pend.collect()] == [some_gadm]


def test_pipeline_ledger_records_kernel_error_class(spark, tmp_path):
    """A region whose blocks kernel raises is recorded in the ledger with the
    kernel's own status, error:<Class>, and stays pending for a resume."""
    import re

    import numpy as np

    from prclz_spark import geom as G

    nx = 2
    lines, gadm, bldgs = FX.geo_world(spark, nx, nx)
    res = C.choose_resolution(*FX.grid_params(nx, nx), n_features=nx * nx * 4)
    # valid WKB, but a LINESTRING where the kernel expects a (multi)polygon
    x0, y0, x1, y1 = FX.grid_params(nx, nx)
    bad = G.wkb_dumps(G.Geom(G.LINESTRING, np.array([[x0, y0], [x1, y1]])))
    poisoned = gadm.select("gadm", "geometry").unionByName(
        spark.createDataFrame([("POISON", bytearray(bad))], "gadm string, geometry binary")
    )
    out_dir = str(tmp_path / "pipe")
    run_pipeline(spark, lines, poisoned, bldgs, out_dir, res, with_reblock=False)

    rows = (
        spark.read.parquet(f"{out_dir}/_ledger")
        .filter("stage = 'blocks' AND partition_key = 'POISON'")
        .collect()
    )
    assert len(rows) == 1
    status = rows[0].status
    assert re.fullmatch(r"error:[A-Z]\w*(Error|Exception)", status), status
    led = Ledger(spark, f"{out_dir}/_ledger")
    pend = led.filter_pending(poisoned, "blocks", "gadm")
    assert [r.gadm for r in pend.collect()] == ["POISON"]
