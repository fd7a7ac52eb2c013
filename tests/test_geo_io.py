"""Geo source/sink tests, incl. reading the reference's own example GeoJSON."""

import json

import pytest
from pyspark.sql import functions as F

from prclz_spark import fixtures as FX
from prclz_spark import geom as G
from prclz_spark.sources.geo_io import (
    geojson_to_geom,
    geom_to_geojson,
    read_csv_wkt,
    read_geojson,
    write_csv_wkt,
    write_geojson,
)

REF_BUILDINGS = "/root/reference/example_data/buildings/Africa/DJI/buildings_DJI.1.1_1.geojson"


def test_geojson_codec_roundtrip():
    for wkt in [
        "POINT (1 2)",
        "LINESTRING (0 0, 1 1)",
        "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
    ]:
        g = G.wkt_loads(wkt)
        g2 = geojson_to_geom(geom_to_geojson(g))
        assert g2 == g


@pytest.mark.reference_fixture
def test_read_reference_buildings_geojson(spark):
    """S1 parity: the reference's own example_data buildings file."""
    df = read_geojson(spark, REF_BUILDINGS, ["osm_id", "building", "gadm_code"])
    n = df.count()
    assert n > 100
    row = df.filter(F.col("geometry").isNotNull()).first()
    g = G.wkb_loads(bytes(row.geometry))
    assert g.kind in (G.POLYGON, G.MULTIPOLYGON)
    assert row.gadm_code.startswith("DJI")


def test_csv_wkt_roundtrip(spark, tmp_path):
    blocks = spark.createDataFrame(
        [("b1", G.wkb_dumps(G.box(0, 0, 1, 1))), ("b2", G.wkb_dumps(G.box(2, 2, 3, 3)))],
        "block_id string, geometry binary",
    )
    path = str(tmp_path / "blocks_csv")
    write_csv_wkt(blocks, path)
    back = read_csv_wkt(spark, path, assert_unique="block_id")
    rows = {r.block_id: G.wkb_loads(bytes(r.geometry)) for r in back.collect()}
    assert abs(G.area(rows["b1"]) - 1.0) < 1e-9
    assert abs(G.area(rows["b2"]) - 1.0) < 1e-9


@pytest.mark.reference_fixture
def test_read_reference_blocks_csv(spark):
    """S2 parity: the reference's golden blocks CSV (540 blocks)."""
    path = "/root/reference/example_data/blocks/Africa/DJI/blocks_DJI.1.1_1.csv"
    df = read_csv_wkt(spark, path, assert_unique="block_id")
    assert df.count() == 540
    g = G.wkb_loads(bytes(df.first().geometry))
    assert g.kind in (G.POLYGON, G.MULTIPOLYGON)


def test_write_geojson_partitioned(spark, tmp_path):
    _, gadm, bldgs = FX.geo_world(spark, 2, 2)
    from prclz_spark.operators.sjoin import pip_join
    from prclz_spark.operators.complexity import building_centroids
    from prclz_spark import cells as C

    res = C.choose_resolution(*FX.grid_params(2, 2), n_features=16)
    pts = building_centroids(bldgs, res=res)
    assigned = pip_join(pts, gadm, "osm_id", "gadm", res=res).select("osm_id", "gadm")
    out = bldgs.join(assigned, "osm_id").select("osm_id", "gadm", "geometry")
    path = str(tmp_path / "buildings_geojson")
    write_geojson(out, path, partition_by="gadm")
    back = spark.read.text(path)
    assert back.count() == out.count()
    line = json.loads(back.first().value)
    assert line["type"] == "Feature" and "coordinates" in line["geometry"]


def test_st_geomfromona(spark):
    """ONA survey text parse (prclz/utils.py:12-15): '<lat> <lon> <t> <z>'
    tuples; polygon takes (lon, lat)."""
    from pyspark.sql import functions as F

    from prclz_spark import geom as G
    from prclz_spark.functions.st import st_area, st_geomfromona

    txt = "10.0 20.0 0 0;10.0 21.0 0 0;11.0 21.0 0 0;11.0 20.0 0 0;10.0 20.0 0 0"
    df = spark.createDataFrame([(txt,)], "t string")
    row = df.select(st_area(st_geomfromona(F.col("t"))).alias("a"),
                    st_geomfromona(F.col("t")).alias("g")).collect()[0]
    assert abs(row.a - 1.0) < 1e-12
    g = G.wkb_loads(bytes(row.g))
    assert g.kind == G.POLYGON and tuple(g.data[0][0]) == (20.0, 10.0)  # (lon, lat)


def test_read_csv_wkt_malformed_rows_null_geometry(spark, tmp_path):
    """Malformed/empty WKT rows surface as NULL geometry to filter, never
    a job-killing parse exception."""
    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write('block_id,geometry\n'
                'b1,"POLYGON ((0 0, 1 0, 1 1, 0 0))"\n'
                'b2,"NOT A WKT"\n'
                'b3,\n')
    from prclz_spark.sources.geo_io import read_csv_wkt

    rows = {r.block_id: r.geometry for r in read_csv_wkt(spark, p).collect()}
    assert rows["b1"] is not None
    assert rows["b2"] is None and rows["b3"] is None


def test_read_geojson_malformed_geometry_null(spark, tmp_path):
    """Unsupported GeoJSON types and null geometries surface as NULL
    geometry rows, never a parse exception."""
    p = str(tmp_path / "bad.json")
    with open(p, "w") as f:
        f.write(
            '{"type":"Feature","properties":{"osm_id":"a"},"geometry":'
            '{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}}\n'
            '{"type":"Feature","properties":{"osm_id":"b"},"geometry":'
            '{"type":"Banana","coordinates":[]}}\n'
            '{"type":"Feature","properties":{"osm_id":"c"},"geometry":null}\n'
        )
    from prclz_spark.sources.geo_io import read_geojson

    rows = {r.osm_id: r.geometry for r in read_geojson(spark, p, ["osm_id"]).collect()}
    assert rows["a"] is not None
    assert rows["b"] is None and rows["c"] is None
