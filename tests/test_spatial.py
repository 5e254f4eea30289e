"""Golden tests for the spatial pack: general (non-rectangular)
ray-casting, buffered fallback, and nearest-neighbor — shapes the
rect-based oracle queries can't exercise."""

from __future__ import annotations

from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark.operators import spatial as sp

#: right triangle (0,0)-(1,0)-(0,1) as pid 7
TRIANGLE = [(7, [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)])]


def test_ray_cast_triangle(spark):
    pts = spark.createDataFrame(
        [
            (1, 0.2, 0.2),   # inside
            (2, 0.6, 0.6),   # outside (beyond hypotenuse)
            (3, 0.49, 0.49), # inside, near hypotenuse
            (4, 1.5, 0.5),   # far outside
        ],
        ["id", "Longitude", "Latitude"],
    )
    out = {r.id: r for r in sp.assign_clusters(pts, TRIANGLE, buffer_m=0.0).collect()}
    assert out[1].geo_cluster_num == 7
    assert out[2].geo_cluster_num is None
    assert out[3].geo_cluster_num == 7
    assert out[4].geo_not_in_cluster


def test_buffer_fallback(spark):
    # ~30 m west of the triangle's left edge (1 deg lon ~ 111 km at
    # the equator): strict miss, buffered hit at 50 m, miss at 10 m.
    lon_30m = -30.0 / (sp.M_PER_DEG_LON_EQ)
    pts = spark.createDataFrame([(1, lon_30m, 0.5)], ["id", "Longitude", "Latitude"])
    hit = sp.assign_clusters(pts, TRIANGLE, buffer_m=50.0).collect()[0]
    assert hit.geo_cluster_num == 7 and not hit.geo_not_in_cluster
    miss = sp.assign_clusters(pts, TRIANGLE, buffer_m=10.0).collect()[0]
    assert miss.geo_cluster_num is None and miss.geo_not_in_cluster


def test_overlapping_polygons_min_pid(spark):
    two = [
        (9, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]),
        (3, [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]),
    ]
    pts = spark.createDataFrame([(1, 1.5, 1.5)], ["id", "Longitude", "Latitude"])
    out = sp.assign_clusters(pts, two).collect()[0]
    assert out.geo_cluster_num == 3  # overlap -> smallest pid wins


def test_haversine_known_distance(spark):
    # Nairobi (-1.286, 36.817) to Mombasa (-4.044, 39.668) ~ 440 km
    df = spark.range(1).select(
        sp.haversine_m(F.lit(-1.286), F.lit(36.817), F.lit(-4.044), F.lit(39.668)).alias("d")
    )
    d = df.collect()[0].d
    assert 430_000 < d < 450_000


def test_nearest_neighbor_picks_closest(spark):
    pts = spark.createDataFrame([(1, 0.0, 0.0), (2, 0.0, 1.0)], ["id", "lat", "lon"])
    hf = spark.createDataFrame(
        [(10, 0.0, 0.1), (20, 0.0, 0.9)], ["hf_id", "lat", "lon"]
    )
    out = {r.id: r.hf_id for r in sp.nearest_neighbor(pts, hf).collect()}
    assert out == {1: 10, 2: 20}


def _nn_points_facilities(spark):
    pts = spark.createDataFrame(
        [(i, -4.0 + (i % 999) / 1000.0, 39.0 + ((i * 7) % 999) / 1000.0) for i in range(1, 151)],
        ["id", "lat", "lon"],
    )
    hf = spark.createDataFrame(
        [(j, -4.0 + ((j * j) % 97) / 100.0, 39.0 + ((j * 13) % 89) / 100.0) for j in range(1, 21)],
        ["hf_id", "lat", "lon"],
    )
    return pts, hf


def test_bucketed_matches_broadcast(spark):
    pts, hf = _nn_points_facilities(spark)
    base = {(r.id, r.hf_id, r.dist_m) for r in sp.nearest_neighbor(pts, hf).collect()}
    buck = {
        (r.id, r.hf_id, r.dist_m)
        for r in sp.nearest_neighbor_bucketed(pts, hf, cell_m=15000.0, lat_ref=-3.5).collect()
    }
    assert base == buck


def test_bucketed_fallback_path_still_exact(spark):
    # 500 m cells on ~km-spaced facilities: most 3x3 neighborhoods are
    # empty or unprovable -> the broadcast-leftovers fallback carries
    # the load, and results must STILL match the broadcast variant.
    pts, hf = _nn_points_facilities(spark)
    base = {(r.id, r.hf_id, r.dist_m) for r in sp.nearest_neighbor(pts, hf).collect()}
    buck = {
        (r.id, r.hf_id, r.dist_m)
        for r in sp.nearest_neighbor_bucketed(pts, hf, cell_m=500.0, lat_ref=-3.5).collect()
    }
    assert base == buck


def test_bucketed_no_facility_broadcast_in_plan(spark):
    # the point of the bucketed variant: the facility side must not be
    # broadcast — candidates come from the grid equi-join (shuffle),
    # only the leftover POINTS side of the fallback is broadcast.
    pts, hf = _nn_points_facilities(spark)
    plan = sp.nearest_neighbor_bucketed(pts, hf)._jdf.queryExecution().executedPlan().toString()
    # grid candidate join must key on the cell coordinates (cx, cy) —
    # a facility-side broadcast would show a cross/nested-loop join
    # with no cell keys (AQE may still *choose* broadcast at runtime
    # for tiny test inputs; the declared plan must not require it).
    assert "cx" in plan and "cy" in plan


def _polys_df(spark, polys):
    rows = [
        (pid, s, lon, lat)
        for pid, verts in polys
        for s, (lon, lat) in enumerate(verts)
    ]
    return spark.createDataFrame(rows, "pid INT, seq INT, lon DOUBLE, lat DOUBLE")


def test_bucketed_assign_matches_literal(spark):
    # overlapping squares + a triangle: exercises strict min-pid ties,
    # buffered fallback, and true misses through the bucketed path
    polys = [
        (9, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]),
        (3, [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]),
        (7, [(5.0, 5.0), (6.0, 5.0), (5.0, 6.0)]),
    ]
    lon_30m = 5.0 - 30.0 / sp.M_PER_DEG_LON_EQ
    pts = spark.createDataFrame(
        [
            (1, 1.5, 1.5),     # overlap -> min pid 3
            (2, 0.5, 0.5),     # only square 9
            (3, 5.2, 5.2),     # triangle
            (4, lon_30m, 5.5), # 30 m west of triangle edge -> buffered
            (5, 10.0, 10.0),   # nowhere near anything
        ],
        ["id", "Longitude", "Latitude"],
    )
    lit_out = {
        r.id: (r.geo_cluster_num, r.geo_not_in_cluster)
        for r in sp.assign_clusters(pts, polys, buffer_m=50.0).collect()
    }
    buck_out = {
        r.id: (r.geo_cluster_num, r.geo_not_in_cluster)
        for r in sp.assign_clusters_bucketed(
            pts, _polys_df(spark, polys), buffer_m=50.0, cell_m=50000.0
        ).collect()
    }
    assert lit_out == buck_out
    assert buck_out[1] == (3, False)
    assert buck_out[4] == (7, False)
    assert buck_out[5] == (None, True)


def test_nearest_bucket_stats_prices_bad_cell_m(spark):
    # a bad cell_m must be DETECTABLE before the fallback pass runs:
    # 500 m cells on ~km-spaced facilities leave most 3x3 neighborhoods
    # unprovable (high leftover fraction / big priced fallback), while
    # 15 km cells resolve nearly everything in the accept pass
    pts, hf = _nn_points_facilities(spark)
    bad = sp.nearest_bucket_stats(pts, hf, cell_m=500.0, lat_ref=-3.5).collect()[0]
    good = sp.nearest_bucket_stats(pts, hf, cell_m=15000.0, lat_ref=-3.5).collect()[0]
    assert bad.n_points == good.n_points == 150
    assert bad.n_facilities == good.n_facilities == 20
    assert bad.leftover_fraction > good.leftover_fraction
    assert good.leftover_fraction <= 0.2, good
    assert bad.leftover_fraction >= 0.8, bad
    # priced fallback join volume is exactly leftovers x facilities
    assert bad.fallback_pairs == bad.n_leftover * 20
    # the stats row agrees with what the real operator would do:
    # accepted + leftover covers every point exactly once
    out = sp.nearest_neighbor_bucketed(pts, hf, cell_m=500.0, lat_ref=-3.5)
    assert out.count() == 150


def test_nearest_bucket_stats_hot_cell_detection(spark):
    # 30 facilities stacked in one spot + huge cells -> one hot cell
    pts = spark.createDataFrame([(1, -3.5, 39.0)], ["id", "lat", "lon"])
    hf = spark.createDataFrame(
        [(j, -3.5001, 39.0001) for j in range(1, 31)], ["hf_id", "lat", "lon"]
    )
    row = sp.nearest_bucket_stats(pts, hf, cell_m=50000.0, lat_ref=-3.5).collect()[0]
    assert row.max_cell_facilities == 30
