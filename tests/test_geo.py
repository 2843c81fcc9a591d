"""Morton encode/decode + geo distance tests (reference geo_search.rs)."""

from __future__ import annotations

import numpy as np
import pytest

from seekstorm_spark.functions.geo import (
    haversine_km,
    morton_decode,
    morton_encode,
    morton_range_for_radius,
)


def test_morton_roundtrip():
    rng = np.random.default_rng(5)
    lat = rng.uniform(-90, 90, 1000)
    lon = rng.uniform(-180, 180, 1000)
    code = morton_encode(lat, lon)
    la2, lo2 = morton_decode(code)
    # lossy at 10^-7 degrees (the ×10^7 i32 scale)
    assert np.abs(la2 - lat).max() < 1e-6
    assert np.abs(lo2 - lon).max() < 1e-6


def test_morton_locality():
    # nearby points share high bits; distant ones don't
    a = int(morton_encode(np.array([48.8566]), np.array([2.3522]))[0])  # Paris
    b = int(morton_encode(np.array([48.8570]), np.array([2.3530]))[0])  # ~50m away
    c = int(morton_encode(np.array([-33.86]), np.array([151.21]))[0])  # Sydney
    assert (a ^ b).bit_length() < (a ^ c).bit_length()


def test_haversine_known_distance():
    # Paris → London ≈ 344 km
    d = haversine_km(np.array([48.8566]), np.array([2.3522]), 51.5074, -0.1278)
    assert d[0] == pytest.approx(344, abs=5)
    # zero distance
    z = haversine_km(np.array([10.0]), np.array([20.0]), 10.0, 20.0)
    assert z[0] == pytest.approx(0.0, abs=1e-9)


def test_morton_range_covers_radius():
    lat, lon, r = 48.8566, 2.3522, 10.0
    lo, hi = morton_range_for_radius(lat, lon, r)
    # points inside the radius fall inside the Morton range
    rng = np.random.default_rng(9)
    dlat = rng.uniform(-0.05, 0.05, 200)
    dlon = rng.uniform(-0.05, 0.05, 200)
    pts_lat, pts_lon = lat + dlat, lon + dlon
    inside = haversine_km(pts_lat, pts_lon, lat, lon) <= r
    codes = morton_encode(pts_lat, pts_lon)
    assert np.all((codes[inside] >= lo) & (codes[inside] <= hi))


def test_geo_block_skipping_lossless(spark, tmp_path):
    """Format-v4 zone bounds: blocks whose lat/lon min/max fall
    outside the radius boxes drop BEFORE posting decode, and results
    are identical to a brute-force haversine over the corpus."""
    from pyspark.sql import functions as F

    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import (
        _plan,
        _posting_rows,
        search,
    )
    from seekstorm_spark.sources.webtext import synth_webtext

    from pyspark.sql import Window

    bs = 65536
    rn = F.row_number().over(Window.orderBy("url")) - 1
    # block 0 near Paris, block 1 in the south Pacific
    near = (
        synth_webtext(spark, 80, seed=1)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", F.lit(48.0) + F.col("doc_id") / 100.0)
        .withColumn("lon", F.lit(2.0) + F.col("doc_id") / 100.0)
    )
    far = (
        synth_webtext(spark, 80, seed=2)
        .withColumn("doc_id", rn.cast("long") + F.lit(bs))
        .withColumn("lat", F.lit(-40.0))
        .withColumn("lon", F.lit(-140.0))
    )
    docs = near.unionByName(far)
    store = IndexBuilder(
        spark, str(tmp_path / "geoskip"), n_buckets=4,
        facet_cols=["lat", "lon"],
    ).build(docs, text_col="text", id_col="doc_id")

    gf = {"lat": "lat", "lon": "lon", "at": (48.8566, 2.3522),
          "radius_km": 500.0}
    boxes = [(47.0, 50.0)]  # lat interval containing only block 0
    plan = _plan(spark, store, "term00000", "union")
    with_skip, _n = _posting_rows(
        spark, store, [(0, plan)], None, facet_cols=["lat", "lon"],
        block_bounds={"lat": boxes},
    )
    no_skip, _n = _posting_rows(
        spark, store, [(0, plan)], None, facet_cols=["lat", "lon"]
    )
    blocks_with = {r["block_id"] for r in
                   with_skip.select("block_id").distinct().collect()}
    blocks_without = {r["block_id"] for r in
                      no_skip.select("block_id").distinct().collect()}
    assert blocks_without == {0, 1}
    assert blocks_with == {0}  # far block skipped pre-decode

    # end-to-end: skip-enabled search == brute-force haversine rerank
    got = search(
        spark, store, "term00000 term00001", top_k=10,
        default_type="union", geo_filter=gf,
    ).collect()
    from seekstorm_spark.functions.geo import haversine_km
    import numpy as np

    rows = docs.select("doc_id", "lat", "lon").collect()
    coords = {r["doc_id"]: (r["lat"], r["lon"]) for r in rows}
    for r in got:
        la, lo = coords[r["docid"]]
        d = haversine_km(np.array([la]), np.array([lo]), 48.8566, 2.3522)
        assert d[0] <= 500.0
    baseline = search(
        spark, store, "term00000 term00001", top_k=10,
        default_type="union",
    ).collect()
    want = [r["docid"] for r in baseline
            if haversine_km(
                np.array([coords[r["docid"]][0]]),
                np.array([coords[r["docid"]][1]]), 48.8566, 2.3522,
            )[0] <= 500.0]
    assert [r["docid"] for r in got[: len(want)]] == want


def test_point_facet_equals_latlon_pair(spark, tmp_path):
    """A Point facet ([lat, lon] array column — the reference's Point
    type) answers geo filter + distance sort identically to the
    two-numeric-facet form, through ONE interleaved buffer."""
    from pyspark.sql import Window, functions as F

    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import search
    from seekstorm_spark.sources.webtext import synth_webtext

    rn = F.row_number().over(Window.orderBy("url")) - 1
    docs = (
        synth_webtext(spark, 200, seed=3)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", (F.col("doc_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (F.col("doc_id") * 73 % 36000) / 100.0 - 180.0)
    )
    pair = IndexBuilder(
        spark, str(tmp_path / "pair"), n_buckets=4,
        facet_cols=["lat", "lon"],
    ).build(docs, text_col="text", id_col="doc_id")
    point = IndexBuilder(
        spark, str(tmp_path / "point"), n_buckets=4,
        facet_cols=["location"],
    ).build(
        docs.withColumn("location", F.array("lat", "lon")),
        text_col="text", id_col="doc_id",
    )
    assert point.meta["facets"]["location"]["type"] == "point"

    gf_pair = {"lat": "lat", "lon": "lon", "at": (10.0, 20.0),
               "radius_km": 7000.0}
    gf_point = {"point": "location", "at": (10.0, 20.0),
                "radius_km": 7000.0}
    a = search(spark, pair, "term00000 term00001", top_k=10,
               geo_filter=gf_pair).collect()
    b = search(spark, point, "term00000 term00001", top_k=10,
               geo_filter=gf_point).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(b) > 0

    sa = search(spark, pair, "term00000", top_k=10, geo_filter=gf_pair,
                result_sort=[("geo_dist", "asc")]).collect()
    sb = search(spark, point, "term00000", top_k=10, geo_filter=gf_point,
                result_sort=[("geo_dist", "asc")]).collect()
    assert [tuple(r) for r in sa] == [tuple(r) for r in sb]

    # misuse guards
    import pytest as _pytest

    with _pytest.raises(ValueError):
        search(spark, point, "term00000",
               facet_filters={"location": ["x"]})
    with _pytest.raises(ValueError):
        search(spark, point, "term00000",
               result_sort=[("location", "asc")])


def test_morton_facet_equals_point(spark, tmp_path):
    """The PACKED Point form (one u64 Morton code per doc — half the
    buffer bytes) returns the same docids as the f64 pair buffer;
    distances differ only by the i32×10^7 coordinate quantization
    (≤ ~1.1 cm), and sort order agrees on this grid-spaced corpus."""
    import numpy as np
    from pyspark.sql import Window, functions as F

    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import search
    from seekstorm_spark.sources.webtext import synth_webtext

    rn = F.row_number().over(Window.orderBy("url")) - 1
    docs = (
        synth_webtext(spark, 200, seed=3)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", (F.col("doc_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (F.col("doc_id") * 73 % 36000) / 100.0 - 180.0)
        .withColumn("location", F.array("lat", "lon"))
    )
    point = IndexBuilder(
        spark, str(tmp_path / "p"), n_buckets=4, facet_cols=["location"],
    ).build(docs, text_col="text", id_col="doc_id")
    morton = IndexBuilder(
        spark, str(tmp_path / "m"), n_buckets=4, facet_cols=["location"],
        facet_types={"location": "morton"},
    ).build(docs, text_col="text", id_col="doc_id")
    assert morton.meta["facets"]["location"]["type"] == "morton"
    # the packed buffer is half the pair buffer: 8 bytes/doc vs 16
    import pyarrow.parquet as pq
    import glob as _glob

    def buf_bytes(store):
        total = 0
        for f in _glob.glob(store.facets_path + "/facet=location/*.parquet"):
            t = pq.read_table(f, columns=["fvalues"])
            total += sum(len(v.as_py()) for v in t.column("fvalues"))
        return total

    assert buf_bytes(morton) * 2 == buf_bytes(point)

    gf = lambda: {"point": "location", "at": (10.0, 20.0),
                  "radius_km": 7000.0}
    a = search(spark, point, "term00000 term00001", top_k=50,
               geo_filter=gf()).collect()
    b = search(spark, morton, "term00000 term00001", top_k=50,
               geo_filter=gf()).collect()
    assert [r["docid"] for r in a] == [r["docid"] for r in b]
    assert [r["score"] for r in a] == [r["score"] for r in b]
    assert len(b) > 0

    sa = search(spark, point, "term00000", top_k=20, geo_filter=gf(),
                result_sort=[("geo_dist", "asc")]).collect()
    sb = search(spark, morton, "term00000", top_k=20, geo_filter=gf(),
                result_sort=[("geo_dist", "asc")]).collect()
    assert [r["docid"] for r in sa] == [r["docid"] for r in sb]
    da = np.array([r["geo_dist"] for r in sa])
    db = np.array([r["geo_dist"] for r in sb])
    assert np.abs(da - db).max() < 3e-4  # quantization only

    # misuse guards apply to the packed form too
    import pytest as _pytest

    with _pytest.raises(ValueError):
        search(spark, morton, "term00000",
               facet_filters={"location": ["x"]})
    with _pytest.raises(ValueError):
        search(spark, morton, "term00000",
               result_sort=[("location", "asc")])


def test_search_many_per_query_geo_filters(spark, tmp_path):
    """Per-query geo filters in the FUSED batch — pair, interleaved
    point, and packed morton forms each filter their own query against
    the shared buffers, bit-identical to single-query search."""
    from pyspark.sql import Window, functions as F

    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import search, search_many
    from seekstorm_spark.sources.webtext import synth_webtext

    rn = F.row_number().over(Window.orderBy("url")) - 1
    docs = (
        synth_webtext(spark, 200, seed=3)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", (F.col("doc_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (F.col("doc_id") * 73 % 36000) / 100.0 - 180.0)
        .withColumn("location", F.array("lat", "lon"))
        .withColumn("locm", F.array("lat", "lon"))
    )
    store = IndexBuilder(
        spark, str(tmp_path / "multi"), n_buckets=4,
        facet_cols=["lat", "lon", "location", "locm"],
        facet_types={"locm": "morton"},
    ).build(docs, text_col="text", id_col="doc_id")

    at, r_km = (10.0, 20.0), 7000.0
    queries = ["term00000", "term00001", "term00002", "term00003"]
    geos = [
        {"lat": "lat", "lon": "lon", "at": at, "radius_km": r_km},
        {"point": "location", "at": at, "radius_km": r_km},
        {"point": "locm", "at": at, "radius_km": r_km},
        None,
    ]
    batched = search_many(
        spark, store, queries, top_k=20, geo_filters=geos
    ).collect()
    for i, (q, gf) in enumerate(zip(queries, geos)):
        single = [
            (r["docid"], r["score"])
            for r in search(
                spark, store, q, top_k=20, geo_filter=gf
            ).collect()
        ]
        got = sorted(
            ((r["docid"], r["score"]) for r in batched
             if r["query_id"] == i),
            key=lambda x: (-x[1], x[0]),
        )
        assert got == single, q
        assert single, q


def test_geo_miles_unit(spark, tmp_path):
    """radius_mi converts to km internally (reference DistanceUnit);
    geo_dist emits in the requested unit, same docids/order."""
    from pyspark.sql import Window, functions as F

    from seekstorm_spark.functions.geo import KM_PER_MILE
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import search
    from seekstorm_spark.sources.webtext import synth_webtext

    rn = F.row_number().over(Window.orderBy("url")) - 1
    docs = (
        synth_webtext(spark, 120, seed=5)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", (F.col("doc_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (F.col("doc_id") * 73 % 36000) / 100.0 - 180.0)
    )
    store = IndexBuilder(
        spark, str(tmp_path / "mi"), n_buckets=2, facet_cols=["lat", "lon"],
    ).build(docs, text_col="text", id_col="doc_id")
    r_km = 7000.0
    km = search(
        spark, store, "term00000", top_k=15,
        geo_filter={"lat": "lat", "lon": "lon", "at": (10.0, 20.0),
                    "radius_km": r_km},
        result_sort=[("geo_dist", "asc")],
    ).collect()
    mi = search(
        spark, store, "term00000", top_k=15,
        geo_filter={"lat": "lat", "lon": "lon", "at": (10.0, 20.0),
                    "radius_mi": r_km / KM_PER_MILE},
        result_sort=[("geo_dist", "asc")],
    ).collect()
    assert [r["docid"] for r in km] == [r["docid"] for r in mi]
    for a, b in zip(km, mi):
        assert abs(a["geo_dist"] / KM_PER_MILE - b["geo_dist"]) < 1e-9
    with pytest.raises(ValueError, match="not both"):
        search(spark, store, "term00000",
               geo_filter={"lat": "lat", "lon": "lon", "at": (0, 0),
                           "radius_km": 1.0, "radius_mi": 1.0})


def test_count_matches_geo_filter_forms(spark, tmp_path):
    """count_matches(geo_filter=…) counts exactly the docs search
    returns under the same filter — pair, interleaved Point and packed
    Morton forms, radius in km and in miles."""
    from pyspark.sql import Window, functions as F

    from seekstorm_spark.functions.geo import KM_PER_MILE
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.engine import count_matches, search
    from seekstorm_spark.sources.webtext import synth_webtext

    rn = F.row_number().over(Window.orderBy("url")) - 1
    docs = (
        synth_webtext(spark, 200, seed=3)
        .withColumn("doc_id", rn.cast("long"))
        .withColumn("lat", (F.col("doc_id") * 37 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (F.col("doc_id") * 73 % 36000) / 100.0 - 180.0)
        .withColumn("location", F.array("lat", "lon"))
        .withColumn("locm", F.array("lat", "lon"))
    )
    store = IndexBuilder(
        spark, str(tmp_path / "geocount"), n_buckets=4,
        facet_cols=["lat", "lon", "location", "locm"],
        facet_types={"locm": "morton"},
    ).build(docs, text_col="text", id_col="doc_id")

    query = "term00000 term00001"
    total = count_matches(spark, store, query)
    at, r_km = (10.0, 20.0), 7000.0
    forms = (
        {"lat": "lat", "lon": "lon"},
        {"point": "location"},
        {"point": "locm"},
    )
    radii = ({"radius_km": r_km}, {"radius_mi": r_km / KM_PER_MILE})
    for cols in forms:
        for radius in radii:
            gf = {**cols, "at": at, **radius}
            n = count_matches(spark, store, query, geo_filter=gf)
            want = len(
                search(
                    spark, store, query, top_k=100000, geo_filter=gf
                ).collect()
            )
            assert n == want and 0 < want < total, gf
