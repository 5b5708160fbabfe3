"""Distributed sjoin vs brute-force oracle (mirrors
tools/tests/test_sjoin.py semantics pins + benchmarks/sjoin.py shapes)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopandas_spark.geom import wkb as B
from geopandas_spark.geom.predicates import pairwise_predicate
from geopandas_spark.operators.sjoin import sjoin
from tests.conftest import make_points_df, make_triangles_df

NPTS, NTRI = 600, 40


@pytest.fixture(scope="module")
def data(spark):
    pdf, px, py = make_points_df(spark, NPTS, seed=42)
    tdf, tri_wkb = make_triangles_df(spark, NTRI, seed=7)
    pts_wkb = [r["geometry"] for r in
               pdf.select("geometry").orderBy("pid").collect()]
    lb = B.from_wkb(np.repeat(np.array(pts_wkb, dtype=object), NTRI))
    rb = B.from_wkb(np.tile(np.array(tri_wkb, dtype=object), NPTS))
    return pdf, tdf, lb, rb


def brute(lb, rb, pred, distance=None):
    truth = pairwise_predicate(pred, lb, rb, distance).reshape(NPTS, NTRI)
    return set(zip(*np.nonzero(truth)))


@pytest.mark.parametrize("pred", ["intersects", "within", "covered_by", "dwithin"])
def test_points_in_triangles(data, pred, spark):
    pdf, tdf, lb, rb = data
    dist = 0.05 if pred == "dwithin" else None
    out = sjoin(pdf, tdf, predicate=pred, distance=dist,
                left_id="pid", right_id="tid").toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, pred, dist)


def test_reverse_contains(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(tdf, pdf, predicate="contains",
                left_id="tid", right_id="pid").toPandas()
    got = set(zip(out.index_right.astype(int), out.tid.astype(int)))
    assert got == brute(lb, rb, "within")  # pts within tri == tri contains pts


def test_left_join_padding(data, spark):
    pdf, tdf, lb, rb = data
    exp = brute(lb, rb, "intersects")
    out = sjoin(pdf, tdf, how="left", left_id="pid", right_id="tid").toPandas()
    matched = {p for p, _ in exp}
    assert len(out) == len(exp) + (NPTS - len(matched))
    assert out.index_right.isna().sum() == NPTS - len(matched)
    # suffix rule (sjoin.py:193-224): shared columns get _left/_right
    assert "name_left" in out.columns and "name_right" in out.columns
    assert "value_left" in out.columns


def test_right_join(data, spark):
    pdf, tdf, lb, rb = data
    exp = brute(lb, rb, "intersects")
    out = sjoin(pdf, tdf, how="right", left_id="pid", right_id="tid").toPandas()
    matched_tris = {t for _, t in exp}
    assert len(out) == len(exp) + (NTRI - len(matched_tris))
    assert "index_left" in out.columns


def _attr_eq(a, b):
    # Spark join-key equality: null never matches, NaN matches NaN
    if a is None or b is None:
        return False
    if a != a and b != b:
        return True
    return a == b


@pytest.mark.parametrize("how,broadcast_right,two_cols", [
    ("inner", True, False), ("inner", False, False),
    ("left", True, False), ("left", False, False),
    ("left", True, True), ("inner", False, True),
], ids=["inner-broadcast", "inner-cogroup", "left-broadcast",
        "left-cogroup", "two_cols-broadcast", "two_cols-cogroup"])
def test_on_attribute(data, spark, how, broadcast_right, two_cols):
    pdf, tdf, lb, rb = data
    spatial = brute(lb, rb, "intersects")
    # one spatially matched row per side gets a null attribute
    null_p = min(p for p, _ in spatial)
    null_t = max(t for _, t in spatial)
    # parity of id, plus (two_cols) id mod 3 as a double with one NaN per
    # side on a pair that matches spatially and on parity
    nan_p, nan_t = min((p, t) for p, t in spatial
                       if p % 2 == t % 2 and p != null_p and t != null_t)

    def frame(df, id_col, null_id, nan_id):
        df = df.withColumn("par", F.when(F.col(id_col) == null_id, None)
                           .otherwise(F.pmod(id_col, F.lit(2))))
        if two_cols:
            df = df.withColumn("m3", F.when(F.col(id_col) == nan_id,
                                            F.lit(float("nan")))
                               .otherwise(F.pmod(id_col, F.lit(3))
                                          .cast("double")))
        return df

    def attrs(i, null_id, nan_id):
        a = (None if i == null_id else i % 2,)
        if two_cols:
            a += (float("nan") if i == nan_id else float(i % 3),)
        return a

    cols = ["par", "m3"] if two_cols else "par"
    out = sjoin(frame(pdf, "pid", null_p, nan_p),
                frame(tdf, "tid", null_t, nan_t), how=how,
                on_attribute=cols, left_id="pid", right_id="tid",
                broadcast_right=broadcast_right).toPandas()
    exp = {(p, t) for p, t in spatial
           if all(_attr_eq(a, b) for a, b in zip(attrs(p, null_p, nan_p),
                                                 attrs(t, null_t, nan_t)))}
    assert (null_p, null_t) not in exp and len(exp) > 5
    if two_cols:
        assert (nan_p, nan_t) in exp
    hit = out[out.index_right.notna()]
    got = set(zip(hit.pid.astype(int), hit.index_right.astype(int)))
    assert got == exp
    assert len(hit) == len(exp)
    if how == "left":
        # every left row survives; rows without a match are null-padded
        assert set(out.pid.astype(int)) == set(range(NPTS))
        assert len(out) - len(hit) == NPTS - len({p for p, _ in exp})


def test_salted_join_same_result(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                salt_hot_cells=True, hot_cell_threshold=2, salt_factor=4).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_broadcast_same_result(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                broadcast_right=True).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_validation_errors(data, spark):
    pdf, tdf, *_ = data
    with pytest.raises(ValueError, match="`how`"):
        sjoin(pdf, tdf, how="outer")
    with pytest.raises(ValueError, match="`predicate`"):
        sjoin(pdf, tdf, predicate="nope")
    with pytest.raises(ValueError, match="distance"):
        sjoin(pdf, tdf, predicate="dwithin")


def test_mixed_resolution_giant_polygons(spark):
    """Rows whose cover falls back to a coarser res (giant bboxes) must
    still join against fine-res rows via the ancestor-cell path."""
    import pandas as pd
    from geopandas_spark.geom.ragged import GeometryBatchBuilder, POINT, POLYGON

    rng = np.random.default_rng(3)
    px, py = rng.random(300), rng.random(300)
    bld = GeometryBatchBuilder()
    for x, y in zip(px, py):
        bld.add(POINT, [(POINT, [np.array([[x, y]])])])
    pts = B.to_wkb(bld.finish())

    # one polygon covering most of the domain + a few tiny ones
    polys = []
    bld2 = GeometryBatchBuilder()
    ring = np.array([[0.01, 0.01], [0.99, 0.01], [0.99, 0.99],
                     [0.01, 0.99], [0.01, 0.01]])
    bld2.add(POLYGON, [(POLYGON, [ring])])
    for k in range(5):
        x0, y0 = 0.15 * k + 0.05, 0.1
        r = np.array([[x0, y0], [x0 + 0.02, y0], [x0 + 0.02, y0 + 0.02],
                      [x0, y0 + 0.02], [x0, y0]])
        bld2.add(POLYGON, [(POLYGON, [r])])
    polys = B.to_wkb(bld2.finish())

    pdf = spark.createDataFrame(
        pd.DataFrame({"pid": range(300), "geometry": list(pts)}))
    gdf = spark.createDataFrame(
        pd.DataFrame({"gid": range(6), "geometry": list(polys)}))
    # force a fine resolution with a tiny max cover so the giant polygon
    # falls back several levels
    from geopandas_spark.functions import st as ST
    out = sjoin(pdf, gdf, predicate="intersects", left_id="pid",
                right_id="gid", resolution=8).toPandas()
    got = set(zip(out.pid.astype(int), out.gid_right.astype(int) if "gid_right" in out else out.index_right.astype(int)))

    lb = B.from_wkb(np.repeat(np.array(list(pts), dtype=object), 6))
    rb = B.from_wkb(np.tile(np.array(list(polys), dtype=object), 300))
    truth = pairwise_predicate("intersects", lb, rb).reshape(300, 6)
    exp = set(zip(*np.nonzero(truth)))
    assert got == exp
    # exactly one row per matching pair (reference-point dedup)
    assert len(out) == len(exp)


def test_cogroup_same_result(data, spark):
    # broadcast_right=False forces the union-cogroup-by-cell pass
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                broadcast_right=False).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_cogroup_salted_same_result(data, spark):
    # hot-cell salting on the cogroup pass: build rows of hot cells are
    # replicated into salt buckets; result set must be unchanged
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, left_id="pid", right_id="tid",
                broadcast_right=False, salt_hot_cells=True,
                hot_cell_threshold=2, salt_factor=4).toPandas()
    got = set(zip(out.pid.astype(int), out.index_right.astype(int)))
    assert got == brute(lb, rb, "intersects")


def test_cogroup_dwithin_and_left(data, spark):
    pdf, tdf, lb, rb = data
    out = sjoin(pdf, tdf, predicate="dwithin", distance=0.05, how="left",
                left_id="pid", right_id="tid",
                broadcast_right=False).toPandas()
    exp = brute(lb, rb, "dwithin", 0.05)
    matched = {p for p, _ in exp}
    assert len(out) == len(exp) + (NPTS - len(matched))
    got = set(zip(out.loc[out.index_right.notna(), "pid"].astype(int),
                  out.loc[out.index_right.notna(), "index_right"].astype(int)))
    assert got == exp


def test_bucketed_join_no_exchange(data, spark, tmp_path_factory):
    """write_bucketed_cells + sjoin_bucketed: identical pairs to the
    regular sjoin, and the cell equi-join plans WITHOUT a shuffle
    (bucketing satisfies the join distribution — brief: 'bucketing for
    co-located joins')."""
    from geopandas_spark.sources.bucketed import (
        sjoin_bucketed, write_bucketed_cells)

    pdf, tdf = data[0], data[1]
    base = str(tmp_path_factory.mktemp("bkt"))
    write_bucketed_cells(pdf.select("pid", "geometry"), "bkt_pts",
                         base + "/pts", resolution=5, buckets=8)
    write_bucketed_cells(tdf.select("tid", "geometry"), "bkt_tris",
                         base + "/tris", resolution=5, buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = sjoin_bucketed(spark, "bkt_pts", "bkt_tris")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]

        got = sorted((r.pid, r.tid)
                     for r in out.select("pid", "tid").collect())
        ref = sjoin(pdf, tdf, how="inner", predicate="intersects",
                    left_id="pid", right_id="tid")
        exp = sorted((r.pid, r.index_right)
                     for r in ref.select("pid", "index_right").collect())
        assert got == exp and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_pts")
        spark.sql("DROP TABLE IF EXISTS bkt_tris")


def test_bucketed_join_empty_side(data, spark, tmp_path_factory):
    """An empty bucketed table joins to an EMPTY result whose schema is
    identical to the live path's (same _right renames, right geometry
    and cell dropped) — callers can union/write it without branching."""
    from geopandas_spark.sources.bucketed import (
        sjoin_bucketed, write_bucketed_cells)

    pdf, tdf = data[0], data[1]
    base = str(tmp_path_factory.mktemp("bkte"))
    write_bucketed_cells(pdf.select("pid", "geometry"), "bkte_pts",
                         base + "/pts", resolution=5, buckets=8)
    write_bucketed_cells(tdf.select("tid", "geometry").limit(0),
                         "bkte_tris", base + "/tris",
                         resolution=5, buckets=8)
    try:
        out = sjoin_bucketed(spark, "bkte_pts", "bkte_tris")
        live = sjoin_bucketed(spark, "bkte_pts", "bkte_pts")
        assert out.count() == 0
        assert out.columns == ["pid", "geometry", "tid"]
        # live self-join path renames shared cols the same way
        assert live.columns == ["pid", "geometry", "pid_right"]
    finally:
        spark.sql("DROP TABLE IF EXISTS bkte_pts")
        spark.sql("DROP TABLE IF EXISTS bkte_tris")


def _mixed_geoms(seed: int, n: int):
    """Seeded random mixed-type WKB list (points / segments / triangles /
    rects) with ~5% missing rows — adversarial input for the fuzz test."""
    import pandas as pd

    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.ragged import points_batch

    r = np.random.default_rng(seed)
    kinds = r.integers(0, 4, n)
    out: list = []
    for k in kinds:
        if r.random() < 0.05:
            out.append(None)
            continue
        if k == 0:
            x, y = r.random(2)
            out.append(B.to_wkb(points_batch(np.array([x]), np.array([y])))[0])
        elif k == 1:
            x0, y0 = r.random(2)
            dx, dy = (r.random(2) - 0.5) * 0.3
            out.append(B.to_wkb(W.from_wkt(
                [f"LINESTRING ({x0} {y0}, {x0 + dx} {y0 + dy})"]))[0])
        elif k == 2:
            v = r.random((3, 2)) * 0.25 + r.random((1, 2)) * 0.75
            out.append(B.to_wkb(W.from_wkt(
                ["POLYGON ((%f %f, %f %f, %f %f, %f %f))"
                 % (v[0, 0], v[0, 1], v[1, 0], v[1, 1],
                    v[2, 0], v[2, 1], v[0, 0], v[0, 1])]))[0])
        else:
            x0, y0 = r.random(2) * 0.8
            w, h = r.random(2) * 0.2 + 1e-4
            out.append(B.to_wkb(W.from_wkt(
                ["POLYGON ((%f %f, %f %f, %f %f, %f %f, %f %f))"
                 % (x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0)]))[0])
    return out


@pytest.mark.parametrize("seed", [11, 23, 57])
def test_fuzz_mixed_types_vs_brute(seed, spark):
    """Adversarial fuzz: both plan paths (broadcast probe / cogroup) must
    reproduce the brute-force pair set on random mixed-type inputs with
    missing rows (points x segments x triangles x rects)."""
    import pandas as pd

    nl, nr = 70, 50
    lw = _mixed_geoms(seed, nl)
    rw = _mixed_geoms(seed + 1000, nr)
    ldf = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(nl), "geometry": lw}))
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(nr), "geometry": rw}))

    lv = [i for i, w in enumerate(lw) if w is not None]
    rv = [i for i, w in enumerate(rw) if w is not None]
    lb = B.from_wkb(np.repeat(np.array([lw[i] for i in lv], dtype=object), len(rv)))
    rb = B.from_wkb(np.tile(np.array([rw[i] for i in rv], dtype=object), len(lv)))
    truth = pairwise_predicate("intersects", lb, rb, None)
    truth = truth.reshape(len(lv), len(rv))
    exp = sorted((lv[a], rv[b]) for a, b in zip(*np.nonzero(truth)))

    for bcast in (True, False):
        out = sjoin(ldf, rdf, how="inner", predicate="intersects",
                    left_id="lid", right_id="rid", broadcast_right=bcast)
        got = sorted((r.lid, r.index_right)
                     for r in out.select("lid", "index_right").collect())
        assert got == exp, (seed, bcast, len(got), len(exp))


def test_sjoin_overlaps_cross_strips(spark):
    """predicate='overlaps' through the full sjoin plan on long thin
    strips — the geometry family where two rectangles overlap in a
    cross with NO vertex of either inside the other (round-5 kernel
    fix); byte-equal to the brute-force kernel."""
    import numpy as np
    import pandas as pd

    from geopandas_spark.functions.st import st_geomfromtext
    from geopandas_spark.geom import wkt as W
    from geopandas_spark.geom.predicates import pairwise_predicate
    from geopandas_spark.operators.sjoin import sjoin

    rng = np.random.RandomState(77)

    def rect(i):
        x, y = rng.uniform(0, 60, 2)
        if i % 3 == 0:
            w, h = rng.uniform(5, 25), rng.uniform(0.5, 2)
        elif i % 3 == 1:
            w, h = rng.uniform(0.5, 2), rng.uniform(5, 25)
        else:
            w, h = rng.uniform(1, 8), rng.uniform(1, 8)
        return (f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, "
                f"{x} {y + h}, {x} {y}))")

    L = [rect(i) for i in range(60)]
    R = [rect(i + 500) for i in range(60)]
    ldf = spark.createDataFrame(pd.DataFrame({"lid": range(60), "wkt": L})) \
        .select("lid", st_geomfromtext("wkt").alias("geometry"))
    rdf = spark.createDataFrame(pd.DataFrame({"rid": range(60), "wkt": R})) \
        .select("rid", st_geomfromtext("wkt").alias("geometry"))
    got = {(r.lid, r.rid) for r in sjoin(
        ldf, rdf, how="inner", predicate="overlaps",
        left_id="lid", right_id="rid").select("lid", "rid").collect()}
    rb = W.from_wkt(pd.Series(R))
    want = set()
    for i in range(60):
        li = W.from_wkt(pd.Series([L[i]] * 60))
        for j in np.nonzero(pairwise_predicate("overlaps", li, rb))[0]:
            want.add((i, int(j)))
    assert got == want and len(want) > 10
