"""overlay — set-theoretic overlay of two polygon frames.

Reference contract (/root/reference/geopandas/tools/overlay.py:89-208,
mode helpers :23-73; QGIS-golden tests tests/test_overlay.py:69-224):

* ``intersection``: one row per crossing pair with BOTH attribute sets and
  geometry = pairwise intersection.
* ``difference``: df1 rows with geometry minus the union of all crossing
  df2 features (df1 columns only).
* ``symmetric_difference``: df1 residuals (df2 attrs NaN) + df2 residuals
  (df1 attrs NaN).
* ``union``: intersection rows + both residual sets.
* ``identity``: intersection rows + df1 residuals.

Physical plan: candidate pairs from the same cell equi-join as sjoin; the
intersection stage is a pairwise Arrow kernel over candidate rows; the
residual stage groups candidates by source row and subtracts the union of
its *neighbors only* (never a global union — that is the distributed trick
that keeps overlay shuffle-light at scale; SURVEY.md §2.4 overlay row).
Rows with no candidates at all pass through untouched via anti-join.

Geometry engine: exact rectilinear boolean / convex clipping fast paths
(geom/clipping.py) with the general Martinez–Rueda sweep
(geom/boolean.py) handling arbitrary polygon pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.st import st_bounds, st_cells, st_is_empty, st_predicate
from ..index.cells import DOMAIN_UNIT
from .sjoin import _estimate_resolution, _prep_side, _suffix_columns

VALID_HOW = ("intersection", "union", "identity", "symmetric_difference", "difference")


def _pairs(df1, df2, geom1, geom2, id1, id2, resolution, domain,
           min1: int | None = None, min2: int | None = None,
           with_intersection: str = "__inter",
           pair_on: str | None = None):
    """Candidate (id1, id2, g1, g2, intersection) pairs via the shuffle
    cell equi-join — the big x big path (small build sides route through
    ``_broadcast_probe_intersection`` instead).

    Shuffle-free dedup via the reference-point rule
    (index/cells.canonical_cell): the SAME
    Arrow pass computes the pairwise intersection geometry into
    ``with_intersection`` (empty -> row dropped), so each pair's WKB is
    parsed exactly once."""
    from .sjoin import _ancestors_udf

    from ..functions.st import st_cells_from_bbox

    def _cover(df, geom):
        # reuse the __bb struct when present (no second WKB decode)
        if "__bb" in df.columns:
            return st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx",
                                      "__bb.maxy", resolution, domain=domain)
        return st_cells(geom, resolution, domain=domain)

    c1 = _cover(df1, geom1)
    c2 = _cover(df2, geom2)
    if min2 is not None and min2 < resolution:
        c1 = _ancestors_udf(min2)(c1)
    if min1 is not None and min1 < resolution:
        c2 = _ancestors_udf(min1)(c2)
    extra1 = [F.col(pair_on)] if pair_on else []
    l1 = df1.select(F.col(id1).alias("__i1"), F.col(geom1).alias("__g1"),
                    F.explode(c1).alias("__cell"), *extra1)
    l2 = df2.select(F.col(id2).alias("__i2"), F.col(geom2).alias("__g2"),
                    F.explode(c2).alias("__cell"), *extra1)
    on_keys = ["__cell"] + ([pair_on] if pair_on else [])
    cand = (
        l1.join(l2, on=on_keys, how="inner")
        .select("__i1", "__i2", "__g1", "__g2", "__cell")
    )
    return (
        cand.withColumn(
            with_intersection,
            _intersection_rp_udf(resolution, domain)(
                F.col("__g1"), F.col("__g2"), F.col("__cell")))
        .filter(F.col(with_intersection).isNotNull())
        .drop("__cell")
    )


def _broadcast_probe_intersection(probe_raw, rcov, i1: str, i2: str,
                                  resolution: int, domain,
                                  anc_down_to: int | None):
    """Broadcast overlay candidate+intersection as ONE probe-side
    ``mapInPandas`` pass — overlay's analogue of sjoin's
    ``_broadcast_probe_refined`` (round-3 scale fix).

    The equi-join formulation carried BOTH geometries' WKB through every
    candidate row, so each Arrow batch re-decoded up to batch-size build
    geometries: measured 30 us/row at sf0.1 (2.7M candidate rows -> 91 s)
    with the whole cost in repeated ``from_wkb`` of the same 10k build
    polygons. Here the build side ships once per worker as the CSR cell
    index + WKB (decoded once per worker process via the shared
    ``_BUILD_CACHE``), the probe streams through a single pass computing
    cover in-kernel, pairs come from sjoin's ``_probe_pairs`` CSR lookup
    (in-kernel (probe, build) dedup — no canonical-cell rule needed), and
    the pairwise intersection runs only on bbox-overlapping pairs.
    Wire traffic: O(|probe| + |build|) in, O(|matches|) out.

    Emits (__i1, __i2, __g1, __g2, __inter) — the same schema as the
    fused ``_pairs`` path, so residual stages are unchanged.
    """
    from .sjoin import _collect_build_index, _load_build, _probe_pairs

    cache_key, bc, _, rid_vals, _ = _collect_build_index(rcov, i2)
    i1_t = dict(probe_raw.dtypes)[i1]
    i2_t = dict(rcov.dtypes)[i2]
    probe = probe_raw.select(F.col(i1).alias("__xi1"), "__g1")

    def fn(it):
        from ..geom.clipping import pairwise_intersection
        from ..geom.kernels import bounds as _bounds
        from ..geom.wkb import from_wkb, to_wkb

        rb_all, rbb, uc, off_, ridx, rwkb = _load_build(cache_key, bc)
        rwkb_arr = np.asarray(rwkb, dtype=object)
        for pdf in it:
            if len(pdf) == 0 or len(uc) == 0:
                continue
            lb = from_wkb(pdf["__g1"])
            lbb = _bounds(lb)
            miss = np.isnan(lbb[:, 0])
            li, ri = _probe_pairs(np.nan_to_num(lbb), miss, rbb, uc, off_,
                                  ridx, resolution, domain, anc_down_to)
            if not len(li):
                continue
            res = pairwise_intersection(lb.take(li), rb_all.take(ri))
            nonempty = res.n_coords_per_geom() > 0
            if not nonempty.any():
                continue
            k = np.nonzero(nonempty)[0]
            li = li[k]
            ri = ri[k]
            w = to_wkb(res.take(k))
            lids = pdf["__xi1"].to_numpy()
            lws = pdf["__g1"].to_numpy(dtype=object)
            yield pd.DataFrame({
                "__i1": lids[li],
                "__i2": rid_vals[ri],
                "__g1": lws[li],
                "__g2": rwkb_arr[ri],
                "__inter": list(w),
            })

    return probe.mapInPandas(
        fn, schema=(f"__i1 {i1_t}, __i2 {i2_t}, __g1 binary, "
                    "__g2 binary, __inter binary"))


def _intersection_rp_udf(resolution: int, domain):
    """Fused reference-point dedup + pairwise intersection + empty->NULL.

    One Arrow pass over the raw cell-join candidates replaces three
    (predicate refine, intersection, is_empty filter) — the WKB of each
    pair is parsed exactly once. NULL result = duplicate candidate OR
    empty intersection; callers filter isNotNull."""

    @pandas_udf("binary")
    def _f(g1: pd.Series, g2: pd.Series, cell: pd.Series) -> pd.Series:
        from ..geom import wkb as B
        from ..geom.clipping import pairwise_intersection
        from ..geom.kernels import bounds
        from ..index import cells as C

        # decode unique WKB once, gather (candidate batches repeat the
        # build-side geometry across many pairs — same trick as sjoin)
        lcod, luniq = pd.factorize(g1, use_na_sentinel=False)
        rcod, runiq = pd.factorize(g2, use_na_sentinel=False)
        lb = B.from_wkb(pd.Series(luniq))
        rb = B.from_wkb(pd.Series(runiq))
        if len(luniq) != len(g1):
            lb = lb.take(lcod)
        if len(runiq) != len(g2):
            rb = rb.take(rcod)
        lbb = np.nan_to_num(bounds(lb))
        rbb = np.nan_to_num(bounds(rb))
        keep = C.canonical_cell(lbb, rbb, resolution,
                                domain) == cell.to_numpy(dtype=np.int64)
        # bbox-overlap prefilter: disjoint bboxes cannot intersect
        keep &= (
            (lbb[:, 0] <= rbb[:, 2]) & (rbb[:, 0] <= lbb[:, 2])
            & (lbb[:, 1] <= rbb[:, 3]) & (rbb[:, 1] <= lbb[:, 3])
        )
        out = np.full(len(g1), None, dtype=object)
        idx = np.nonzero(keep)[0]
        if len(idx):
            res = pairwise_intersection(lb.take(idx), rb.take(idx))
            nonempty = res.n_coords_per_geom() > 0
            w = B.to_wkb(res.take(np.nonzero(nonempty)[0]))
            out[idx[nonempty]] = w
        return pd.Series(out)

    return _f


def _difference_vs_union_udf():
    """geom minus union(neighbors): binary, array<binary> -> binary."""

    @pandas_udf("binary")
    def _f(g: pd.Series, others: pd.Series) -> pd.Series:
        from ..geom import wkb as B
        from ..geom.clipping import (
            polygons_rectilinear, rectilinear_boolean,
        )
        from ..geom.ragged import GeometryBatchBuilder, POLYGON, MULTIPOLYGON

        out = []
        for wkb_g, arr in zip(g, others):
            if wkb_g is None:
                out.append(None)
                continue
            batch = B.from_wkb([wkb_g] + [a for a in arr if a is not None])
            base = polygons_rectilinear(batch, 0)
            general = base is None or any(
                polygons_rectilinear(batch, k) is None
                for k in range(1, len(batch)))
            if general:
                # arbitrary polygons: Martinez-Rueda difference vs each
                # intersecting neighbor in turn
                from ..geom.boolean import boolean_rings, group_rings
                from ..geom.clipping import _all_poly_rings

                cur = _all_poly_rings(batch, 0)[0]
                for k in range(1, len(batch)):
                    cur = boolean_rings(cur, _all_poly_rings(batch, k)[0],
                                        "difference")
                    if not cur:
                        break
            else:
                cur = base
                for k in range(1, len(batch)):
                    sub = polygons_rectilinear(batch, k)
                    polys = rectilinear_boolean(cur, sub, "difference")
                    cur = [ring for rings in polys for ring in rings]
                    if not cur:
                        break
            bld = GeometryBatchBuilder()
            if not cur:
                bld.add(POLYGON, [(POLYGON, [])])
            elif general:
                from ..geom.boolean import group_rings

                polys = group_rings(cur)
                if not polys:
                    bld.add(POLYGON, [(POLYGON, [])])
                elif len(polys) == 1:
                    bld.add(POLYGON, [(POLYGON, polys[0])])
                else:
                    bld.add(MULTIPOLYGON, [(POLYGON, r) for r in polys])
            else:
                polys = rectilinear_boolean(cur, cur, "intersection")
                if not polys:
                    bld.add(POLYGON, [(POLYGON, [])])
                elif len(polys) == 1:
                    bld.add(POLYGON, [(POLYGON, polys[0])])
                else:
                    bld.add(MULTIPOLYGON, [(POLYGON, r) for r in polys])
            out.append(B.to_wkb(bld.finish())[0])
        return pd.Series(out)

    return _f


def overlay_candidates(
    df1: DataFrame,
    df2: DataFrame,
    geom: str = "geometry",
    id1: str | None = None,
    id2: str | None = None,
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
) -> DataFrame:
    """Exact bbox-overlap candidate pair set of an overlay — the
    SQL-reproducible stage of the overlay plan.

    Runs the same prep, bbox-stats, resolution pick, cover generation and
    min-res ancestor chains as ``overlay`` but stops at the envelope
    test: one row per (df1, df2) pair whose bounding boxes overlap or
    touch, with the envelope-intersection bounds
    (``iminx/iminy/imaxx/imaxy``). Every emitted value is closed-form
    over the input bboxes, so an external SQL engine can reproduce the
    full result hash — auditing the candidate machinery (cover
    resolution, ancestor chains, the distributed cell equi-join) that
    the general-polygon intersection kernel rides on; the intersection
    areas themselves have no closed form and stay pinned by the
    GH-vs-sweep parity tests (tests/test_unary_binary.py).

    Scale: the shuffle carries (id, bbox struct, cell) rows only — no
    geometry WKB moves — and the final pair set is deduped on the id
    pair (the candidate multiplicity per pair is bounded by the
    ancestor-chain depth, a small constant).
    """
    from ..functions.st import st_cells_from_bbox
    from .sjoin import _ancestors_udf, _bbox_stats, _min_cover_res

    df1p, i1 = _prep_side(df1, geom, id1, "o1")
    df2p, i2 = _prep_side(df2, geom, id2, "o2")
    stats = _bbox_stats(df1p, df2p)
    if resolution is None:
        resolution = _estimate_resolution(stats, domain)
    min1 = _min_cover_res(stats[0], resolution, domain)
    min2 = _min_cover_res(stats[1], resolution, domain)

    def _cov(df):
        return st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx",
                                  "__bb.maxy", resolution, domain=domain)

    c1, c2 = _cov(df1p), _cov(df2p)
    if min2 < resolution:
        c1 = _ancestors_udf(min2)(c1)
    if min1 < resolution:
        c2 = _ancestors_udf(min1)(c2)
    l1 = df1p.select(F.col(i1), F.col("__bb").alias("__bb1"),
                     F.explode(c1).alias("__cell"))
    l2 = df2p.select(F.col(i2), F.col("__bb").alias("__bb2"),
                     F.explode(c2).alias("__cell"))
    pairs = (
        l1.join(l2, on="__cell", how="inner")
        .filter((F.col("__bb1.minx") <= F.col("__bb2.maxx"))
                & (F.col("__bb2.minx") <= F.col("__bb1.maxx"))
                & (F.col("__bb1.miny") <= F.col("__bb2.maxy"))
                & (F.col("__bb2.miny") <= F.col("__bb1.maxy")))
        .dropDuplicates([i1, i2])
    )
    return pairs.select(
        F.col(i1), F.col(i2),
        F.greatest("__bb1.minx", "__bb2.minx").alias("iminx"),
        F.greatest("__bb1.miny", "__bb2.miny").alias("iminy"),
        F.least("__bb1.maxx", "__bb2.maxx").alias("imaxx"),
        F.least("__bb1.maxy", "__bb2.maxy").alias("imaxy"),
    )


def _residuals(src: DataFrame, pairs: DataFrame, src_id: str, other_geom_col: str,
               own_id_col: str, geom: str) -> DataFrame:
    """src rows minus the union of their intersecting counterparts; rows
    with no counterpart pass through unchanged."""
    nb = (
        pairs.groupBy(own_id_col)
        .agg(F.collect_list(other_geom_col).alias("__others"))
        .withColumnRenamed(own_id_col, src_id)
    )
    joined = src.join(nb, on=src_id, how="left")
    diffed = joined.withColumn(
        geom,
        F.when(F.col("__others").isNull(), F.col(geom)).otherwise(
            _difference_vs_union_udf()(F.col(geom), F.col("__others"))
        ),
    ).drop("__others")
    return diffed.filter(~st_is_empty(geom) & F.col(geom).isNotNull())


def overlay(
    df1: DataFrame,
    df2: DataFrame,
    how: str = "intersection",
    geom: str = "geometry",
    id1: str | None = None,
    id2: str | None = None,
    lsuffix: str = "1",
    rsuffix: str = "2",
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
    keep_geom_type: bool = True,
    make_valid: bool = True,
    pair_on: str | None = None,
) -> DataFrame:
    """pair_on (scale extension, no reference analogue — the sjoin
    counterpart is ``on_attribute``, ref tools/sjoin.py:62): restrict
    candidate pairs to rows whose ``pair_on`` column values are EQUAL,
    pushed into the cell equi-join as an extra join key. Use when the
    overlay is keyed (per-tile, per-region, per-entity): a spatially
    dense workload whose logical pairs are keyed otherwise pays the
    full cross-key candidate cost only to discard it (measured 137x
    candidate inflation on the dart gate query). pair_on always rides
    the shuffle plan: the equi-join on (cell, pair_on) never generates
    a cross-key candidate, while a broadcast probe would generate every
    cell-sharing pair first and drop the cross-key ones after — paying
    exactly the inflation pair_on exists to avoid."""
    if how not in VALID_HOW:
        raise ValueError(f"`how` was {how!r} but is expected to be in {VALID_HOW}")
    if pair_on is not None and (pair_on not in df1.columns
                                or pair_on not in df2.columns):
        raise ValueError(f"pair_on column {pair_on!r} must exist in both "
                         "frames")
    if make_valid:
        # reference contract (tools/overlay.py:89-208): repair invalid
        # inputs before overlaying. The kernel passes valid rows through,
        # so the cost is one validity scan per side; pass make_valid=False
        # to skip when inputs are known-clean (the reference would raise
        # on invalid rows in that mode — at scale we skip the check
        # entirely rather than run it just to raise).
        from ..functions.st import st_make_valid

        df1 = df1.withColumn(geom, st_make_valid(geom))
        df2 = df2.withColumn(geom, st_make_valid(geom))
    df1p, i1 = _prep_side(df1, geom, id1, "o1")
    df2p, i2 = _prep_side(df2, geom, id2, "o2")
    from .sjoin import _bbox_stats, _min_cover_res

    stats = _bbox_stats(df1p, df2p)
    if resolution is None:
        resolution = _estimate_resolution(stats, domain)
    min1 = _min_cover_res(stats[0], resolution, domain)
    min2 = _min_cover_res(stats[1], resolution, domain)
    df1c = df1p.drop("__bb")
    df2c = df2p.drop("__bb")

    # pairs rows = intersecting pairs, with the intersection geometry
    # already computed in the same Arrow pass (empty intersections — pure
    # touches — are dropped; subtracting a touching neighbor is a no-op,
    # so the residual stages are unaffected)
    from .sjoin import BROADCAST_EXPLODED_ROWS, _est_exploded

    if pair_on is None and 0 < stats[1]["n"] and _est_exploded(
            stats[1], resolution, domain) <= BROADCAST_EXPLODED_ROWS:
        # small build side: single probe-side pass — no join, no explode,
        # no per-batch build re-decode (see _broadcast_probe_intersection)
        from .sjoin import _ancestors_udf
        from ..functions.st import st_cells_from_bbox

        rcov = df2p.select(
            F.col(i2), F.col(geom).alias("__rgeom"),
            st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx",
                               "__bb.maxy", resolution,
                               domain=domain).alias("__cells"))
        if min1 < resolution:  # probe may emit coarse rows -> build chains
            rcov = rcov.withColumn(
                "__cells", _ancestors_udf(min1)(F.col("__cells")))
        from .sjoin import _widen

        probe_raw = _widen(df1p.select(F.col(i1), F.col(geom).alias("__g1")))
        pairs = _broadcast_probe_intersection(
            probe_raw, rcov, i1, i2, resolution, domain,
            min2 if min2 < resolution else None)
    else:
        pairs = _pairs(df1p, df2p, geom, geom, i1, i2, resolution, domain,
                       min1, min2, with_intersection="__inter",
                       pair_on=pair_on)
    pairs = pairs.localCheckpoint(eager=False)

    auto1, auto2 = id1 is None, id2 is None
    d1cols = [c for c in df1c.columns if not (auto1 and c == i1)]
    d2cols = [c for c in df2c.columns if not (auto2 and c == i2) and c != geom]
    m1, m2 = _suffix_columns(df1c.select(d1cols), df2c.select(d2cols),
                             lsuffix, rsuffix, exclude={geom})
    f1 = df1c.select(*[F.col(c).alias(m1.get(c, c)) for c in d1cols],
                     F.col(i1).alias("__I1"))
    f2 = df2c.select(*[F.col(c).alias(m2.get(c, c)) for c in d2cols],
                     F.col(i2).alias("__I2"))

    pieces = []
    if how in ("intersection", "union", "identity"):
        inter = pairs.withColumn(geom, F.col("__inter"))
        inter_full = (
            inter.select(F.col("__i1").alias("__I1"), F.col("__i2").alias("__I2"), geom)
            .join(f1.drop(m1.get(geom, geom)), on="__I1", how="left")
            .join(f2, on="__I2", how="left")
        )
        pieces.append(inter_full)
    if how in ("union", "identity", "symmetric_difference", "difference"):
        res1 = _residuals(df1c, pairs, i1, "__g2", "__i1", geom)
        res1 = res1.select(*[F.col(c).alias(m1.get(c, c)) for c in d1cols],
                           F.col(i1).alias("__I1"))
        if how != "difference":  # difference keeps df1 columns only
            res1 = res1.withColumn("__I2", F.lit(None).cast("long"))
            for c in [m2.get(c, c) for c in d2cols]:
                res1 = res1.withColumn(c, F.lit(None))
        pieces.append(res1)
    if how in ("union", "symmetric_difference"):
        res2 = _residuals(df2c, pairs, i2, "__g1", "__i2", geom)
        res2 = res2.select(*[F.col(c).alias(m2.get(c, c)) for c in d2cols],
                           F.col(geom), F.col(i2).alias("__I2"))
        res2 = res2.withColumn("__I1", F.lit(None).cast("long"))
        for c in [m1.get(c, c) for c in d1cols if c != geom]:
            res2 = res2.withColumn(c, F.lit(None))
        pieces.append(res2)

    if how == "difference":
        out = pieces[0].drop("__I1", "__I2")
        return out

    base = pieces[0]
    for p in pieces[1:]:
        base = base.unionByName(p.select(base.columns), allowMissingColumns=True)
    out = base.drop("__I1", "__I2")
    if keep_geom_type:
        from ..functions.st import st_geometry_type

        out = out.filter(st_geometry_type(geom).isin("Polygon", "MultiPolygon"))
    return out
