"""Kernel micro-benchmark: rows (or pairs) per second of the public
``geom.wkb``, ``index.cells``, ``geom.predicates`` and ``geom.clipping``
functions on arrays pinned to the seed, single-threaded in this process."""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import inputs as I

MIN_SECONDS = 0.25  # per kernel; the rate is the median over repetitions
COVER_RES = 9


def _rate(fn, n: int) -> float:
    rates, spent = [], 0.0
    while spent < MIN_SECONDS or len(rates) < 3:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        spent += dt
        rates.append(n / dt)
    return statistics.median(rates)


def kernel_rates(seed: int, n: int = 20_000, n_clip: int = 2_000) -> dict[str, float]:
    from geopandas_spark.geom.clipping import pairwise_intersection
    from geopandas_spark.geom.predicates import (pairwise_distance,
                                                 pairwise_predicate)
    from geopandas_spark.geom.wkb import from_wkb, to_wkb
    from geopandas_spark.index.cells import bbox_cover

    rng = np.random.default_rng([seed, 9])
    polys = I.polygons(rng, n, rect_share=0.5, size=0.003)
    # one point per polygon, about half of them inside it
    px = polys["cx"] + polys["hw"] * (2 * rng.random(n) - 1) * 1.2
    py = polys["cy"] + polys["hw"] * (2 * rng.random(n) - 1) * 1.2
    poly_wkb = np.array(polys["geometry"].to_pylist(), dtype=object)
    pt_wkb = np.array(I.point_wkb(px, py).to_pylist(), dtype=object)
    pb = from_wkb(poly_wkb)
    qb = from_wkb(pt_wkb)
    bb = I.polygon_bounds(polys)
    # clip pairs: each star against a copy shifted by under one radius
    stars = np.nonzero(~polys["is_rect"])[0][:n_clip]
    shift = polys["hw"][stars] * (rng.random(len(stars)) - 0.5)
    sa = from_wkb(poly_wkb[stars])
    sb = from_wkb(np.array(I.ring_wkb(I.star_rings(
        polys["cx"][stars] + shift, polys["cy"][stars] - shift,
        polys["hw"][stars], polys["theta"][stars] + 0.1)).to_pylist(), dtype=object))
    return {
        "geom.wkb.from_wkb_rows_per_s": _rate(lambda: from_wkb(poly_wkb), n),
        "geom.wkb.to_wkb_rows_per_s": _rate(lambda: to_wkb(pb), n),
        "index.cells.bbox_cover_rows_per_s": _rate(
            lambda: bbox_cover(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3],
                               COVER_RES), n),
        "geom.predicates.intersects_pairs_per_s": _rate(
            lambda: pairwise_predicate("intersects", qb, pb), n),
        "geom.predicates.distance_pairs_per_s": _rate(
            lambda: pairwise_distance(qb, pb), n),
        "geom.clipping.intersection_pairs_per_s": _rate(
            lambda: pairwise_intersection(sa, sb), len(stars)),
    }
