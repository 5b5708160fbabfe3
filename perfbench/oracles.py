"""Output checks computed without the engine: numpy over the generator's
shape parameters, plus a small hand-written WKB reader.

Each ``check_*`` returns a list of human-readable failures (empty = the
output is correct), so a run can count failed checks against attempted
operations instead of stopping at the first.
"""

from __future__ import annotations

import struct

import numpy as np

from . import inputs as I

# Sampled star intersections are checked against a raster estimate on an
# N x N grid over the pair's bbox intersection. Boundary cells carry the
# raster's error, which stays far below this share of that box's area.
OVERLAY_RASTER_N = 256
OVERLAY_STAR_TOL = 0.01
AREA_RTOL = 1e-9
DIST_ATOL = 1e-9


# ---------------------------------------------------------------------------
# geometry helpers


def grid_pairs(px, py, boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(point index, box index) for every point inside (or on) a box.

    Points are bucketed on a grid whose cell is at least the largest box
    extent, so each box meets at most 2 x 2 cells.
    """
    ext = float(max((boxes[:, 2] - boxes[:, 0]).max(),
                    (boxes[:, 3] - boxes[:, 1]).max(), 1e-9))
    g = max(1, min(4096, int(1.0 / ext)))
    cell = np.clip((px * g).astype(np.int64), 0, g - 1) * g + np.clip(
        (py * g).astype(np.int64), 0, g - 1)
    order = np.argsort(cell, kind="stable")
    sorted_cells = cell[order]
    pi_out, bi_out = [], []
    ix0 = np.clip((boxes[:, 0] * g).astype(np.int64), 0, g - 1)
    iy0 = np.clip((boxes[:, 1] * g).astype(np.int64), 0, g - 1)
    ix1 = np.clip((boxes[:, 2] * g).astype(np.int64), 0, g - 1)
    iy1 = np.clip((boxes[:, 3] * g).astype(np.int64), 0, g - 1)
    for dx in (0, 1):
        for dy in (0, 1):
            cx, cy = ix0 + dx, iy0 + dy
            ok = (cx <= ix1) & (cy <= iy1)
            b = np.nonzero(ok)[0]
            c = cx[b] * g + cy[b]
            lo = np.searchsorted(sorted_cells, c, "left")
            hi = np.searchsorted(sorted_cells, c, "right")
            cnt = hi - lo
            bb = np.repeat(b, cnt)
            start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
            pp = order[start + np.arange(cnt.sum())]
            pi_out.append(pp)
            bi_out.append(bb)
    pi = np.concatenate(pi_out)
    bi = np.concatenate(bi_out)
    inside = ((px[pi] >= boxes[bi, 0]) & (px[pi] <= boxes[bi, 2])
              & (py[pi] >= boxes[bi, 1]) & (py[pi] <= boxes[bi, 3]))
    return pi[inside], bi[inside]


def points_in_rings(px, py, rings: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon, one point per ring: rings float[n, k, 2]."""
    x0, y0 = rings[:, :-1, 0], rings[:, :-1, 1]
    x1, y1 = rings[:, 1:, 0], rings[:, 1:, 1]
    px, py = px[:, None], py[:, None]
    crosses = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return ((crosses & (px < xint)).sum(axis=1) % 2) == 1


def point_ring_distance(px, py, rings: np.ndarray) -> np.ndarray:
    """Distance from each point to its (filled) ring: 0 inside."""
    ax, ay = rings[:, :-1, 0], rings[:, :-1, 1]
    bx, by = rings[:, 1:, 0], rings[:, 1:, 1]
    qx, qy = px[:, None], py[:, None]
    dx, dy = bx - ax, by - ay
    den = dx * dx + dy * dy
    den[den == 0] = 1.0  # zero-length padding edges: t = 0 is their point
    t = np.clip(((qx - ax) * dx + (qy - ay) * dy) / den, 0, 1)
    d = np.hypot(qx - ax - t * dx, qy - ay - t * dy).min(axis=1)
    return np.where(points_in_rings(px, py, rings), 0.0, d)


def all_rings(layer: dict, idx: np.ndarray, k: int) -> np.ndarray:
    """Rings of rows ``idx`` as float[n, k, 2]; rects are padded to k
    vertices by repeating their closing vertex (zero-length edges)."""
    out = np.empty((len(idx), k, 2))
    r = layer["is_rect"][idx]
    ri, si = idx[r], idx[~r]
    if len(ri):
        rr = I.rect_rings(layer["cx"][ri] - layer["hw"][ri],
                          layer["cy"][ri] - layer["hh"][ri],
                          layer["cx"][ri] + layer["hw"][ri],
                          layer["cy"][ri] + layer["hh"][ri])
        out[r, :5] = rr
        out[r, 5:] = rr[:, 4:5]
    if len(si):
        out[~r] = I.star_rings(layer["cx"][si], layer["cy"][si],
                               layer["hw"][si], layer["theta"][si])
    return out


def wkb_polygons(blob: bytes) -> list[list[np.ndarray]]:
    """Polygon / MultiPolygon WKB -> list of polygons, each a list of rings."""
    def poly(off):
        bo = "<" if blob[off] == 1 else ">"
        (nr,) = struct.unpack_from(bo + "I", blob, off + 5)
        off += 9
        rings = []
        for _ in range(nr):
            (npt,) = struct.unpack_from(bo + "I", blob, off)
            off += 4
            xy = np.frombuffer(blob, dtype=bo + "f8", count=2 * npt,
                               offset=off).reshape(npt, 2)
            rings.append(xy)
            off += 16 * npt
        return rings, off

    bo = "<" if blob[0] == 1 else ">"
    (typ,) = struct.unpack_from(bo + "I", blob, 1)
    if typ == 3:
        return [poly(0)[0]]
    if typ == 6:
        (n,) = struct.unpack_from(bo + "I", blob, 5)
        off, out = 9, []
        for _ in range(n):
            rings, off = poly(off)
            out.append(rings)
        return out
    raise ValueError(f"unexpected WKB type {typ}")


def ring_area(xy: np.ndarray) -> float:
    xy = xy - xy[0]  # shoelace about a vertex: no cancellation on slivers
    return 0.5 * abs(float(np.dot(xy[:-1, 0], xy[1:, 1])
                           - np.dot(xy[1:, 0], xy[:-1, 1])))


def wkb_area(blob: bytes) -> float:
    return sum(ring_area(p[0]) - sum(ring_area(h) for h in p[1:])
               for p in wkb_polygons(blob) if p)


def wkb_point(blob: bytes) -> tuple[float, float]:
    bo = "<" if blob[0] == 1 else ">"
    return struct.unpack_from(bo + "dd", blob, 5)


# ---------------------------------------------------------------------------
# checks


def _pair_keys(a, b) -> np.ndarray:
    return np.unique(np.asarray(a, np.int64) * (1 << 31) + np.asarray(b, np.int64))


def sjoin_pairs(pts: dict, polys: dict) -> np.ndarray:
    """Every (pid, gid) with the point in or on the polygon, as sorted keys."""
    pi, gi = grid_pairs(pts["x"], pts["y"], I.polygon_bounds(polys))
    star = ~polys["is_rect"][gi]
    keep = ~star
    if star.any():
        si = np.nonzero(star)[0]
        rings = all_rings(polys, gi[si], I.STAR_VERTS + 1)
        keep[si] = points_in_rings(pts["x"][pi[si]], pts["y"][pi[si]], rings)
    return _pair_keys(pts["id"][pi[keep]], polys["id"][gi[keep]])


def check_sjoin(expected: np.ndarray, pid, gid) -> list[str]:
    got = _pair_keys(pid, gid)
    if len(got) != len(pid):
        return [f"sjoin: {len(pid) - len(got)} duplicate pairs"]
    if len(got) != len(expected) or not np.array_equal(got, expected):
        missing = len(np.setdiff1d(expected, got))
        extra = len(np.setdiff1d(got, expected))
        return [f"sjoin: {missing} pairs missing, {extra} unexpected "
                f"(expected {len(expected)}, got {len(got)})"]
    return []


def nearest_truth(px: float, py: float, polys: dict, boxes: np.ndarray
                  ) -> tuple[float, np.ndarray]:
    """Brute-force nearest polygons of one point: (distance, sorted gids
    within DIST_ATOL of it)."""
    lb = np.hypot(np.maximum(np.maximum(boxes[:, 0] - px, px - boxes[:, 2]), 0),
                  np.maximum(np.maximum(boxes[:, 1] - py, py - boxes[:, 3]), 0))
    order = np.argsort(lb)
    take = 64
    while True:
        idx = order[:take]
        d = point_ring_distance(np.full(len(idx), px), np.full(len(idx), py),
                                all_rings(polys, idx, I.STAR_VERTS + 1))
        best = d.min()
        if take >= len(order) or lb[order[take]] > best + DIST_ATOL:
            break
        take *= 4
    return float(best), np.sort(polys["id"][idx[d <= best + DIST_ATOL]])


def check_nearest(sample: dict, polys: dict, pid, gid, dist) -> list[str]:
    """``sample``: {"id", "x", "y"} of probes to verify by brute force;
    (pid, gid, dist) is the engine's output for all probes."""
    pid, gid, dist = (np.asarray(v) for v in (pid, gid, dist))
    boxes = I.polygon_bounds(polys)
    bad = []
    order = np.argsort(pid, kind="stable")
    spid = pid[order]
    for i, p in enumerate(sample["id"]):
        lo, hi = np.searchsorted(spid, p, "left"), np.searchsorted(spid, p, "right")
        rows = order[lo:hi]
        d, gids = nearest_truth(sample["x"][i], sample["y"][i], polys, boxes)
        if (len(rows) == 0 or not np.array_equal(np.sort(gid[rows]), gids)
                or np.abs(dist[rows] - d).max() > DIST_ATOL):
            bad.append(f"nearest: probe {p}: expected {gids.tolist()} at "
                       f"{d:.12g}, got {gid[rows].tolist()} at "
                       f"{dist[rows].tolist()}")
    return bad[:5] + ([f"nearest: {len(bad)} probes wrong"] if len(bad) > 5 else [])


def overlay_rect_pairs(a: dict, b: dict) -> tuple[np.ndarray, np.ndarray]:
    """Every rect-rect pair with a positive-area intersection: (sorted keys,
    closed-form areas in key order)."""
    ra, rb = np.nonzero(a["is_rect"])[0], np.nonzero(b["is_rect"])[0]
    ba, bb = I.polygon_bounds(a)[ra], I.polygon_bounds(b)[rb]
    # candidate pairs: b's lower-left corner inside a's box grown by b's
    # largest extent
    grow = max((bb[:, 2] - bb[:, 0]).max(), (bb[:, 3] - bb[:, 1]).max())
    big = ba + np.array([-grow, -grow, 0, 0])
    qi, ai = grid_pairs(bb[:, 0], bb[:, 1], big)
    ix = np.minimum(ba[ai, 2], bb[qi, 2]) - np.maximum(ba[ai, 0], bb[qi, 0])
    iy = np.minimum(ba[ai, 3], bb[qi, 3]) - np.maximum(ba[ai, 1], bb[qi, 1])
    pos = (ix > 0) & (iy > 0)
    keys = a["id"][ra[ai[pos]]] * (1 << 31) + b["id"][rb[qi[pos]]]
    area = (ix * iy)[pos]
    o = np.argsort(keys)
    return keys[o], area[o]


def raster_intersection_area(ring_a: np.ndarray, ring_b: np.ndarray
                             ) -> tuple[float, float]:
    """(estimated area of A n B, area of the sampled box)."""
    lo = np.maximum(ring_a.min(0), ring_b.min(0))
    hi = np.minimum(ring_a.max(0), ring_b.max(0))
    if (hi <= lo).any():
        return 0.0, 0.0
    n = OVERLAY_RASTER_N
    h = (hi - lo) / n
    gx, gy = np.meshgrid(lo[0] + h[0] * (np.arange(n) + 0.5),
                         lo[1] + h[1] * (np.arange(n) + 0.5))
    gx, gy = gx.ravel(), gy.ravel()
    ina = points_in_rings(gx, gy, np.broadcast_to(ring_a, (len(gx),) + ring_a.shape))
    inb = points_in_rings(gx, gy, np.broadcast_to(ring_b, (len(gx),) + ring_b.shape))
    return float((ina & inb).sum() * h[0] * h[1]), float(np.prod(hi - lo))


def check_overlay(a: dict, b: dict, rect_truth, id1, id2, geoms,
                  star_sample: np.ndarray) -> list[str]:
    """rect_truth from ``overlay_rect_pairs``; (id1, id2, geoms) the engine
    output; ``star_sample`` row positions of output rows to verify by
    raster (rows where either side is a star)."""
    id1, id2 = np.asarray(id1, np.int64), np.asarray(id2, np.int64)
    bad = []
    keys = id1 * (1 << 31) + id2
    if len(np.unique(keys)) != len(keys):
        bad.append("overlay: duplicate pairs")
    rr = a["is_rect"][id1] & b["is_rect"][id2]
    rows = np.nonzero(rr)[0]
    o = rows[np.argsort(keys[rows])]
    tkeys, tarea = rect_truth
    if not np.array_equal(keys[o], tkeys):
        bad.append(f"overlay: rect pairs differ (expected {len(tkeys)}, "
                   f"got {len(o)})")
    else:
        area = np.array([wkb_area(geoms[i]) for i in o])
        err = np.abs(area - tarea) > AREA_RTOL * np.maximum(tarea, 1e-12)
        if err.any():
            bad.append(f"overlay: {int(err.sum())} rect-pair areas differ "
                       "from the closed form")
    k = I.STAR_VERTS + 1
    for i in star_sample:
        ring_a = all_rings(a, np.array([id1[i]]), k)[0]
        ring_b = all_rings(b, np.array([id2[i]]), k)[0]
        est, box = raster_intersection_area(ring_a, ring_b)
        got = wkb_area(geoms[i])
        if box == 0.0 or abs(got - est) > OVERLAY_STAR_TOL * box:
            bad.append(f"overlay: pair ({id1[i]}, {id2[i]}) area {got:.6g}, "
                       f"raster estimate {est:.6g} over box {box:.6g}")
    return bad
