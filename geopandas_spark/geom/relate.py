"""DE-9IM relate matrix (base.py:4924 ``relate``, :5029 ``relate_pattern``).

Computes the 9-char dimensionally-extended intersection matrix for pairs
of simple Point/Line/Polygon (and multi) geometries using the engine's
exact primitives: point statuses (INSIDE/BOUNDARY/OUTSIDE), line-vs-
polygon clipping, collinear shared paths and segment crossings.

Entries: 'F' (empty), '0', '1', '2' — the dimension of the intersection
of {Interior, Boundary, Exterior} x {Interior, Boundary, Exterior}.
OGC boundaries: Point -> empty; LineString -> its endpoints (closed ring
-> empty); Polygon -> its rings.
"""

from __future__ import annotations

import numpy as np

from .kernels import BOUNDARY, INSIDE, OUTSIDE, points_in_geom
from .ragged import TYPE_DIM, GeometryBatch
from .unary import _geom_rings


def _boundary_points(b: GeometryBatch, g: int) -> np.ndarray:
    """OGC boundary points of a lineal geometry (mod-2 endpoints)."""
    ends: list = []
    for _, r in _geom_rings(b, g):
        if len(r) >= 2 and not (r[0] == r[-1]).all():
            ends.append(tuple(r[0]))
            ends.append(tuple(r[-1]))
    # mod-2 rule: points appearing an odd number of times are boundary
    out = [p for p in set(ends) if ends.count(p) % 2 == 1]
    return np.array(out, dtype=np.float64) if out else np.empty((0, 2))


def _vertices(b: GeometryBatch, g: int) -> np.ndarray:
    off = b.geom_coord_off
    return b.coords[off[g]:off[g + 1]]


def _params_on_line(pts: np.ndarray, line: np.ndarray, seg_len: np.ndarray,
                    cum: np.ndarray) -> np.ndarray:
    """Arc-length parameter of each point (assumed on the polyline): for
    each point pick the nearest original segment, project, and offset by
    the cumulative length."""
    from .kernels import point_segment_dist2

    s0, s1 = line[:-1], line[1:]
    d2 = point_segment_dist2(pts[:, 0], pts[:, 1], s0, s1)
    j = np.argmin(d2, axis=1)
    d = s1[j] - s0[j]
    L2 = (d ** 2).sum(axis=1)
    w = pts - s0[j]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (w * d).sum(axis=1) / np.where(L2 == 0, 1.0, L2)
    t = np.clip(np.where(L2 == 0, 0.0, t), 0.0, 1.0)
    return cum[j] + t * seg_len[j]


def _points_at_params(ts: np.ndarray, line: np.ndarray, seg_len: np.ndarray,
                      cum: np.ndarray) -> np.ndarray:
    """Point on the polyline at each arc-length parameter."""
    j = np.clip(np.searchsorted(cum, ts, side="right") - 1, 0,
                len(seg_len) - 1)
    # land strictly inside a positive-length segment (zero-length
    # segments share their start's cum value)
    with np.errstate(divide="ignore", invalid="ignore"):
        local = (ts - cum[j]) / np.where(seg_len[j] == 0, 1.0, seg_len[j])
    local = np.clip(local, 0.0, 1.0)[:, None]
    return line[j] + local * (line[j + 1] - line[j])


def _line_pieces_vs_polygon(b: GeometryBatch, g: int, pb: GeometryBatch,
                            pg: int):
    """Split g's linework against polygon pg's boundary; return total
    length strictly inside, on the boundary, and strictly outside.

    The clipper is used only to find SPLIT POINTS: collinear boundary
    linework can be emitted in BOTH clip outputs, so summing piece
    lengths directly double-counts it (ADVICE r4). Instead every piece
    endpoint is projected to its arc-length position on the original
    line, the line is cut at the union of those positions, and each
    sub-interval is classified exactly once by its midpoint status."""
    from .boolean import clip_line_rings

    rings = [r for _, r in _geom_rings(pb, pg)]
    L_in = L_on = L_out = 0.0
    for _, line in _geom_rings(b, g):
        if len(line) < 2:
            continue
        seg_len = np.sqrt(((line[1:] - line[:-1]) ** 2).sum(axis=1))
        cum = np.concatenate([[0.0], np.cumsum(seg_len)])
        total = float(cum[-1])
        if total == 0.0:
            continue
        pieces = clip_line_rings(line, rings, keep_inside=True)
        outside = clip_line_rings(line, rings, keep_inside=False)
        verts = [p for p in pieces + outside if len(p)]
        if verts:
            cut_pts = np.vstack(verts)
            cuts = _params_on_line(cut_pts, line, seg_len, cum)
            ts = np.unique(np.concatenate([cuts, cum]))
        else:
            ts = cum
        lo, hi = ts[:-1], ts[1:]
        keep = hi - lo > 0
        lo, hi = lo[keep], hi[keep]
        if not len(lo):
            continue
        mids = _points_at_params((lo + hi) / 2, line, seg_len, cum)
        # boundary-tolerant probe: a float midpoint of linework lying
        # exactly ON the polygon boundary sits a few ulps off it, and a
        # zero-eps status then reads INSIDE/OUTSIDE at random
        # (identical sliver polygons got IB/BE entries — hypothesis).
        # ulp-SCALED band, not 1e-9-relative: the old 1e-9*|coord| band
        # (~1e-2 at projected coords ~1e7) classified genuinely-inside
        # linework of any feature smaller than the band as BOUNDARY
        # (ADVICE r4)
        eps = 64.0 * float(np.spacing(max(1.0, float(np.abs(mids).max()))))
        st = points_in_geom(mids[:, 0], mids[:, 1], pb, pg, eps=eps)
        ln = hi - lo
        L_in += float(ln[st == INSIDE].sum())
        L_on += float(ln[st == BOUNDARY].sum())
        L_out += float(ln[st == OUTSIDE].sum())
    return L_in, L_on, L_out


def _status_multi(pts: np.ndarray, b: GeometryBatch, g: int) -> np.ndarray:
    if len(pts) == 0:
        return np.empty(0, dtype=np.int8)
    return points_in_geom(pts[:, 0], pts[:, 1], b, g)


def _segments(b: GeometryBatch, g: int):
    s0, s1 = [], []
    for _, r in _geom_rings(b, g):
        if len(r) >= 2:
            s0.append(r[:-1])
            s1.append(r[1:])
    if s0:
        return np.vstack(s0), np.vstack(s1)
    return np.empty((0, 2)), np.empty((0, 2))


def _point_line_status(points: np.ndarray, b: GeometryBatch,
                       g: int) -> np.ndarray:
    """INSIDE (line interior) / BOUNDARY (mod-2 endpoint) / OUTSIDE for
    each point vs a lineal geometry."""
    from .kernels import points_on_segments

    st = np.full(len(points), OUTSIDE, dtype=np.int8)
    if len(points) == 0:
        return st
    s0, s1 = _segments(b, g)
    if len(s0):
        on = points_on_segments(points[:, 0], points[:, 1], s0, s1).any(axis=1)
        st[on] = INSIDE
        bp = _boundary_points(b, g)
        if len(bp):
            eq = ((points[:, None, 0] == bp[None, :, 0])
                  & (points[:, None, 1] == bp[None, :, 1])).any(axis=1)
            st[on & eq] = BOUNDARY
    return st


def _lines_cross_dim(a: GeometryBatch, ga: int, bb: GeometryBatch, gb: int):
    """Interior-interior dim for two lineal geoms: '1' when collinear
    overlap exists, '0' when an intersection point lies in BOTH lines'
    interiors (a proper crossing, or a touch at a non-boundary vertex),
    'F' otherwise. A touch at a line's mod-2 endpoint is boundary, not
    interior — it must NOT set II (GEOS: two lines meeting end-to-end
    relate FF1F00102, not 0F1F00102)."""
    from .binary import shared_paths

    import pandas as pd

    from . import wkb as W

    sa = W.from_wkb(pd.Series([W.to_wkb(a.take(np.array([ga])))[0]]))
    sb = W.from_wkb(pd.Series([W.to_wkb(bb.take(np.array([gb])))[0]]))
    sp = shared_paths(sa, sb)
    if len(sp.coords) > 0:
        return "1"
    # proper crossings: strict sign change on both supports — the
    # crossing point is strictly inside both segments, hence interior to
    # both lines (it cannot coincide with any vertex)
    a0, a1 = _segments(a, ga)
    b0, b1 = _segments(bb, gb)
    if len(a0) and len(b0):
        d1 = np.cross((a1 - a0)[:, None, :], (b0[None, :, :] - a0[:, None, :]))
        d2 = np.cross((a1 - a0)[:, None, :], (b1[None, :, :] - a0[:, None, :]))
        d3 = np.cross((b1 - b0)[None, :, :], (a0[:, None, :] - b0[None, :, :]))
        d4 = np.cross((b1 - b0)[None, :, :], (a1[:, None, :] - b0[None, :, :]))
        if ((d1 * d2 < 0) & (d3 * d4 < 0)).any():
            return "0"
    # vertex touches: every remaining intersection point is a vertex of
    # one of the lines; it is interior-interior iff it is interior
    # (on-linework, non-boundary) for BOTH
    pts = np.vstack([_vertices(a, ga), _vertices(bb, gb)])
    if len(pts):
        sta = _point_line_status(pts, a, ga)
        stb = _point_line_status(pts, bb, gb)
        if ((sta == INSIDE) & (stb == INSIDE)).any():
            return "0"
    return "F"


def _covered_length(a: GeometryBatch, ga: int, b: GeometryBatch,
                    gb: int) -> tuple:
    """(total linework length of a, length of a covered by collinear
    segments of b).  Per segment of a, collect the collinear-overlap
    intervals contributed by b's segments, merge them, and sum — so a's
    interior lies in b's exterior iff total - covered > eps."""
    a0, a1 = _segments(a, ga)
    b0, b1 = _segments(b, gb)
    total = 0.0
    covered = 0.0
    for i in range(len(a0)):
        da = a1[i] - a0[i]
        La = float(np.hypot(da[0], da[1]))
        if La == 0.0:
            continue
        total += La
        u = da / La
        ivals = []
        for j in range(len(b0)):
            db = b1[j] - b0[j]
            cross = da[0] * db[1] - da[1] * db[0]
            if cross != 0:
                continue
            w = b0[j] - a0[i]
            if abs(da[0] * w[1] - da[1] * w[0]) > 1e-12 * max(La, 1.0):
                continue
            tb0 = float(np.dot(b0[j] - a0[i], u))
            tb1 = float(np.dot(b1[j] - a0[i], u))
            lo = max(0.0, min(tb0, tb1))
            hi = min(La, max(tb0, tb1))
            if hi > lo:
                ivals.append((lo, hi))
        if ivals:
            ivals.sort()
            cur_lo, cur_hi = ivals[0]
            for lo, hi in ivals[1:]:
                if lo > cur_hi:
                    covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += cur_hi - cur_lo
    return total, covered


def relate_pair(lb: GeometryBatch, ga: int, rb: GeometryBatch, gb: int) -> str:
    """DE-9IM string of (lb[ga], rb[gb])."""
    ta, tb = TYPE_DIM[lb.types[ga]], TYPE_DIM[rb.types[gb]]
    if ta < 0 or tb < 0:
        return "FFFFFFFF2"
    da, db = int(ta), int(tb)

    def _zero_len(bt: GeometryBatch, g: int) -> bool:
        s0, s1 = _segments(bt, g)
        return not len(s0) or float(((s1 - s0) ** 2).sum()) == 0.0

    # a lineal geometry whose linework has zero total length (e.g.
    # LINESTRING (p, p)) is geometrically a point: start == end, so it
    # is closed with an EMPTY boundary — route it through the puntal
    # branches (GEOS parity: same matrix as POINT p)
    if da == 1 and _zero_len(lb, ga):
        da = 0
    if db == 1 and _zero_len(rb, gb):
        db = 0

    # helper statuses
    def status_of(points, target_b, target_g, tdim):
        if len(points) == 0:
            return np.empty(0, dtype=np.int8)
        if tdim == 2:
            return _status_multi(points, target_b, target_g)
        if tdim == 1:
            return _point_line_status(points, target_b, target_g)
        v = _vertices(target_b, target_g)
        st = np.full(len(points), OUTSIDE, dtype=np.int8)
        if len(v):
            eq = ((points[:, None, 0] == v[None, :, 0])
                  & (points[:, None, 1] == v[None, :, 1])).any(axis=1)
            st[eq] = INSIDE
        return st

    M = [["F"] * 3 for _ in range(3)]
    M[2][2] = "2"  # EE

    if da == 0:
        pts = _vertices(lb, ga)
        st = status_of(pts, rb, gb, db)
        M[0][0] = "0" if (st == INSIDE).any() else "F"
        M[0][1] = "0" if (st == BOUNDARY).any() else "F"
        M[0][2] = "0" if (st == OUTSIDE).any() else "F"
        # point has no boundary -> row B all F
        # E row: does B's interior/boundary extend beyond the points? yes
        # unless B is the same point set
        if db == 0:
            vb = _vertices(rb, gb)
            extra = len({tuple(p) for p in vb} - {tuple(p) for p in pts}) > 0
            M[2][0] = "0" if extra else "F"
        else:
            M[2][0] = str(db)
            M[2][1] = "0" if db == 1 and len(_boundary_points(rb, gb)) else (
                "1" if db == 2 else "F")
        return "".join(M[0] + M[1] + M[2])

    if db == 0:
        # transpose of the case above
        m = relate_pair(rb, gb, lb, ga)
        t = [m[0], m[3], m[6], m[1], m[4], m[7], m[2], m[5], m[8]]
        return "".join(t)

    if da == 1 and db == 2:
        L_in, L_on, L_out = _line_pieces_vs_polygon(lb, ga, rb, gb)
        bp = _boundary_points(lb, ga)
        bst = status_of(bp, rb, gb, 2)
        M[0][0] = "1" if L_in > 0 else "F"
        M[0][1] = "1" if L_on > 0 else (
            "0" if _seg_cross_any(lb, ga, rb, gb) else "F")
        M[0][2] = "1" if L_out > 0 else "F"
        M[1][0] = "0" if (bst == INSIDE).any() else "F"
        M[1][1] = "0" if (bst == BOUNDARY).any() else "F"
        M[1][2] = "0" if (bst == OUTSIDE).any() else "F"
        M[2][0] = "2"
        M[2][1] = "1"
        return "".join(M[0] + M[1] + M[2])

    if da == 2 and db == 1:
        m = relate_pair(rb, gb, lb, ga)
        t = [m[0], m[3], m[6], m[1], m[4], m[7], m[2], m[5], m[8]]
        return "".join(t)

    if da == 1 and db == 1:
        ii = _lines_cross_dim(lb, ga, rb, gb)
        # refine: a shared-path overlap means II=1; a pure crossing 0
        bpa = _boundary_points(lb, ga)
        bpb = _boundary_points(rb, gb)
        sta = status_of(bpa, rb, gb, 1)
        stb = status_of(bpb, lb, ga, 1)
        M[0][0] = ii
        M[0][1] = "0" if (stb == INSIDE).any() else "F"
        M[1][0] = "0" if (sta == INSIDE).any() else "F"
        M[1][1] = "0" if (len(bpa) and len(bpb) and (
            (bpa[:, None] == bpb[None, :]).all(axis=2).any())) else "F"
        # IE/EI for lineal pairs: interior of a meets exterior of b iff
        # some of a's linework length is not covered by collinear pieces
        # of b (ADVICE fix — previously hard-coded '1', wrong for equal /
        # covered line pairs).
        tot_a, cov_a = _covered_length(lb, ga, rb, gb)
        tot_b, cov_b = _covered_length(rb, gb, lb, ga)
        eps_a = 1e-9 * max(tot_a, 1.0)
        eps_b = 1e-9 * max(tot_b, 1.0)
        M[0][2] = "1" if tot_a - cov_a > eps_a else "F"
        M[2][0] = "1" if tot_b - cov_b > eps_b else "F"
        M[1][2] = "0" if (sta == OUTSIDE).any() else "F"
        M[2][1] = "0" if (stb == OUTSIDE).any() else "F"
        return "".join(M[0] + M[1] + M[2])

    # polygon x polygon
    from .clipping import _all_poly_rings
    from .boolean import boolean_rings

    ra = _all_poly_rings(lb, ga)[0]
    rbr = _all_poly_rings(rb, gb)[0]
    inter = boolean_rings(ra, rbr, "intersection")
    a_minus_b = boolean_rings(ra, rbr, "difference")
    b_minus_a = boolean_rings(rbr, ra, "difference")
    has_ii = len(inter) > 0
    M[0][0] = "2" if has_ii else "F"
    # boundary relationships: ring linework split at crossings (segment
    # midpoints alone misclassify partially-inside edges)
    L_in_ab, L_on_ab, L_out_ab = _line_pieces_vs_polygon(lb, ga, rb, gb)
    L_in_ba, L_on_ba, L_out_ba = _line_pieces_vs_polygon(rb, gb, lb, ga)
    # float ring-vs-own-polygon clipping leaves sliver residues in the
    # IN/OUT classes when linework genuinely runs ALONG the boundary
    # (identical polygons got IB/BE/EB entries otherwise). Discount a
    # residue-sized in/out share ONLY when a collinear overlap actually
    # exists (L_on dominates); L_on itself is never clamped, and a
    # genuine tiny crossing with no collinear contact survives
    # (ADVICE r4: the unconditional clamp erased real sliver overlaps)
    tol_ab = 1e-9 * max(L_in_ab + L_on_ab + L_out_ab, 1.0)
    tol_ba = 1e-9 * max(L_in_ba + L_on_ba + L_out_ba, 1.0)
    if L_on_ab > tol_ab:
        L_in_ab = 0.0 if L_in_ab <= tol_ab else L_in_ab
        L_out_ab = 0.0 if L_out_ab <= tol_ab else L_out_ab
    if L_on_ba > tol_ba:
        L_in_ba = 0.0 if L_in_ba <= tol_ba else L_in_ba
        L_out_ba = 0.0 if L_out_ba <= tol_ba else L_out_ba
    touch0 = _seg_cross_any(lb, ga, rb, gb) or _touches_pt(lb, ga, rb, gb)
    M[0][1] = "1" if L_in_ba > 0 else "F"
    M[1][0] = "1" if L_in_ab > 0 else "F"
    M[1][1] = "1" if (L_on_ab > 0 or L_on_ba > 0) else ("0" if touch0 else "F")
    M[0][2] = "2" if len(a_minus_b) else "F"
    M[2][0] = "2" if len(b_minus_a) else "F"
    M[1][2] = "1" if L_out_ab > 0 else "F"
    M[2][1] = "1" if L_out_ba > 0 else "F"
    return "".join(M[0] + M[1] + M[2])


def _seg_cross_any(a: GeometryBatch, ga: int, b: GeometryBatch, gb: int) -> bool:
    """Any segment of a intersects any segment of b (touch counts).

    Exact: a ``d_i == 0`` (endpoint collinear with the other support
    line) only counts when that endpoint actually lies ON the other
    segment, and zero-length segments contribute only their point —
    the old version's bare ``d_i == 0`` fired for any collinear-but-
    off-segment endpoint whose bbox overlapped, and for EVERY pair
    involving a zero-length segment (hypothesis findings)."""
    from .kernels import point_segment_dist2

    a0, a1 = _segments(a, ga)
    b0, b1 = _segments(b, gb)
    if not len(a0) or not len(b0):
        return False
    la = ((a1 - a0) ** 2).sum(axis=1)
    lb2 = ((b1 - b0) ** 2).sum(axis=1)
    # zero-length segments: point-vs-segment / point-vs-point contact
    if (la == 0).any():
        p = a0[la == 0]
        if (lb2 > 0).any():
            nb0, nb1 = b0[lb2 > 0], b1[lb2 > 0]
            if (point_segment_dist2(p[:, 0], p[:, 1], nb0, nb1)
                    .min(axis=1) <= 0).any():
                return True
        if (lb2 == 0).any():
            q = b0[lb2 == 0]
            if (p[:, None] == q[None, :]).all(axis=2).any():
                return True
    if (lb2 == 0).any() and (la > 0).any():
        q = b0[lb2 == 0]
        na0, na1 = a0[la > 0], a1[la > 0]
        if (point_segment_dist2(q[:, 0], q[:, 1], na0, na1)
                .min(axis=1) <= 0).any():
            return True
    a0, a1 = a0[la > 0], a1[la > 0]
    b0, b1 = b0[lb2 > 0], b1[lb2 > 0]
    if not len(a0) or not len(b0):
        return False
    d1 = np.cross((a1 - a0)[:, None, :], (b0[None, :, :] - a0[:, None, :]))
    d2 = np.cross((a1 - a0)[:, None, :], (b1[None, :, :] - a0[:, None, :]))
    d3 = np.cross((b1 - b0)[None, :, :], (a0[:, None, :] - b0[None, :, :]))
    d4 = np.cross((b1 - b0)[None, :, :], (a1[:, None, :] - b0[None, :, :]))
    proper = (
        ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    )

    def _on_seg(s0, s1, px, py):
        # collinear point (px,py) within segment s0-s1's bbox
        return (
            (np.minimum(s0[..., 0], s1[..., 0]) <= px)
            & (px <= np.maximum(s0[..., 0], s1[..., 0]))
            & (np.minimum(s0[..., 1], s1[..., 1]) <= py)
            & (py <= np.maximum(s0[..., 1], s1[..., 1]))
        )

    A0 = a0[:, None, :]
    A1 = a1[:, None, :]
    B0 = b0[None, :, :]
    B1 = b1[None, :, :]
    touch = (
        ((d1 == 0) & _on_seg(A0, A1, B0[..., 0], B0[..., 1]))
        | ((d2 == 0) & _on_seg(A0, A1, B1[..., 0], B1[..., 1]))
        | ((d3 == 0) & _on_seg(B0, B1, A0[..., 0], A0[..., 1]))
        | ((d4 == 0) & _on_seg(B0, B1, A1[..., 0], A1[..., 1]))
    )
    return bool((proper | touch).any())


def _touches_pt(lb, ga, rb, gb) -> bool:
    """Any boundary-boundary point contact (vertex on edge)."""
    from .kernels import points_on_segments

    va = _vertices(lb, ga)
    s0, s1 = _segments(rb, gb)
    if len(va) and len(s0):
        if points_on_segments(va[:, 0], va[:, 1], s0, s1).any():
            return True
    vb = _vertices(rb, gb)
    s0, s1 = _segments(lb, ga)
    if len(vb) and len(s0):
        if points_on_segments(vb[:, 0], vb[:, 1], s0, s1).any():
            return True
    return False


def relate(lb: GeometryBatch, rb: GeometryBatch) -> np.ndarray:
    """Pairwise DE-9IM strings (object array)."""
    n = len(lb)
    out = np.empty(n, dtype=object)
    for g in range(n):
        if lb.types[g] == 0 or rb.types[g] == 0:
            out[g] = None
        else:
            out[g] = relate_pair(lb, g, rb, g)
    return out


def matches_pattern(matrix: str, pattern: str) -> bool:
    """DE-9IM pattern match: '*' any, 'T' any non-F, else exact."""
    if matrix is None or len(matrix) != 9 or len(pattern) != 9:
        return False
    for m, p in zip(matrix, pattern.upper()):
        if p == "*":
            continue
        if p == "T":
            if m == "F":
                return False
        elif m != p:
            return False
    return True
