"""Quadtree cell index invariants (the engine's global spatial index)."""

import numpy as np

from geopandas_spark.index import cells as C


def test_morton_roundtrip():
    rng = np.random.default_rng(0)
    i = rng.integers(0, 1 << 26, 5000)
    j = rng.integers(0, 1 << 26, 5000)
    m = C.morton_encode(i, j)
    i2, j2 = C.morton_decode(m)
    assert (i == i2).all() and (j == j2).all()
    assert (m >= 0).all()


def test_point_cell_containment():
    rng = np.random.default_rng(1)
    x, y = rng.random(2000), rng.random(2000)
    for res in (0, 4, 12, 26):
        ids = C.point_cell(x, y, res)
        b = C.cell_bounds(ids)
        assert ((x >= b[:, 0]) & (x < b[:, 2]) & (y >= b[:, 1]) & (y < b[:, 3])).all()
        assert (C.cell_res(ids) == res).all()


def test_parent_prefix_range():
    rng = np.random.default_rng(2)
    x, y = rng.random(500), rng.random(500)
    child = C.point_cell(x, y, 10)
    par = C.parent(child, 3)
    # morton prefix property: child morton >> 6 == parent morton
    assert (C.cell_morton(child) >> 6 == C.cell_morton(par)).all()
    pb = C.cell_bounds(par)
    cb = C.cell_bounds(child)
    assert ((cb[:, 0] >= pb[:, 0]) & (cb[:, 2] <= pb[:, 2])).all()


def test_cover_and_compact():
    flat, off = C.bbox_cover(
        np.array([0.0]), np.array([0.0]), np.array([0.999]), np.array([0.999]), 3)
    assert off[1] == 64  # full res-3 grid
    cf, co = C.compact_cover(flat, off)
    assert co[1] == 1 and C.cell_res(cf)[0] == 0  # merges to the root cell


def test_cover_counts_match_cover():
    rng = np.random.default_rng(3)
    minx = rng.random(100) * 0.8
    miny = rng.random(100) * 0.8
    maxx = minx + rng.random(100) * 0.2
    maxy = miny + rng.random(100) * 0.2
    cnt = C.bbox_cover_counts(minx, miny, maxx, maxy, 6)
    flat, off = C.bbox_cover(minx, miny, maxx, maxy, 6)
    assert (np.diff(off) == cnt).all()


def test_cover_contains_geometry_cells():
    """Any point inside the bbox lands in a cover cell (join soundness)."""
    rng = np.random.default_rng(4)
    for _ in range(20):
        x0, y0 = rng.random(2) * 0.5
        w, h = rng.random(2) * 0.3
        flat, off = C.bbox_cover(np.array([x0]), np.array([y0]),
                                 np.array([x0 + w]), np.array([y0 + h]), 7)
        cover = set(flat.tolist())
        px = x0 + rng.random(50) * w
        py = y0 + rng.random(50) * h
        pc = C.point_cell(px, py, 7)
        assert set(pc.tolist()) <= cover


def test_max_cells_guard_lowers_resolution():
    flat, off = C.bbox_cover(
        np.array([0.0]), np.array([0.0]), np.array([1.0]), np.array([1.0]),
        10, max_cells=16)
    assert off[1] <= 16
    assert C.cell_res(flat[:1])[0] < 10


def test_grid_disk():
    c = C.point_cell(np.array([0.5]), np.array([0.5]), 5)
    d1 = C.grid_disk(c, 1)
    assert d1.shape == (1, 9)
    assert len(np.unique(d1)) == 9
    # disk at the domain corner clamps (duplicates allowed)
    corner = C.point_cell(np.array([0.0]), np.array([0.0]), 5)
    dc = C.grid_disk(corner, 1)
    assert len(np.unique(dc)) == 4


def test_pick_resolution():
    # avg bbox 1/16 of the unit domain -> res 4
    assert C.pick_resolution(1 / 16, 1 / 16) == 4
    assert C.pick_resolution(1.0, 1.0) == 0
    assert C.pick_resolution(1e-30, 1e-30) == C.MAX_RES


def test_canonical_cell_is_a_shared_join_cell():
    """The owner cell of an overlapping bbox pair lies in BOTH sides'
    cover plus ancestor chain down to the other side's cover res — the
    cells the pair is joined on — so keeping each pair only in its owner
    cell drops duplicates without losing any pair."""
    rng = np.random.default_rng(11)
    res, max_cells, n = 8, 64, 400
    # a shared point per pair guarantees overlap; a quarter of the bboxes
    # are giant (their cover falls back below res)
    px, py = rng.random(n), rng.random(n)

    def around(giant):
        w = np.where(giant, rng.uniform(0.2, 0.9, (2, n)),
                     rng.uniform(0.0, 0.02, (2, n)))
        f = rng.random((2, n))
        return np.clip(np.column_stack([px - w[0] * f[0], py - w[1] * f[1],
                                        px + w[0] * (1 - f[0]),
                                        py + w[1] * (1 - f[1])]), 0.0, 1.0)

    lbb = around(rng.random(n) < 0.25)
    rbb = around(rng.random(n) < 0.25)
    # edge-touching pairs: the right bbox starts where the left one ends
    t = rng.random(n) < 0.2
    rbb[t, 0] = lbb[t, 2]
    rbb[t, 2] = np.maximum(rbb[t, 2], rbb[t, 0])
    owner = C.canonical_cell(lbb, rbb, res, max_cells=max_cells)

    def joined_cells(bb, other_res):
        flat, off = C.bbox_cover(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3],
                                 res, max_cells=max_cells)
        return [set(C.ancestors(flat[off[i]:off[i + 1]],
                                int(other_res[i])).ravel())
                for i in range(len(bb))]

    lres = C.cover_res(*lbb.T, res, max_cells=max_cells)
    rres = C.cover_res(*rbb.T, res, max_cells=max_cells)
    assert (lres < res).any() and (rres < res).any() and (lres == res).any()
    lcells = joined_cells(lbb, rres)
    rcells = joined_cells(rbb, lres)
    for i in range(n):
        assert owner[i] in lcells[i] and owner[i] in rcells[i], i
    assert (C.cell_res(owner) == np.minimum(lres, rres)).all()
