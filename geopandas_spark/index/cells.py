"""Quadtree cell index ("qcell") — the engine's distributed spatial index.

Replaces the reference's driver-side STRtree (sindex.py:11-24) with a
*global* index that survives distribution: every geometry gets a cover of
quadtree cells; a spatial join becomes an equi-join on cell ids (SURVEY.md
§2.4, §4). Analogous to H3/S2 cell covers, built from scratch in numpy
(no native libs in this environment).

Cell id layout (int64, always positive):
    id = (res << 56) | morton
    res    in [0, 26]
    morton = bit-interleave(i, j), i = column, j = row at 2^res grid
             over a configurable rectangular domain.

Properties used by the engine:
* parent(id)    = ((res-1) << 56) | (morton >> 2)
* children(id)  = morton*4 + {0,1,2,3} at res+1
* all descendants of a cell at res r' occupy one contiguous morton range
  -> Parquet/Iceberg-style min/max pruning works on the raw int64 column.
* neighbors via de-interleave, +-1, clamp (grid_disk for kNN ring search).

All functions are vectorized numpy over arrays of points/boxes/ids.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_RES_SHIFT = 56
_MORTON_MASK = (1 << _RES_SHIFT) - 1

DOMAIN_UNIT = (0.0, 0.0, 1.0, 1.0)
DOMAIN_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _spread_bits32(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of v so there is a 0 bit between each
    (uint64 in/out) — standard Morton magic numbers."""
    v = v.astype(np.uint64)
    v &= np.uint64((1 << 28) - 1)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits32(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    return (_spread_bits32(i) | (_spread_bits32(j) << np.uint64(1))).astype(np.int64)


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = m.astype(np.uint64)
    return (
        _compact_bits32(m).astype(np.int64),
        _compact_bits32(m >> np.uint64(1)).astype(np.int64),
    )


def _grid_ij(x, y, res: int, domain) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = domain
    n = 1 << res
    fx = (np.asarray(x, dtype=np.float64) - x0) / (x1 - x0)
    fy = (np.asarray(y, dtype=np.float64) - y0) / (y1 - y0)
    i = np.clip(np.floor(fx * n).astype(np.int64), 0, n - 1)
    j = np.clip(np.floor(fy * n).astype(np.int64), 0, n - 1)
    return i, j


def pack(res: int, morton: np.ndarray) -> np.ndarray:
    return (np.int64(res) << np.int64(_RES_SHIFT)) | morton


def cell_res(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.int64) >> np.int64(_RES_SHIFT)).astype(np.int8)


def cell_morton(ids: np.ndarray) -> np.ndarray:
    return np.asarray(ids, dtype=np.int64) & np.int64(_MORTON_MASK)


def point_cell(x, y, res: int, domain=DOMAIN_UNIT) -> np.ndarray:
    """Cell of each point at res (vectorized)."""
    i, j = _grid_ij(x, y, res, domain)
    return pack(res, morton_encode(i, j))


def cell_ij(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (res, i, j) arrays."""
    r = cell_res(ids)
    i, j = morton_decode(cell_morton(ids))
    return r, i, j


def cell_bounds(ids: np.ndarray, domain=DOMAIN_UNIT) -> np.ndarray:
    """(n,4) minx,miny,maxx,maxy of each cell."""
    x0, y0, x1, y1 = domain
    r, i, j = cell_ij(np.asarray(ids, dtype=np.int64))
    n = (np.int64(1) << r.astype(np.int64)).astype(np.float64)
    w = (x1 - x0) / n
    h = (y1 - y0) / n
    return np.column_stack([x0 + i * w, y0 + j * h, x0 + (i + 1) * w, y0 + (j + 1) * h])


def parent(ids: np.ndarray, steps: int = 1) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.int64)
    r = cell_res(ids).astype(np.int64)
    m = cell_morton(ids) >> np.int64(2 * steps)
    return ((r - steps) << np.int64(_RES_SHIFT)) | m


def ancestors(ids: np.ndarray, min_res: int = 0) -> np.ndarray:
    """(n, r-min_res+1) ancestor chain including self down to min_res.

    Used by the hierarchical join strategy: probe-side rows join against
    compact (mixed-res) build covers by matching any ancestor.
    """
    ids = np.asarray(ids, dtype=np.int64)
    r = int(cell_res(ids[:1])[0]) if len(ids) else 0
    cols = [ids]
    for s in range(1, r - min_res + 1):
        cols.append(parent(ids, s))
    return np.column_stack(cols)


def grid_disk(ids: np.ndarray, k: int = 1) -> np.ndarray:
    """(n, (2k+1)^2) neighbor cells within Chebyshev distance k (clamped at
    the domain edge -> duplicates possible; callers dedupe). Same role as
    h3.grid_disk in the kNN ring expansion (SURVEY.md §2.4 sjoin_nearest)."""
    ids = np.asarray(ids, dtype=np.int64)
    r, i, j = cell_ij(ids)
    n = (np.int64(1) << r.astype(np.int64))
    offs = np.arange(-k, k + 1, dtype=np.int64)
    oi = np.repeat(offs, 2 * k + 1)
    oj = np.tile(offs, 2 * k + 1)
    ii = np.clip(i[:, None] + oi[None, :], 0, (n - 1)[:, None])
    jj = np.clip(j[:, None] + oj[None, :], 0, (n - 1)[:, None])
    m = morton_encode(ii.ravel(), jj.ravel()).reshape(ii.shape)
    return (r.astype(np.int64)[:, None] << np.int64(_RES_SHIFT)) | m


def bbox_cover_counts(minx, miny, maxx, maxy, res: int, domain=DOMAIN_UNIT):
    """Number of res-level cells covering each bbox (vectorized) — used for
    adaptive-resolution planning and as a pure-SQL-checkable quantity."""
    i0, j0 = _grid_ij(minx, miny, res, domain)
    i1, j1 = _grid_ij(maxx, maxy, res, domain)
    return (i1 - i0 + 1) * (j1 - j0 + 1)


def cover_res(minx, miny, maxx, maxy, res: int, domain=DOMAIN_UNIT,
              max_cells: int = 4096) -> np.ndarray:
    """Per-row cover resolution: ``res`` unless the bbox would need more
    than ``max_cells`` cells, in which case the row falls back to coarser
    levels (deterministic — the refine stage recomputes this to find the
    canonical dedup cell of a candidate pair)."""
    i0, j0 = _grid_ij(minx, miny, res, domain)
    i1, j1 = _grid_ij(maxx, maxy, res, domain)
    counts = (i1 - i0 + 1) * (j1 - j0 + 1)
    res_row = np.full(len(i0), res, dtype=np.int64)
    while (counts > max_cells).any():
        over = counts > max_cells
        res_row[over] -= 1
        sh = np.where(over, 1, 0)
        i0 = i0 >> sh
        i1 = i1 >> sh
        j0 = j0 >> sh
        j1 = j1 >> sh
        counts = (i1 - i0 + 1) * (j1 - j0 + 1)
    return res_row


def canonical_cell(lbb: np.ndarray, rbb: np.ndarray, res: int,
                   domain=DOMAIN_UNIT, max_cells: int = 4096) -> np.ndarray:
    """Owner cell of each candidate pair (reference-point rule).

    ``lbb``/``rbb`` are (n, 4) bboxes of the pair's two rows, as covered
    (dwithin callers pass the padded probe bbox). A pair that shares k
    cover cells is kept exactly once: in the cell, at the pair's coarser
    per-row cover res, containing (max(minx), max(miny)) of the two
    bboxes. That point lies in both bboxes, and each side also emits its
    ancestor chain down to the other side's min res, so the owner cell is
    always among the cells the pair was joined on."""
    rc = np.minimum(
        cover_res(lbb[:, 0], lbb[:, 1], lbb[:, 2], lbb[:, 3], res, domain,
                  max_cells),
        cover_res(rbb[:, 0], rbb[:, 1], rbb[:, 2], rbb[:, 3], res, domain,
                  max_cells))
    rx = np.maximum(lbb[:, 0], rbb[:, 0])
    ry = np.maximum(lbb[:, 1], rbb[:, 1])
    out = np.empty(len(rc), dtype=np.int64)
    for r in np.unique(rc):
        m = rc == r
        out[m] = point_cell(rx[m], ry[m], int(r), domain)
    return out


def bbox_cover(minx, miny, maxx, maxy, res: int, domain=DOMAIN_UNIT,
               max_cells: int = 4096) -> tuple[np.ndarray, np.ndarray]:
    """Full (non-compact) cover at res of each bbox.

    Returns (flat_ids int64[T], offsets int64[n+1]) ragged output. Rows
    whose cover would exceed ``max_cells`` fall back to progressively
    coarser resolutions for *that row only* — those rows' cells have a
    smaller res in the id, so join planners must route them through the
    ancestor/large-geometry path (operators/sjoin.py).
    """
    minx = np.asarray(minx, dtype=np.float64)
    n_rows = len(minx)
    res_row = cover_res(minx, miny, maxx, maxy, res, domain, max_cells)
    # recompute grid coords at each row's final res
    i0 = np.empty(n_rows, dtype=np.int64)
    j0 = np.empty(n_rows, dtype=np.int64)
    i1 = np.empty(n_rows, dtype=np.int64)
    j1 = np.empty(n_rows, dtype=np.int64)
    for r in np.unique(res_row):
        m = res_row == r
        a, b = _grid_ij(np.asarray(minx)[m], np.asarray(miny)[m], int(r), domain)
        c, d = _grid_ij(np.asarray(maxx)[m], np.asarray(maxy)[m], int(r), domain)
        i0[m], j0[m], i1[m], j1[m] = a, b, c, d
    counts = (i1 - i0 + 1) * (j1 - j0 + 1)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])
    flat = np.empty(total, dtype=np.int64)
    # vectorized per unique (ni, nj) shape would be possible; covers are tiny
    # (few cells/row by construction) so a per-row fill is fine here — this
    # runs inside an Arrow batch, the per-cell work is numpy.
    pos = 0
    for rix in range(n_rows):
        ni = i1[rix] - i0[rix] + 1
        nj = j1[rix] - j0[rix] + 1
        ii = np.repeat(np.arange(i0[rix], i1[rix] + 1), nj)
        jj = np.tile(np.arange(j0[rix], j1[rix] + 1), ni)
        flat[pos : pos + ni * nj] = pack(int(res_row[rix]), morton_encode(ii, jj))
        pos += ni * nj
    return flat, offsets


def compact_cover(flat: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Compact each row's cover: any complete sibling quad merges into its
    parent, recursively (H3 ``compact_cells`` analogue). Input/output are
    ragged (flat ids, offsets). Ids within a row must share one res."""
    out_parts: list[np.ndarray] = []
    out_counts = np.zeros(len(offsets) - 1, dtype=np.int64)
    for rix in range(len(offsets) - 1):
        ids = np.sort(flat[offsets[rix] : offsets[rix + 1]])
        if len(ids) == 0:
            out_counts[rix] = 0
            continue
        keep: list[np.ndarray] = []
        cur = ids
        while len(cur) >= 4 and cell_res(cur[:1])[0] > 0:
            m = cell_morton(cur)
            base = m >> np.int64(2)
            # complete quads: 4 consecutive ids with same parent and all
            # four child slots present
            u, counts = np.unique(base, return_counts=True)
            full = u[counts == 4]
            is_merged = np.isin(base, full)
            keep.append(cur[~is_merged])
            if not len(full):
                cur = cur[:0]
                break
            r = int(cell_res(cur[:1])[0])
            cur = pack(r - 1, np.sort(full))
        keep.append(cur)
        row = np.concatenate(keep) if keep else cur
        out_parts.append(np.sort(row))
        out_counts[rix] = len(row)
    new_off = np.zeros(len(offsets), dtype=np.int64)
    np.cumsum(out_counts, out=new_off[1:])
    new_flat = (np.concatenate(out_parts) if out_parts
                else np.empty(0, dtype=np.int64))
    return new_flat, new_off


def cell_size(res: int, domain=DOMAIN_UNIT) -> tuple[float, float]:
    x0, y0, x1, y1 = domain
    n = 1 << res
    return (x1 - x0) / n, (y1 - y0) / n


def pick_resolution(avg_w: float, avg_h: float, domain=DOMAIN_UNIT,
                    target_cells: float = 1.0) -> int:
    """Resolution where an average bbox spans ~target_cells cells per axis.

    The distributed analogue of STRtree node sizing: too fine -> cell-join
    explosion; too coarse -> refine does all the work.
    """
    x0, y0, x1, y1 = domain
    ext = max(x1 - x0, y1 - y0)
    avg = max(avg_w, avg_h, 1e-300)
    res = int(np.floor(np.log2(ext * target_cells / avg)))
    return int(np.clip(res, 0, MAX_RES))
