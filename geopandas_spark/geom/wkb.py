"""WKB codec: pandas Series[bytes] <-> GeometryBatch.

Interchange parity with the reference's ``from_wkb/to_wkb``
(/root/reference/geopandas/array.py:118-207): ISO WKB, little-endian output,
Z-aware input (Z flagged either ISO style, type+1000, or EWKB style,
0x80000000 bit). Decode has a fully-vectorized fast path for all-POINT
batches (the dominant case for the interleaved-documents corpus); general
geometries parse per-row *within* the Arrow batch with numpy bulk coordinate
reads — coordinates are never touched one float at a time.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from .ragged import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    GeometryBatch,
    GeometryBatchBuilder,
)

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000

_POINT_WKB_LEN_2D = 21  # 1 + 4 + 16


class WKBDecodeError(ValueError):
    pass


def _norm_type(raw: int) -> tuple[int, bool]:
    """Normalize ISO/EWKB type codes -> (base_type, has_z)."""
    has_z = False
    if raw & (_EWKB_Z | _EWKB_M | _EWKB_SRID):
        has_z = bool(raw & _EWKB_Z)
        raw &= 0xFF
    if raw >= 3000:
        raw -= 3000
        has_z = True
    elif raw >= 2000:
        raw -= 2000
    elif raw >= 1000:
        raw -= 1000
        has_z = True
    return raw, has_z


def _parse_simple(buf: bytes, pos: int) -> tuple[int, list[np.ndarray], list[np.ndarray], int, int]:
    """Parse one simple geometry (point/linestring/polygon) at pos.

    Returns (part_type, rings, zrings, new_pos, has_z).
    """
    bo = "<" if buf[pos] == 1 else ">"
    raw = struct.unpack_from(bo + "I", buf, pos + 1)[0]
    typ, has_z = _norm_type(raw)
    if raw & _EWKB_SRID:
        pos += 4  # skip srid
    pos += 5
    ndim = 3 if has_z else 2
    dt = np.dtype(bo + "f8")
    if typ == POINT:
        vals = np.frombuffer(buf, dtype=dt, count=ndim, offset=pos).astype(np.float64)
        pos += 8 * ndim
        if np.isnan(vals[:2]).all():  # POINT EMPTY encodes as NaN NaN
            return POINT, [], [], pos, has_z
        return POINT, [vals[:2].reshape(1, 2)], [vals[2:3]] if has_z else [np.empty(0)], pos, has_z
    if typ == LINESTRING:
        (k,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        vals = np.frombuffer(buf, dtype=dt, count=k * ndim, offset=pos).astype(np.float64)
        pos += 8 * k * ndim
        vals = vals.reshape(k, ndim)
        return LINESTRING, ([vals[:, :2]] if k else []), ([vals[:, 2]] if has_z else [np.empty(0)]), pos, has_z
    if typ == POLYGON:
        (nr,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        rings, zrings = [], []
        for _ in range(nr):
            (k,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            vals = np.frombuffer(buf, dtype=dt, count=k * ndim, offset=pos).astype(np.float64)
            pos += 8 * k * ndim
            vals = vals.reshape(k, ndim)
            rings.append(vals[:, :2])
            zrings.append(vals[:, 2] if has_z else np.zeros(k))
        return POLYGON, rings, zrings, pos, has_z
    raise WKBDecodeError(f"unexpected nested type {typ}")


def _parse_geometry(buf: bytes, pos: int) -> tuple[int, list, list, int]:
    """Parse any geometry -> (type_id, parts, zparts, new_pos)."""
    bo = "<" if buf[pos] == 1 else ">"
    raw = struct.unpack_from(bo + "I", buf, pos + 1)[0]
    typ, has_z = _norm_type(raw)
    if typ in (POINT, LINESTRING, POLYGON):
        ptype, rings, zrings, pos, hz = _parse_simple(buf, pos)
        # empty simple geometry -> one part with zero rings so type survives
        return typ, [(ptype, rings)], ([zrings] if hz else None), pos
    pos += 5
    if raw & _EWKB_SRID:
        pos += 4
    (n,) = struct.unpack_from(bo + "I", buf, pos)
    pos += 4
    parts: list = []
    zparts: list = []
    any_z = False
    if typ in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        for _ in range(n):
            ptype, rings, zrings, pos, hz = _parse_simple(buf, pos)
            parts.append((ptype, rings))
            zparts.append(zrings if hz else [np.full(len(r), np.nan) for r in rings])
            any_z = any_z or hz
        return typ, parts, (zparts if any_z else None), pos
    if typ == GEOMETRYCOLLECTION:
        for _ in range(n):
            _styp, sparts, szparts, pos = _parse_geometry(buf, pos)
            if szparts is None:
                szparts = [[np.full(len(r), np.nan) for r in rings]
                           for (_pt, rings) in sparts]
            else:
                any_z = True
            parts.extend(sparts)  # flatten (nested multis become parts)
            zparts.extend(szparts)
        return GEOMETRYCOLLECTION, parts, (zparts if any_z else None), pos
    raise WKBDecodeError(f"unsupported WKB type {raw}")


def _u32_at(arr: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian uint32 read at arbitrary (unaligned) byte positions."""
    return (
        arr[pos].astype(np.int64)
        | (arr[pos + 1].astype(np.int64) << 8)
        | (arr[pos + 2].astype(np.int64) << 16)
        | (arr[pos + 3].astype(np.int64) << 24)
    )


def _decode_simple_le(vals: np.ndarray, nulls: np.ndarray) -> GeometryBatch | None:
    """Fully-vectorized decode when every present row is little-endian 2-D
    ISO WKB of a *simple* type (Point/LineString/Polygon). Returns None when
    any precondition fails (caller falls back to the per-row parser).

    No per-row Python in this path: headers are scanned with vectorized
    unaligned u32 reads (polygons iterate once per *ring index*, so a batch
    of single-ring polygons costs one pass), coordinates are gathered with
    one flat byte-index gather (ragged.expand-ranges trick).
    """
    from .ragged import _expand_ranges

    present = ~nulls
    bufs = vals[present]
    m = len(bufs)
    if m == 0:
        return None
    lens = np.fromiter((len(v) for v in bufs), np.int64, m)
    if (lens < 9).any():
        return None
    blob = b"".join(bufs)
    arr = np.frombuffer(blob, dtype=np.uint8)
    starts = np.zeros(m, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    if not (arr[starts] == 1).all():
        return None
    t = _u32_at(arr, starts + 1)
    if not np.isin(t, (POINT, LINESTRING, POLYGON)).all():
        return None

    is_pt = t == POINT
    is_ln = t == LINESTRING
    is_pg = t == POLYGON

    # ring count per geometry
    rc = np.ones(m, dtype=np.int64)
    if is_pg.any():
        rc[is_pg] = _u32_at(arr, starts[is_pg] + 5)
    if is_pt.any() and not (lens[is_pt] == _POINT_WKB_LEN_2D).all():
        return None

    geom_ring_off = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(rc, out=geom_ring_off[1:])
    R = int(geom_ring_off[-1])
    ring_len = np.zeros(R, dtype=np.int64)
    ring_byte = np.zeros(R, dtype=np.int64)  # byte offset of first coord

    # points: 1 ring of 1 coord at +5
    pt_rings = geom_ring_off[:-1][is_pt]
    ring_len[pt_rings] = 1
    ring_byte[pt_rings] = starts[is_pt] + 5
    # linestrings: 1 ring of k coords at +9
    if is_ln.any():
        k = _u32_at(arr, starts[is_ln] + 5)
        if (k == 0).any() or not (lens[is_ln] == 9 + 16 * k).all():
            return None
        ln_rings = geom_ring_off[:-1][is_ln]
        ring_len[ln_rings] = k
        ring_byte[ln_rings] = starts[is_ln] + 9
    # polygons: cursor scan, one vector pass per ring index
    if is_pg.any():
        pg_idx = np.nonzero(is_pg)[0]
        nr = rc[pg_idx]
        cursor = starts[pg_idx] + 9
        base = geom_ring_off[:-1][pg_idx]
        max_nr = int(nr.max()) if len(nr) else 0
        if max_nr > 64:  # pathological; per-row path handles it
            return None
        for i in range(max_nr):
            act = nr > i
            pos = cursor[act]
            if (pos + 4 > starts[pg_idx[act]] + lens[pg_idx[act]]).any():
                return None
            k = _u32_at(arr, pos)
            if (k == 0).any():
                return None
            slots = base[act] + i
            ring_len[slots] = k
            ring_byte[slots] = pos + 4
            cursor[act] = pos + 4 + 16 * k
        if not (cursor == starts[pg_idx] + lens[pg_idx]).all():
            return None

    # gather all coordinates: per-double byte positions, read through eight
    # alignment-class float64 views of the blob (no per-byte expansion)
    ring_coord_off = np.zeros(R + 1, dtype=np.int64)
    np.cumsum(ring_len, out=ring_coord_off[1:])
    T = int(ring_coord_off[-1])
    ndbl = 2 * ring_len
    local = _expand_ranges(np.zeros(R, dtype=np.int64), ndbl)
    dpos = np.repeat(ring_byte, ndbl) + 8 * local
    flat = np.empty(2 * T, dtype=np.float64)
    align = dpos & 7
    for cls in np.unique(align):
        a = int(cls)
        nfit = (len(arr) - a) // 8
        view = arr[a : a + nfit * 8].view(np.float64)
        sel = align == cls
        flat[sel] = view[(dpos[sel] - a) >> 3]
    coords = flat.reshape(T, 2)

    # POINT EMPTY (NaN NaN) changes the ragged structure -> per-row path
    if is_pt.any():
        pc = coords[ring_coord_off[pt_rings]]
        if np.isnan(pc).all(axis=1).any():
            return None

    n = len(vals)
    if nulls.any():
        types = np.zeros(n, dtype=np.int8)
        types[present] = t.astype(np.int8)
        parts_per = np.zeros(n, dtype=np.int64)
        parts_per[present] = 1
        geom_part_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(parts_per, out=geom_part_off[1:])
    else:
        types = t.astype(np.int8)
        geom_part_off = np.arange(n + 1, dtype=np.int64)
    return GeometryBatch(
        types=types,
        coords=coords,
        ring_coord_off=ring_coord_off,
        part_ring_off=geom_ring_off,  # 1 part per present geometry
        geom_part_off=geom_part_off,
        part_types=t.astype(np.int8),
    )


def from_wkb(series) -> GeometryBatch:
    """Decode a pandas Series / ndarray / list of WKB bytes (None allowed)."""
    if isinstance(series, pd.Series):
        vals = series.to_numpy(dtype=object)
    else:
        vals = np.asarray(series, dtype=object)
    n = len(vals)
    # ---- fast path: every row a little-endian 2-D point -----------------
    nulls = np.array([v is None for v in vals], dtype=bool)
    if not nulls.any() and n:
        lens = np.array([len(v) for v in vals], dtype=np.int64)
        if (lens == _POINT_WKB_LEN_2D).all():
            blob = b"".join(vals)
            raw = np.frombuffer(blob, dtype=np.uint8).reshape(n, _POINT_WKB_LEN_2D)
            if (raw[:, 0] == 1).all():
                tcodes = raw[:, 1:5].copy().view(np.uint32).ravel()
                if (tcodes == POINT).all():
                    xy = raw[:, 5:21].copy().view(np.float64).reshape(n, 2)
                    from .ragged import points_batch

                    missing = np.isnan(xy).all(axis=1)
                    # NaN,NaN = POINT EMPTY, not missing: build generically then
                    if not missing.any():
                        return points_batch(xy[:, 0], xy[:, 1])
    # ---- vectorized simple-geometry fast path ----------------------------
    if n:
        try:
            fast = _decode_simple_le(vals, nulls)
        except (ValueError, IndexError):
            fast = None
        if fast is not None:
            return fast
    # ---- general path ----------------------------------------------------
    b = GeometryBatchBuilder()
    for v in vals:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            b.add_missing()
            continue
        typ, parts, zparts, _ = _parse_geometry(bytes(v), 0)
        b.add(typ, parts, zparts)
    batch = b.finish()
    return batch


# ---------------------------------------------------------------------------
# encode


def _part_zrings(batch: GeometryBatch, p: int) -> list[np.ndarray]:
    """Z arrays of each ring of part p (mirrors GeometryBatch.part_rings)."""
    r0, r1 = batch.part_ring_off[p], batch.part_ring_off[p + 1]
    return [batch.zs[batch.ring_coord_off[r]:batch.ring_coord_off[r + 1]]
            for r in range(r0, r1)]


def _enc_simple(ptype: int, rings: list[np.ndarray], out: list[bytes],
                zrings: list[np.ndarray] | None = None) -> None:
    if zrings is not None:
        # ISO WKB Z: type code + 1000, three doubles per vertex
        code = ptype + 1000
        if ptype == POINT:
            if not rings or len(rings[0]) == 0:
                out.append(b"\x01" + struct.pack("<I", code)
                           + struct.pack("<ddd", *([float("nan")] * 3)))
            else:
                x, y = rings[0][0]
                out.append(b"\x01" + struct.pack("<I", code)
                           + struct.pack("<ddd", x, y, float(zrings[0][0])))
        elif ptype == LINESTRING:
            k = len(rings[0]) if rings else 0
            out.append(b"\x01" + struct.pack("<II", code, k))
            if k:
                out.append(np.ascontiguousarray(
                    np.column_stack([rings[0], zrings[0]]),
                    dtype="<f8").tobytes())
        elif ptype == POLYGON:
            out.append(b"\x01" + struct.pack("<II", code, len(rings)))
            for ring, z in zip(rings, zrings):
                out.append(struct.pack("<I", len(ring)))
                out.append(np.ascontiguousarray(
                    np.column_stack([ring, z]), dtype="<f8").tobytes())
        else:  # pragma: no cover
            raise WKBDecodeError(f"cannot encode part type {ptype}")
        return
    if ptype == POINT:
        if not rings or len(rings[0]) == 0:
            out.append(b"\x01" + struct.pack("<I", POINT) + struct.pack("<dd", float("nan"), float("nan")))
        else:
            x, y = rings[0][0]
            out.append(b"\x01" + struct.pack("<I", POINT) + struct.pack("<dd", x, y))
    elif ptype == LINESTRING:
        k = len(rings[0]) if rings else 0
        out.append(b"\x01" + struct.pack("<II", LINESTRING, k))
        if k:
            out.append(np.ascontiguousarray(rings[0], dtype="<f8").tobytes())
    elif ptype == POLYGON:
        out.append(b"\x01" + struct.pack("<II", POLYGON, len(rings)))
        for ring in rings:
            out.append(struct.pack("<I", len(ring)))
            out.append(np.ascontiguousarray(ring, dtype="<f8").tobytes())
    else:  # pragma: no cover
        raise WKBDecodeError(f"cannot encode part type {ptype}")


def _encode_simple_vec(batch: GeometryBatch) -> np.ndarray | None:
    """Vectorized encode when every geometry is a present, simple
    (Point/LineString/Polygon), 1-part row with non-empty rings. Builds one
    flat byte buffer with vectorized scatters, then slices per row."""
    from .ragged import _expand_ranges

    n = len(batch)
    if n == 0:
        return None
    t = batch.types
    if not np.isin(t, (POINT, LINESTRING, POLYGON)).all():
        return None
    if not (batch.n_parts_per_geom() == 1).all():
        return None
    gro = batch.geom_ring_off
    rc = gro[1:] - gro[:-1]
    ring_len = batch.ring_coord_off[1:] - batch.ring_coord_off[:-1]
    if (ring_len == 0).any():
        return None
    is_pt = t == POINT
    is_ln = t == LINESTRING
    is_pg = t == POLYGON
    if (rc[is_pt] != 1).any() or (ring_len[gro[:-1][is_pt]] != 1).any():
        return None
    if (rc[is_ln] != 1).any():
        return None
    ncoords = batch.n_coords_per_geom()
    row_len = np.where(is_pt, _POINT_WKB_LEN_2D,
                       9 + np.where(is_pg, 4 * rc, 0) + 16 * ncoords)
    row_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(row_len, out=row_start[1:])
    total = int(row_start[-1])
    buf = np.zeros(total, dtype=np.uint8)
    s = row_start[:-1]
    buf[s] = 1
    buf[s + 1] = t  # type id < 256; higher header bytes stay 0
    # counts
    ln_s = s[is_ln]
    if len(ln_s):
        _scatter_u32(buf, ln_s + 5, ncoords[is_ln])
    pg_s = s[is_pg]
    if len(pg_s):
        _scatter_u32(buf, pg_s + 5, rc[is_pg])
    # ring headers (polygons) + coordinate destinations, per ring
    # destination byte of each ring's count field:
    ring_geom = np.repeat(np.arange(n), rc)
    ring_sz = 4 + 16 * ring_len  # polygon rings; point/line rings differ
    ring_is_pg = is_pg[ring_geom]
    # byte offset of ring payload within its geometry
    within = np.zeros(len(ring_len), dtype=np.int64)
    if len(ring_len):
        csum = np.cumsum(ring_sz)
        gstart_ring = gro[:-1]
        base = np.zeros(len(ring_len), dtype=np.int64)
        prev = np.zeros(n, dtype=np.int64)
        prev[rc > 0] = csum[gstart_ring[rc > 0]] - ring_sz[gstart_ring[rc > 0]]
        within = csum - ring_sz - prev[ring_geom]
    hdr = np.where(is_pt, 5, 9)
    ring_dst = s[ring_geom] + hdr[ring_geom] + np.where(
        ring_is_pg, within, 0)
    coord_dst = ring_dst + np.where(ring_is_pg, 4, 0)
    pg_rings = np.nonzero(ring_is_pg)[0]
    if len(pg_rings):
        _scatter_u32(buf, ring_dst[pg_rings], ring_len[pg_rings])
    # coordinates: scatter the little-endian doubles bytewise
    coord_bytes = np.ascontiguousarray(batch.coords, dtype="<f8").reshape(-1).view(np.uint8)
    byte_idx = _expand_ranges(coord_dst, coord_dst + 16 * ring_len)
    buf[byte_idx] = coord_bytes
    blob = buf.tobytes()
    out = np.empty(n, dtype=object)
    rs = row_start.tolist()
    for i in range(n):
        out[i] = blob[rs[i] : rs[i + 1]]
    return out


def _scatter_u32(buf: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    v = vals.astype(np.int64)
    buf[pos] = v & 0xFF
    buf[pos + 1] = (v >> 8) & 0xFF
    buf[pos + 2] = (v >> 16) & 0xFF
    buf[pos + 3] = (v >> 24) & 0xFF


def to_wkb(batch: GeometryBatch) -> np.ndarray:
    """Encode a GeometryBatch -> object ndarray of bytes (None for missing).

    Output is little-endian ISO WKB; rows flagged 3-D (geom_has_z) encode
    as ISO Z (type + 1000, three doubles per vertex) so Z round-trips
    through WKB exactly (reference from_wkb/to_wkb carry Z, array.py:118).
    """
    n = len(batch)
    out = np.empty(n, dtype=object)
    ghz = batch.geom_has_z if batch.zs is not None else None
    any_z = ghz is not None and bool(np.asarray(ghz).any())
    # fast path: all simple 2-D points present
    if (not any_z and (batch.types == POINT).all()
            and (batch.n_coords_per_geom() == 1).all()):
        xy = batch.coords
        hdr = np.frombuffer(b"\x01" + struct.pack("<I", POINT), dtype=np.uint8)
        buf = np.empty((n, _POINT_WKB_LEN_2D), dtype=np.uint8)
        buf[:, :5] = hdr
        buf[:, 5:] = np.ascontiguousarray(xy, dtype="<f8").view(np.uint8).reshape(n, 16)
        rows = buf.tobytes()
        for i in range(n):
            out[i] = rows[i * _POINT_WKB_LEN_2D : (i + 1) * _POINT_WKB_LEN_2D]
        return out
    if not any_z:
        try:
            fast = _encode_simple_vec(batch)
        except (ValueError, IndexError):
            fast = None
        if fast is not None:
            return fast
    for g in range(n):
        t = int(batch.types[g])
        if t == 0:
            out[g] = None
            continue
        hz = bool(ghz[g]) if ghz is not None else False
        p0, p1 = batch.geom_part_off[g], batch.geom_part_off[g + 1]
        chunks: list[bytes] = []
        if t in (POINT, LINESTRING, POLYGON):
            if p1 == p0:  # empty simple geometry
                if t == POINT:
                    _enc_simple(POINT, [], chunks,
                                zrings=[] if hz else None)
                else:
                    chunks.append(b"\x01" + struct.pack(
                        "<II", t + (1000 if hz else 0), 0))
            else:
                _enc_simple(t, batch.part_rings(p0), chunks,
                            zrings=_part_zrings(batch, p0) if hz else None)
        else:
            chunks.append(b"\x01" + struct.pack(
                "<II", t + (1000 if hz else 0), p1 - p0))
            for p in range(p0, p1):
                sub: list[bytes] = []
                _enc_simple(int(batch.part_types[p]), batch.part_rings(p),
                            sub,
                            zrings=_part_zrings(batch, p) if hz else None)
                chunks.extend(sub)
        out[g] = b"".join(chunks)
    return out
