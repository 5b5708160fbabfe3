"""Seeded benchmark inputs, generated with numpy alone.

Nothing here imports the engine: the WKB is packed by hand, so the engine's
codec is measured, never used to make its own inputs. The same seed gives
byte-identical tables (``digest``), and every shape parameter the output
checks need (rect corners, star centre/radii/rotation) is returned beside
the WKB so the checks can use closed forms.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

# Stars are 12-gons whose vertices alternate between an outer and an inner
# radius. Area is closed-form: 12 triangles of sides R, r at angle pi/6,
# i.e. 3 * R * r.
STAR_VERTS = 12
STAR_INNER = 0.45

_POLY_HEADER = np.dtype([("bo", "u1"), ("t", "<u4"), ("nr", "<u4"),
                         ("np", "<u4")])


def _binary_column(rows: np.ndarray, width: int) -> pa.Array:
    """Fixed-width packed records -> Arrow binary column without a per-row
    Python loop."""
    n = len(rows)
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(rows.tobytes())])


def point_wkb(x: np.ndarray, y: np.ndarray) -> pa.Array:
    rec = np.zeros(len(x), dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"),
                                  ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    return _binary_column(rec, rec.dtype.itemsize)


def ring_wkb(rings: np.ndarray) -> pa.Array:
    """rings: float64[n, k, 2], already closed -> one-ring POLYGON WKB."""
    n, k, _ = rings.shape
    rec = np.zeros(n, dtype=_POLY_HEADER.descr + [("xy", "<f8", (k, 2))])
    rec["bo"], rec["t"], rec["nr"], rec["np"] = 1, 3, 1, k
    rec["xy"] = rings
    return _binary_column(rec, rec.dtype.itemsize)


def line_wkb(x0, y0, x1, y1) -> pa.Array:
    rec = np.zeros(len(x0), dtype=[("bo", "u1"), ("t", "<u4"), ("np", "<u4"),
                                   ("xy", "<f8", (2, 2))])
    rec["bo"], rec["t"], rec["np"] = 1, 2, 2
    rec["xy"] = np.stack([np.stack([x0, y0], -1), np.stack([x1, y1], -1)], 1)
    return _binary_column(rec, rec.dtype.itemsize)


def rect_rings(x0, y0, x1, y1) -> np.ndarray:
    return np.stack([np.stack([x0, y0], -1), np.stack([x1, y0], -1),
                     np.stack([x1, y1], -1), np.stack([x0, y1], -1),
                     np.stack([x0, y0], -1)], axis=1)


def star_rings(cx, cy, radius, theta) -> np.ndarray:
    k = np.arange(STAR_VERTS + 1) % STAR_VERTS
    ang = theta[:, None] + k[None, :] * (2 * np.pi / STAR_VERTS)
    rad = radius[:, None] * np.where(k % 2 == 0, 1.0, STAR_INNER)[None, :]
    return np.stack([cx[:, None] + rad * np.cos(ang),
                     cy[:, None] + rad * np.sin(ang)], axis=-1)


def star_area(radius) -> np.ndarray:
    return 3.0 * radius * (radius * STAR_INNER)


# ---------------------------------------------------------------------------
# layers


def points(rng: np.random.Generator, n: int, hot_share: float = 0.3,
           hot_spots: int = 8, hot_sigma: float = 0.01) -> dict:
    """Uniform background plus Gaussian hot spots (hot cells, AQE skew)."""
    n_hot = int(n * hot_share)
    x = rng.random(n)
    y = rng.random(n)
    centres = 0.1 + 0.8 * rng.random((hot_spots, 2))
    pick = rng.integers(0, hot_spots, n_hot)
    x[:n_hot] = centres[pick, 0] + hot_sigma * rng.standard_normal(n_hot)
    y[:n_hot] = centres[pick, 1] + hot_sigma * rng.standard_normal(n_hot)
    np.clip(x, 0.0005, 0.9995, out=x)
    np.clip(y, 0.0005, 0.9995, out=y)
    perm = rng.permutation(n)
    return {"id": np.arange(n, dtype=np.int64), "x": x[perm], "y": y[perm]}


def polygons(rng: np.random.Generator, n: int, rect_share: float,
             size: float) -> dict:
    """Axis-aligned rects mixed with non-convex 12-gon stars.

    ``size`` is the mean half-extent; centres are uniform, so coverage of
    the unit square is about n * 4 * size**2 (rects) and lower for stars.
    """
    is_rect = rng.random(n) < rect_share
    cx = size * 2 + (1 - size * 4) * rng.random(n)
    cy = size * 2 + (1 - size * 4) * rng.random(n)
    hw = size * (0.5 + rng.random(n))
    hh = size * (0.5 + rng.random(n))
    theta = rng.random(n) * (2 * np.pi / STAR_VERTS)
    ids = np.arange(n, dtype=np.int64)
    ri = np.nonzero(is_rect)[0]
    si = np.nonzero(~is_rect)[0]
    rr = rect_rings(cx[ri] - hw[ri], cy[ri] - hh[ri],
                    cx[ri] + hw[ri], cy[ri] + hh[ri])
    sr = star_rings(cx[si], cy[si], hw[si], theta[si])
    wkb = pa.concat_arrays([ring_wkb(rr), ring_wkb(sr)])
    order = np.concatenate([ri, si])
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    return {"id": ids, "is_rect": is_rect, "cx": cx, "cy": cy, "hw": hw,
            "hh": hh, "theta": theta, "geometry": wkb.take(pa.array(inv))}


def polygon_bounds(layer: dict) -> np.ndarray:
    """[n, 4] minx, miny, maxx, maxy (stars: the outer-radius box, which
    contains the star)."""
    hx = layer["hw"]
    hy = np.where(layer["is_rect"], layer["hh"], layer["hw"])
    return np.stack([layer["cx"] - hx, layer["cy"] - hy,
                     layer["cx"] + hx, layer["cy"] + hy], axis=-1)


# ---------------------------------------------------------------------------
# documents

def documents(rng: np.random.Generator, n: int, dup_share: float) -> dict:
    """Interleaved docs: prose spans, one WKT span (point, polygon or line),
    media refs. ``dup_share`` of the docs copy an earlier doc's prose with
    one word changed, so they are near-duplicates (Jaccard about 0.95 on
    5-shingles of 100-word prose; unrelated docs share almost none)."""
    n_words = 100
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26, int(k))])
                      for k in rng.integers(3, 10, 4000)])
    words = rng.integers(0, len(vocab), (n, n_words))
    is_dup = rng.random(n) < dup_share
    is_dup[0] = False
    src = np.where(is_dup, rng.integers(0, np.maximum(np.arange(n), 1)), -1)
    # a dup copies its source's words; sources are always originals
    src = np.where(is_dup & ~is_dup[np.maximum(src, 0)], src, -1)
    is_dup = src >= 0
    words[is_dup] = words[src[is_dup]]
    words[is_dup, rng.integers(0, n_words, is_dup.sum())] = rng.integers(
        0, len(vocab), is_dup.sum())
    kind_draw = rng.random(n)
    gx, gy = 0.02 + 0.96 * rng.random(n), 0.02 + 0.96 * rng.random(n)
    gs = 0.002 + 0.01 * rng.random(n)
    media_n = rng.integers(0, 3, n)
    mz = rng.integers(0, 8, (n, 2))
    mx = rng.integers(0, 128, (n, 2))
    doc_id, spans = [], []
    for i in range(n):
        text = " ".join(vocab[words[i]])
        cut = text.index(" ", len(text) // 2)
        if kind_draw[i] < 0.6:
            wkt = f"POINT ({gx[i]:.9f} {gy[i]:.9f})"
        elif kind_draw[i] < 0.85:
            x0, y0, x1, y1 = gx[i] - gs[i], gy[i] - gs[i], gx[i] + gs[i], gy[i] + gs[i]
            wkt = (f"POLYGON (({x0:.9f} {y0:.9f}, {x1:.9f} {y0:.9f}, "
                   f"{x1:.9f} {y1:.9f}, {x0:.9f} {y1:.9f}, {x0:.9f} {y0:.9f}))")
        else:
            wkt = (f"LINESTRING ({gx[i] - gs[i]:.9f} {gy[i]:.9f}, "
                   f"{gx[i] + gs[i]:.9f} {gy[i] + gs[i]:.9f})")
        sp = [("text", text[:cut], None), ("text", wkt, None),
              ("text", text[cut + 1:], None)]
        for m in range(media_n[i]):
            sp.insert(1 + 2 * m, ("media", None,
                                  f"tile://{mz[i, m]}/{mx[i, m]}/{mx[i, m]}"))
        doc_id.append(f"doc-{i:08d}")
        spans.append([{"kind": k, "text": t, "media_ref": r, "offset": o}
                      for o, (k, t, r) in enumerate(sp)])
    return {"doc_id": doc_id, "spans": spans, "is_dup": is_dup, "src": src,
            "gx": gx, "gy": gy, "gs": gs, "gkind": kind_draw}


SPAN_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32())]))


def documents_table(docs: dict) -> pa.Table:
    return pa.table({"doc_id": pa.array(docs["doc_id"], pa.string()),
                     "spans": pa.array(docs["spans"], SPAN_TYPE)})


# ---------------------------------------------------------------------------


def digest(tables: dict[str, pa.Table]) -> str:
    """Content hash of the generated tables: names, schemas and values
    (not raw buffers, whose padding bytes carry no content)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        h.update(str(t.schema).encode())
        for col in t.columns:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()
