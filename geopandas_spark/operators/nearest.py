"""sjoin_nearest — distributed k=1 nearest-neighbor join with tie retention.

Reference contract (/root/reference/geopandas/tools/sjoin.py:341-454 and
sindex.nearest, sindex.py:220-311):

* for each left geometry return the nearest right geometry **including all
  ties** (equidistant neighbors each produce a row, sjoin.py:428-439);
* ``max_distance`` bounds the search (rows beyond it unmatched);
* ``how='left'`` keeps unmatched rows null-padded, ``'inner'`` drops them;
* ``distance_col`` optionally emits the exact distance;
* ``exclusive=True`` drops matches whose geometry equals the left geometry.

Two physical plans behind one operator (decided by a right-side stats
agg, mirroring sjoin — UDF-derived sizes defeat AQE's own estimation):

**Broadcast path** (right side's exploded cover under
BROADCAST_EXPLODED_ROWS — the common case; round-4 north-rule
restructure): the right side is Arrow-collected once, the driver builds
a row-major (cellkey -> build row) flat index with vectorized
bbox_cover, and the WHOLE join is ONE ``mapInPandas`` over the left.
Per probe batch, a Chebyshev-k disk is (2k+1) contiguous searchsorted
column ranges over the sorted keys; certified rows (best d + lrad <
cell) emit ties immediately, the uncertified tail escalates its disk
geometrically IN-KERNEL and finishes with one exhaustive probe at
ceil((d+lrad)/cell)+1 — no union, no shuffle, no tail joins. Giant
build rows whose cover overflows max_cells ride along as unconditional
candidates of every probe ("always-rows"). 3 Spark jobs total; the
probe stage is embarrassingly parallel (measured 2->8 scaling moved
from 0.22 to the sjoin-class regime, tools/knn_profile.py).

**Shuffle path** (huge right side): right covers its bbox cells at
resolution R and replicates each row to the Chebyshev disk(1) of its
cover; left rows take their bbox-midpoint cell; both sides union-tag,
hash-partition by cell, and ONE ``mapInPandas`` pass computes exact
per-cell distances (segment-vectorized, streaming). Certified rows (d +
lrad < cell) finish there; the tail probes a directory-driven exact
radius. The grid clamps to the largest bbox's full-res cover so no
build row hides behind the coarse-cover fallback.

Both plans share the same certify/probe maths, so results are
bit-identical (pinned by test_broadcast_vs_shuffle_parity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ..functions.st import st_bounds, st_cells_from_bbox
from ..index.cells import DOMAIN_UNIT, MAX_RES, cell_size, pick_resolution
from .sjoin import (BROADCAST_EXPLODED_ROWS, _BUILD_CACHE_MAX,
                    _est_exploded, _min_cover_res, _prep_side,
                    _suffix_columns)


def _cover_disk_udf():
    """array<long> cover cells -> unique disk(1) cells of the whole cover.

    Vectorized for the dominant single-cell-cover case (points)."""

    @pandas_udf("array<long>")
    def _f(cells: pd.Series) -> pd.Series:
        from ..index import cells as C

        vals = cells.to_numpy(dtype=object)
        lens = np.array([-1 if v is None else len(v) for v in vals])
        out = np.empty(len(vals), dtype=object)
        single = lens == 1
        if single.any():
            flat = np.array([v[0] for v in vals[single]], dtype=np.int64)
            # row-sorted dedup instead of per-row np.unique (~5x cheaper:
            # one vectorized sort + mask, the loop only slices views)
            disk = np.sort(C.grid_disk(flat, 1), axis=1)  # (n, 9)
            keep = np.ones(disk.shape, dtype=bool)
            keep[:, 1:] = disk[:, 1:] != disk[:, :-1]
            counts = keep.sum(axis=1)
            flatv = disk[keep]
            pos = np.nonzero(single)[0]
            for i, row in zip(pos, np.split(flatv, np.cumsum(counts)[:-1])):
                out[i] = row.tolist()
        for i in np.nonzero(~single)[0]:
            v = vals[i]
            if v is None or lens[i] < 0:
                out[i] = None
            elif lens[i] == 0:
                out[i] = []
            else:
                ids = np.asarray(v, dtype=np.int64)
                out[i] = np.unique(C.grid_disk(ids, 1).ravel()).tolist()
        return pd.Series(out)

    return _f


def _disk_cells_var_udf():
    @pandas_udf("array<long>")
    def _f(cell: pd.Series, k: pd.Series) -> pd.Series:
        """Per-row-radius disk (finalize pass: k = ceil(best_d/cell)+1)."""
        from ..index import cells as C

        ids = cell.to_numpy(dtype=np.int64)
        ks = k.to_numpy(dtype=np.int64)
        res = np.empty(len(ids), dtype=object)
        for ksz in np.unique(ks):
            m = ks == ksz
            disk = C.grid_disk(ids[m], int(ksz))
            vals = [np.unique(row).tolist() for row in disk]
            res[np.nonzero(m)[0]] = pd.Series(vals, dtype=object).to_numpy()
        return pd.Series(res)

    return _f


def _knn_cell_pass(min_cell: float, max_distance: float | None,
                   exclusive: bool, carry_geom: bool = False):
    """mapInPandas fn: union-tagged (cell, side, ids, geoms, lrad) rows ->
    per-left best-distance rows with a certified flag.

    Fully segment-vectorized: combos of (left x right in same cell) are
    built with repeat/expand index math; exact distances come from the
    pairwise numpy kernel; per-left minima via minimum.reduceat.

    STREAMING (round-2): the input is sorted by __cell within the
    partition, so chunks are processed as they arrive — only the
    trailing (possibly chunk-spanning) cell group is carried over, never
    the whole partition (round 1 pd.concat'ed every chunk, the kNN
    memory/bandwidth bottleneck flagged in the scaling audit).
    """

    def _process(pdf):
        from ..geom.predicates import pairwise_distance
        from ..geom.wkb import from_wkb
        from ..geom.ragged import _expand_ranges

        left = pdf[pdf["__side"] == 1]
        right = pdf[pdf["__side"] == 0]
        if len(left) == 0:
            return None
        out_lid = []
        out_rid = []
        out_d = []
        out_ok = []
        out_tg = []  # left wkb, only for uncertified rows (tail metadata)
        out_tc = []  # left cell0
        out_tr = []  # left lrad

        def _null_geo(k):
            out_tg.append(np.full(k, None, dtype=object))
            out_tc.append(np.full(k, 0, dtype=np.int64))
            out_tr.append(np.zeros(k, dtype=np.float64))

        if len(right) == 0:
            k = len(left)
            return pd.DataFrame({
                "__xlid": left["__lid"].to_numpy(),
                "__xrid": np.full(k, None, dtype=object),
                "__d": np.full(k, np.nan),
                "__ok": np.zeros(k, dtype=bool),
                "__tgeom": left["__geom"].to_numpy(dtype=object),
                "__tcell": left["__cell"].to_numpy(dtype=np.int64),
                "__trad": left["__lrad"].to_numpy(dtype=np.float64),
            })
        # order both sides by cell; build per-cell ranges
        lcell = left["__cell"].to_numpy(dtype=np.int64)
        rcell = right["__cell"].to_numpy(dtype=np.int64)
        lo = np.argsort(lcell, kind="stable")
        ro = np.argsort(rcell, kind="stable")
        lcell = lcell[lo]
        rcell = rcell[ro]
        lgeom = left["__geom"].to_numpy(dtype=object)[lo]
        rgeom = right["__geom"].to_numpy(dtype=object)[ro]
        lid = left["__lid"].to_numpy()[lo]
        rid = right["__rid"].to_numpy()[ro]
        lrad = left["__lrad"].to_numpy(dtype=np.float64)[lo]
        # right-range per left row via searchsorted
        r0 = np.searchsorted(rcell, lcell, side="left")
        r1 = np.searchsorted(rcell, lcell, side="right")
        rcnt = r1 - r0
        has = rcnt > 0
        # no-candidate lefts
        if (~has).any():
            k = int((~has).sum())
            out_lid.append(lid[~has])
            out_rid.append(np.full(k, None, dtype=object))
            out_d.append(np.full(k, np.nan))
            out_ok.append(np.zeros(k, dtype=bool))
            out_tg.append(lgeom[~has])
            out_tc.append(lcell[~has])
            out_tr.append(lrad[~has])
        if has.any():
            # decode each geometry ONCE per block (round 1 decoded per
            # COMBO — ~9x redundant WKB parsing, the memory-traffic
            # hot spot of the whole join); puntal blocks then compute
            # distances from gathered coordinates with zero extra decode
            lb_all = from_wkb(pd.Series(lgeom))
            rb_all = from_wkb(pd.Series(rgeom))
            from ..geom.ragged import POINT as _PT

            puntal = ((lb_all.types == _PT).all()
                      and (rb_all.types == _PT).all()
                      and (lb_all.n_coords_per_geom() == 1).all()
                      and (rb_all.n_coords_per_geom() == 1).all())
            if puntal:
                lc = lb_all.coords
                rc = rb_all.coords
            # Combo-bounded group loop (round-2 scaling fix): one shot over
            # the whole flush materializes O(flush_rows x cands_per_cell)
            # int64/float64 temporaries — ~20 MB x half a dozen arrays per
            # worker.  With 32 workers that stream through a shared
            # (virtualized, oversubscribed) memory system concurrently, the
            # pass becomes DRAM-bandwidth-bound and STOPS scaling with
            # cores (measured: np.repeat at 22M elements is 51 ms on an
            # idle host but ~2 s under 32-worker contention).  Capping each
            # vectorized block at COMBO_CAP combos keeps every temporary
            # ~2 MB — L2/L3-resident, and malloc (trim disabled) reuses the
            # same warm pages every iteration — so per-worker DRAM traffic
            # drops ~10x and the stage scales with cores again.  Python
            # loop overhead is negligible: ~CAP-combo chunks mean a few
            # dozen iterations per flush.
            hpos = np.nonzero(has)[0]
            hcnt = rcnt[hpos]
            csum = np.cumsum(hcnt)
            COMBO_CAP = 262_144
            gb = [0]
            while gb[-1] < len(hpos):
                prev = csum[gb[-1] - 1] if gb[-1] else 0
                j = int(np.searchsorted(csum, prev + COMBO_CAP, side="left")) + 1
                gb.append(min(max(j, gb[-1] + 1), len(hpos)))
            for ga, gz in zip(gb[:-1], gb[1:]):
                grp = hpos[ga:gz]
                gcnt = rcnt[grp]
                li = np.repeat(grp, gcnt)
                ri = _expand_ranges(r0[grp], r1[grp])
                if puntal:
                    dx = lc[li, 0] - rc[ri, 0]
                    dy = lc[li, 1] - rc[ri, 1]
                    # sqrt(dx^2+dy^2), NOT hypot — bit-parity with the
                    # pairwise_distance kernel and the SQL oracles
                    d = np.sqrt(dx * dx + dy * dy)
                else:
                    d = pairwise_distance(lb_all.take(li), rb_all.take(ri))
                if exclusive:
                    eq = np.array([lgeom[a] == rgeom[b]
                                   for a, b in zip(li, ri)])
                    d = np.where(eq, np.inf, d)
                if max_distance is not None:
                    d = np.where(d > max_distance, np.inf, d)
                d = np.where(np.isnan(d), np.inf, d)
                # per-left best via reduceat (combos contiguous per left)
                ng = len(grp)
                starts = np.zeros(ng, dtype=np.int64)
                np.cumsum(gcnt[:-1], out=starts[1:])
                dbest = np.minimum.reduceat(d, starts)
                seg = np.repeat(np.arange(ng), gcnt)
                certified = (dbest + lrad[grp]) < min_cell
                finite = np.isfinite(dbest)
                # certified: emit ALL tie rows; uncertified w/ candidate:
                # emit one best row (carries dbest to the finalize pass)
                is_tie = d == dbest[seg]
                emit_all = certified[seg] & finite[seg] & is_tie
                out_lid.append(lid[li[emit_all]])
                out_rid.append(rid[ri[emit_all]])
                out_d.append(d[emit_all])
                out_ok.append(np.ones(int(emit_all.sum()), dtype=bool))
                if carry_geom:
                    # narrow fast path: certified rows carry the left WKB
                    # so the caller can emit output with NO assembly join
                    out_tg.append(lgeom[li[emit_all]])
                    out_tc.append(np.zeros(int(emit_all.sum()), dtype=np.int64))
                    out_tr.append(np.zeros(int(emit_all.sum()), dtype=np.float64))
                else:
                    _null_geo(int(emit_all.sum()))
                unc = ~certified & finite
                if unc.any():
                    # best combo per uncertified left (first index hitting
                    # the segment minimum): vectorized via the tie mask
                    tie_idx = np.nonzero(is_tie)[0]
                    tie_seg = seg[tie_idx]
                    first_tie = np.zeros(ng, dtype=np.int64)
                    # reversed fill keeps the FIRST tie index per segment
                    first_tie[tie_seg[::-1]] = tie_idx[::-1]
                    bi = first_tie[unc]
                    out_lid.append(lid[li[bi]])
                    out_rid.append(rid[ri[bi]])
                    out_d.append(d[bi])
                    out_ok.append(np.zeros(len(bi), dtype=bool))
                    haspos = grp[unc]
                    out_tg.append(lgeom[haspos])
                    out_tc.append(lcell[haspos])
                    out_tr.append(lrad[haspos])
                # lefts whose every candidate was inf (max_distance/
                # exclusive)
                none_left = ~finite
                if none_left.any():
                    k = int(none_left.sum())
                    haspos = grp[none_left]
                    out_lid.append(lid[haspos])
                    out_rid.append(np.full(k, None, dtype=object))
                    out_d.append(np.full(k, np.nan))
                    out_ok.append(np.zeros(k, dtype=bool))
                    out_tg.append(lgeom[haspos])
                    out_tc.append(lcell[haspos])
                    out_tr.append(lrad[haspos])
        return pd.DataFrame({
            "__xlid": np.concatenate(out_lid) if out_lid else np.array([], dtype=object),
            "__xrid": np.concatenate(out_rid) if out_rid else np.array([], dtype=object),
            "__d": np.concatenate(out_d) if out_d else np.array([], dtype=np.float64),
            "__ok": np.concatenate(out_ok) if out_ok else np.array([], dtype=bool),
            "__tgeom": np.concatenate(out_tg) if out_tg else np.array([], dtype=object),
            "__tcell": np.concatenate(out_tc) if out_tc else np.array([], dtype=np.int64),
            "__trad": np.concatenate(out_tr) if out_tr else np.array([], dtype=np.float64),
        })

    def fn(it):
        from ._cellstream import stream_groups

        # buffered streaming (shared helper): group-complete blocks of
        # ~BUFFER_ROWS rows — never whole partitions — reach _process
        yield from stream_groups(it, ["__cell"], _process)

    return fn


def _chebyshev_dt(occ: np.ndarray) -> np.ndarray:
    """Chebyshev distance transform of a boolean occupancy grid via
    iterative 8-neighbor dilation. D[i,j] = cell-distance to the nearest
    occupied cell (0 on occupied cells). O(grid * max_D) — dense
    directories converge in a handful of sweeps."""
    n0, n1 = occ.shape
    D = np.zeros((n0, n1), dtype=np.int32)
    cur = occ.copy()
    d = 0
    while not cur.all():
        d += 1
        nxt = cur.copy()
        nxt[1:, :] |= cur[:-1, :]
        nxt[:-1, :] |= cur[1:, :]
        nxt[:, 1:] |= cur[:, :-1]
        nxt[:, :-1] |= cur[:, 1:]
        nxt[1:, 1:] |= cur[:-1, :-1]
        nxt[1:, :-1] |= cur[:-1, 1:]
        nxt[:-1, 1:] |= cur[1:, :-1]
        nxt[:-1, :-1] |= cur[1:, 1:]
        newly = nxt & ~cur
        if not newly.any():  # directory empty: no cell ever reachable
            D[~cur] = np.iinfo(np.int32).max // 4
            break
        D[newly] = d
        cur = nxt
    return D


def _nocand_probes(nanrows, rxp, _disk_probe, resolution, min_cell,
                   k_cap, max_distance, diag_cell):
    """Probe-cell rows for lefts with NO phase-1 candidate (sparse
    neighborhoods). A Chebyshev distance-transform bitmap of the right
    side's non-empty cells (built ONCE on the driver, broadcast as a
    2^res x 2^res int32 grid) gives each row the cell-distance D to its
    nearest occupied cell; B = (D+1) * diag_cell (diag_cell =
    hypot(cell_w, cell_h) — NOT sqrt(2)*min_cell, which under-bounds
    when the domain's cells are non-square and could miss the true
    nearest) is a WORST-CASE
    upper bound on the true nearest distance (the far corner of that
    occupied cell), so ONE probe at radius B is already exhaustive —
    it provably contains the true nearest and all ties.

    Round-4 (north-rule profile): rounds 1-3 probed optimistically at D
    then re-probed at the realized d*, which cost a per-pair distance
    UDF pass, a groupBy, a broadcast join back and a SECOND explode+join
    — four extra jobs and two broadcast builds of serial driver work per
    call. Probing the worst-case bound once replaces all of it; the disk
    is at most ~sqrt(2)x wider per axis and the rows on this path are
    <2% of the input by construction. Round-3 note still applies: the
    bitmap lookup is O(1)/row vs the O(rows x |directory|) scan it
    replaced. Falls back to a coarse-grid transform (whose bound is
    likewise a worst-case far-corner distance, hence also single-probe
    exhaustive) when the full-res bitmap would be too large."""
    bitmap_max = 1 << 20  # full-res bitmap up to res 10 (1M cells, 4 MB)
    grid_n = 1 << resolution
    if max_distance is not None:
        # hard search bound: ONE probe at the max_distance radius is
        # already exhaustive for rows that can match at all
        return [_disk_probe(nanrows, F.lit(float(max_distance)))]
    if grid_n * grid_n <= bitmap_max:
        from ..index import cells as C

        dir_ids = np.array(
            [r[0] for r in rxp.select("__cell").distinct().collect()],
            dtype=np.int64)
        occ = np.zeros((grid_n, grid_n), dtype=bool)
        if len(dir_ids):
            _, di, dj = C.cell_ij(dir_ids)
            occ[di, dj] = True
        D = _chebyshev_dt(occ)
        spark = nanrows.sparkSession
        bc_D = spark.sparkContext.broadcast(D)

        @pandas_udf("double")
        def _bitmap_bound(cell0: pd.Series) -> pd.Series:
            from ..index import cells as C2

            _, li, lj = C2.cell_ij(cell0.to_numpy(dtype=np.int64))
            d = bc_D.value[li, lj].astype(np.float64)
            # cap: disk probes clamp at k_cap cells anyway (full grid)
            d = np.minimum(d, float(k_cap))
            return pd.Series((d + 1) * diag_cell)

        return [_disk_probe(
            nanrows.withColumn("__B", _bitmap_bound(F.col("__cell0"))),
            F.col("__B"))]

    # huge grid: coarse-directory worst-case bound
    cres = max(0, resolution - 6)
    shift = resolution - cres
    coarse_ids = np.array(
        [r[0] for r in rxp.select(
            (F.lit(np.int64(cres) << 56)
             .bitwiseOR(F.shiftright(
                 F.col("__cell").bitwiseAND(F.lit((1 << 56) - 1)),
                 2 * shift))).alias("__cc")
        ).distinct().collect()],
        dtype=np.int64)

    @pandas_udf("double")
    def _nocand_bound(cell0: pd.Series) -> pd.Series:
        from ..index import cells as C

        _, ci, cj = C.cell_ij(coarse_ids)
        _, li, lj = C.cell_ij(cell0.to_numpy(dtype=np.int64))
        li >>= shift
        lj >>= shift
        D = np.minimum.reduce(
            np.maximum(np.abs(li[:, None] - ci[None, :]),
                       np.abs(lj[:, None] - cj[None, :])), axis=1)
        bound = (D + 1) * (1 << shift) * diag_cell
        return pd.Series(bound)

    return [_disk_probe(
        nanrows.withColumn("__B", _nocand_bound(F.col("__cell0"))),
        F.col("__B"))]


# ---------------------------------------------------------------------------
# broadcast kNN path (round 4, north-rule restructure)
#
# The shuffle plan below unions BOTH sides into one exchange (95 MB /
# 3.8 M rows on the 2M x 200k scaling input), sorts within partitions,
# and needs a barrier agg + two tail joins — per-stage attribution
# (tools/knn_profile.py) showed the exchange/sort stage's executor time
# blowing up 20x from local[2] to local[8] on this memory-bandwidth-
# starved substrate (GC 0.2s -> 44.5s, shuffle-write time 0.2s -> 45s for
# the same bytes), flattening 2->8 scaling to ~0.22 while sjoin's
# broadcast-CSR probe path scaled at 0.83-0.93 on the same host. When
# the right side is broadcastable (same stats-job decision as sjoin),
# the whole join is ONE mapInPandas over the left: the right cover ships
# once per worker as a row-major (cellkey -> build row) flat index, and
# every left row — including the uncertified tail — resolves in-kernel
# via block-range scans and bounded disk escalation. No union, no
# repartition+sort, no localCheckpoints, no tail joins: 11 Spark jobs
# become 3, and the probe stage is embarrassingly parallel.
# ---------------------------------------------------------------------------

_KNN_BUILD_CACHE: dict = {}


def _all_lineal_headers(prefixes: list[str]) -> bool:
    """True iff every distinct 5-byte WKB header (hex) in the build side
    decodes to a (Multi)LineString type code — ISO Z/M offsets and EWKB
    flags stripped. Empty set (no non-null geometries) -> False."""
    if not prefixes:
        return False
    for h in prefixes:
        if len(h) < 10:
            return False
        b = bytes.fromhex(h)
        raw = int.from_bytes(b[1:5], "little" if b[0] == 1 else "big")
        if (raw & 0x0FFFFFFF) % 1000 not in (2, 5):
            return False
    return True


def _collect_knn_build(right: DataFrame, rid: str, right_geom: str,
                       resolution: int, domain):
    """Arrow-collect the build side as (rid, wkb, bbox) and build the
    row-major (cellkey -> build row) flat index ON THE DRIVER with
    vectorized bbox_cover. The first cut computed the cover with the
    st_cells_from_bbox pandas UDF inside the collect job — per-row
    Python list building that cost ~15 core-seconds for 200k rows
    (knn_profile stage attribution), i.e. 3x the whole probe stage.
    Bounds stay Spark-side (__bb is already computed for the stats agg);
    the driver only runs numpy over the collected numeric columns.
    Returns (cache_key, broadcast, nb, rid_vals)."""
    import uuid

    from ..index import cells as C

    spark = right.sparkSession
    tbl = (right.select(F.col(rid).alias("i"),
                        F.col(right_geom).alias("g"),
                        F.col("__bb.minx").alias("x0"),
                        F.col("__bb.miny").alias("y0"),
                        F.col("__bb.maxx").alias("x1"),
                        F.col("__bb.maxy").alias("y1"))
           .toArrow().combine_chunks())
    nb = tbl.num_rows
    rid_vals = np.asarray(tbl["i"].to_pandas(), dtype=object)
    # NULL geometries ship as zero-length ranges in the packed buffer
    # (len(None) crashed here); the worker restores them to None
    rwkb: list = [w if w is not None else b""
                  for w in tbl["g"].to_pylist()]
    bb = np.column_stack([
        np.nan_to_num(tbl[c].to_numpy(zero_copy_only=False)
                      .astype(np.float64, copy=False))
        for c in ("x0", "y0", "x1", "y1")])
    # flat (rowmajor cellkey, build row) pairs, FULLY vectorized — the
    # first cut called bbox_cover here, whose per-row Python fill loop
    # cost ~12 s of driver-serial time for 200k rows (knn_profile gap
    # attribution); this is the same cover, built with one expand.
    g = np.int64(1 << resolution)
    i0b, j0b = C._grid_ij(bb[:, 0], bb[:, 1], resolution, domain)
    i1b, j1b = C._grid_ij(bb[:, 2], bb[:, 3], resolution, domain)
    ni = i1b - i0b + 1
    nj = j1b - j0b + 1
    cnt = ni * nj
    # rows spanning more than max_cells fine cells don't fit the fine-res
    # key space (bbox_cover's coarse fallback); such (rare, giant) build
    # rows become unconditional candidates of every probe — exact
    # distance still decides, and the disk bounds stay valid because
    # always-rows are searched in every probe. (The shuffle path instead
    # clamps the grid to the max bbox's cover res.)
    giant = cnt > 4096
    if giant.any():
        always = np.nonzero(giant)[0].astype(np.int64)
        cnt = np.where(giant, 0, cnt)
    else:
        always = np.empty(0, dtype=np.int64)
    total = int(cnt.sum())
    rows = np.repeat(np.arange(nb, dtype=np.int64), cnt)
    within = (np.arange(total, dtype=np.int64)
              - np.repeat(np.cumsum(cnt) - cnt, cnt))
    di = within // nj[rows]
    dj = within - di * nj[rows]
    keys = (i0b[rows] + di) * g + (j0b[rows] + dj)
    order = np.argsort(keys, kind="stable")
    # ship WKB as ONE buffer + offsets: pickling 200k separate bytes
    # objects is driver-serial time the workers re-pay on unpickle
    lens_w = np.fromiter((len(w) for w in rwkb), dtype=np.int64,
                         count=nb)
    woff = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(lens_w, out=woff[1:])
    wbuf = b"".join(rwkb)
    cache_key = uuid.uuid4().hex
    bc = spark.sparkContext.broadcast(
        {"wbuf": wbuf, "woff": woff, "ks": keys[order], "rs": rows[order],
         "al": always})
    return cache_key, bc, nb, rid_vals


def _load_knn_build(cache_key: str, bc):
    """Worker-side: decoded build batch + the row-major flat index from
    the broadcast, cached per worker process (mirrors sjoin's
    _BUILD_CACHE). The i-major key order makes a Chebyshev-k disk
    (2k+1) contiguous searchsorted ranges instead of (2k+1)^2 cell
    probes.

    All-lineal builds additionally get a flat SEGMENT SOUP
    (per-geometry CSR over one (ax, ay, dx, dy, L2) array set): the
    point-probe distance then runs as one vectorized point-to-segment
    pass instead of the general ragged pairwise kernel, which pays a
    batch ``take`` + per-group Python per candidate block (measured 4x
    slower end-to-end on the nearest_line shape). The formula is
    point_segment_dist2's, so distances stay bit-identical to
    pairwise_distance for lineal rights (0-on-the-line included)."""
    got = _KNN_BUILD_CACHE.get(cache_key)
    if got is None:
        from ..geom.predicates import _pair_edges
        from ..geom.ragged import LINESTRING as _LS
        from ..geom.ragged import MULTILINESTRING as _MLS
        from ..geom.ragged import POINT as _PT
        from ..geom.wkb import from_wkb

        v = bc.value
        wbuf, woff = v["wbuf"], v["woff"]
        rwkb = [wbuf[woff[i]:woff[i + 1]] or None
                for i in range(len(woff) - 1)]
        rb_all = from_wkb(pd.Series(rwkb))
        rpuntal = bool(len(rb_all.types) and (rb_all.types == _PT).all()
                       and (rb_all.n_coords_per_geom() == 1).all())
        rsegs = None
        # missing (type 0) and EMPTY lineal rows carry zero rings, so
        # they contribute zero segments and price as inf — exactly what
        # pairwise_distance's nan -> inf wrap yields; a stray null/empty
        # row must not knock the whole build onto the general kernel
        if (len(rb_all.types)
                and (np.isin(rb_all.types, (_LS, _MLS))
                     | rb_all.is_missing()).all()):
            nb = len(rb_all.types)
            x0, y0, x1, y1, e_geom = _pair_edges(
                rb_all, np.arange(nb, dtype=np.int64))
            segoff = np.zeros(nb + 1, dtype=np.int64)
            np.cumsum(np.bincount(e_geom, minlength=nb), out=segoff[1:])
            sdx = x1 - x0
            sdy = y1 - y0
            rsegs = (np.ascontiguousarray(x0), np.ascontiguousarray(y0),
                     sdx, sdy, sdx * sdx + sdy * sdy, segoff)
        got = (rb_all, v["ks"], v["rs"], rpuntal,
               np.array(rwkb, dtype=object), v["al"], rsegs)
        if len(_KNN_BUILD_CACHE) >= _BUILD_CACHE_MAX:
            _KNN_BUILD_CACHE.pop(next(iter(_KNN_BUILD_CACHE)))
        _KNN_BUILD_CACHE[cache_key] = got
    return got


def _broadcast_knn(probe: DataFrame, right: DataFrame, rid: str,
                   right_geom: str, resolution: int, domain,
                   min_cell: float, k_cap: int,
                   max_distance: float | None, exclusive: bool,
                   emit_geom: bool, lid_t: str, rid_t: str) -> DataFrame:
    """k=1 nearest (ties kept) as a single probe-side mapInPandas pass
    against a broadcast right side. Same certify/escalate/exact-probe
    maths as the shuffle path (disk(1) certify at d + lrad < cell;
    exhaustive re-probe at ceil((d+lrad)/cell)+1), so results are
    bit-identical — only the execution plan changes."""
    cache_key, bc, nb, rid_vals = _collect_knn_build(
        right, rid, right_geom, resolution, domain)
    g = 1 << resolution
    COMBO_CAP = 262_144  # keep per-block temporaries L2/L3-resident
    mdist = max_distance
    excl = exclusive

    def fn(it):
        from ..geom.kernels import bounds as _bounds
        from ..geom.predicates import pairwise_distance
        from ..geom.ragged import POINT as _PT
        from ..geom.ragged import _expand_ranges
        from ..geom.wkb import from_wkb
        from ..index.cells import _grid_ij

        rb_all, ks, rs, rpuntal, rwkb_arr, al, rsegs = _load_knn_build(
            cache_key, bc)
        rc = rb_all.coords if rpuntal else None
        nal = len(al)

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            lids = pdf["__xlid"].to_numpy()
            lgv = pdf["__lgeom"].to_numpy(dtype=object)
            lb = from_wkb(pdf["__lgeom"])
            lbb = _bounds(lb)
            ok_row = np.isfinite(lbb[:, 0])
            lbb = np.nan_to_num(lbb)
            mx = (lbb[:, 0] + lbb[:, 2]) / 2
            my = (lbb[:, 1] + lbb[:, 3]) / 2
            lrad = np.maximum(lbb[:, 2] - lbb[:, 0],
                              lbb[:, 3] - lbb[:, 1]) / 2
            lpuntal = bool(len(lb.types) and (lb.types == _PT).all()
                           and (lb.n_coords_per_geom() == 1).all())
            lc = lb.coords if lpuntal else None
            i0, j0 = _grid_ij(mx, my, resolution, domain)

            o_l: list = []
            o_r: list = []
            o_d: list = []

            def _probe(rows, kk, want_ties, cert_only):
                """Exact distances of every (row, build) combo whose build
                cover touches the (2kk+1)^2 block around the row's cell.
                Returns per-row best distance; when ``want_ties``, emits
                all tie rows (d == dmin, deduped) for rows passing the
                certification filter. Fully vectorized; rows never span
                chunks so per-chunk minima are final."""
                kk = int(kk)
                dmin = np.full(len(rows), np.inf)
                if (len(ks) == 0 and nal == 0) or len(rows) == 0:
                    return dmin

                def _dist(gpos, bi):
                    if lpuntal and rpuntal:
                        dx = lc[gpos, 0] - rc[bi, 0]
                        dy = lc[gpos, 1] - rc[bi, 1]
                        # sqrt(dx^2+dy^2), NOT hypot — bit parity with
                        # pairwise_distance and the SQL oracles
                        d = np.sqrt(dx * dx + dy * dy)
                    elif lpuntal and rsegs is not None:
                        # point probe vs lineal build: one vectorized
                        # point-to-segment pass over the segment soup —
                        # point_segment_dist2's exact formula, then
                        # sqrt(min), matching pairwise_distance bit for
                        # bit (a point ON the line yields d2 == 0.0).
                        # Work is sub-chunked by CUMULATIVE SEGMENT
                        # count, not pair count — COMBO_CAP bounds pairs
                        # but a vertex-heavy build (10k-point polylines)
                        # would otherwise expand pairs x segments into
                        # multi-GB temporaries in one shot.
                        sax, say, sdx, sdy, sL2, segoff = rsegs
                        cnt = segoff[bi + 1] - segoff[bi]
                        best = np.full(len(bi), np.inf)
                        csum = np.cumsum(cnt)
                        sc = 0
                        while sc < len(bi):
                            prev = csum[sc - 1] if sc else 0
                            ec = int(np.searchsorted(
                                csum, prev + 4_194_304, side="left")) + 1
                            ec = min(max(ec, sc + 1), len(bi))
                            bs = bi[sc:ec]
                            cs = cnt[sc:ec]
                            slots = _expand_ranges(segoff[bs],
                                                   segoff[bs] + cs)
                            pr = np.repeat(
                                np.arange(ec - sc, dtype=np.int64), cs)
                            gl = gpos[sc:ec][pr]
                            L2 = sL2[slots]
                            wx = lc[gl, 0] - sax[slots]
                            wy = lc[gl, 1] - say[slots]
                            dx = sdx[slots]
                            dy = sdy[slots]
                            with np.errstate(divide="ignore",
                                             invalid="ignore"):
                                t = (wx * dx + wy * dy) / np.where(
                                    L2 == 0, 1.0, L2)
                            t = np.clip(
                                np.where(L2 == 0, 0.0, t), 0.0, 1.0)
                            ex = wx - t * dx
                            ey = wy - t * dy
                            d2 = ex * ex + ey * ey
                            nzc = cs > 0
                            if d2.size:
                                st = np.zeros(ec - sc, dtype=np.int64)
                                np.cumsum(cs[:-1], out=st[1:])
                                best[sc:ec][nzc] = np.minimum.reduceat(
                                    d2, st[nzc])
                            sc = ec
                        d = np.sqrt(best)
                    else:
                        d = pairwise_distance(lb.take(gpos),
                                              rb_all.take(bi))
                    if excl:
                        eq = np.fromiter(
                            (a == b for a, b in
                             zip(lgv[gpos], rwkb_arr[bi])),
                            dtype=bool, count=len(gpos))
                        d = np.where(eq, np.inf, d)
                    if mdist is not None:
                        d = np.where(d > mdist, np.inf, d)
                    return np.where(np.isnan(d), np.inf, d)

                cols = 2 * kk + 1
                CCHUNK = max(1, COMBO_CAP // max(cols, nal))
                for s0 in range(0, len(rows), CCHUNK):
                    rr = rows[s0:s0 + CCHUNK]
                    m = len(rr)
                    ii = i0[rr][:, None] + np.arange(-kk, kk + 1)[None, :]
                    valid = (ii >= 0) & (ii < g)
                    jlo = np.clip(j0[rr] - kk, 0, g - 1)[:, None]
                    jhi = np.clip(j0[rr] + kk, 0, g - 1)[:, None]
                    klo = (ii * g + jlo).ravel()
                    khi = (ii * g + jhi + 1).ravel()
                    lo = np.searchsorted(ks, klo)
                    hi = np.searchsorted(ks, khi)
                    vr = valid.ravel()
                    lo[~vr] = 0
                    hi[~vr] = 0
                    lo2d = lo.reshape(m, cols)
                    hi2d = hi.reshape(m, cols)
                    rcnt = (hi2d - lo2d).sum(axis=1)
                    csum = np.cumsum(rcnt)
                    gb = [0]
                    while gb[-1] < m:
                        prev = csum[gb[-1] - 1] if gb[-1] else 0
                        j = int(np.searchsorted(
                            csum, prev + COMBO_CAP, side="left")) + 1
                        gb.append(min(max(j, gb[-1] + 1), m))
                    for ga, gz in zip(gb[:-1], gb[1:]):
                        mm = gz - ga
                        rcc = rcnt[ga:gz]
                        dloc = np.full(mm, np.inf)
                        have = bool(rcc.sum())
                        if have:
                            slots = _expand_ranges(lo2d[ga:gz].ravel(),
                                                   hi2d[ga:gz].ravel())
                            bi = rs[slots]
                            li = np.repeat(np.arange(mm), rcc)
                            gpos = rr[ga + li]
                            d = _dist(gpos, bi)
                            nz = rcc > 0
                            nnz = int(nz.sum())
                            starts = np.zeros(nnz, dtype=np.int64)
                            np.cumsum(rcc[nz][:-1], out=starts[1:])
                            dloc[nz] = np.minimum.reduceat(d, starts)
                        if nal:
                            # giant-bbox build rows: candidates of EVERY
                            # probe (their cover overflowed the fine grid)
                            li_a = np.repeat(np.arange(mm), nal)
                            bi_a = np.tile(al, mm)
                            d_a = _dist(rr[ga + li_a], bi_a)
                            dloc = np.minimum(
                                dloc, d_a.reshape(mm, nal).min(axis=1))
                        tgt = s0 + np.arange(ga, gz)
                        dmin[tgt] = dloc
                        if want_ties:
                            ok_r = np.isfinite(dloc)
                            if cert_only:
                                ok_r &= (dloc + lrad[rows[tgt]]) < min_cell
                            if have:
                                tie = (ok_r[li] & np.isfinite(d)
                                       & (d == dloc[li]))
                                if tie.any():
                                    tl = gpos[tie]
                                    tb = bi[tie]
                                    td = d[tie]
                                    # multi-cell build covers can surface
                                    # the same pair via several columns —
                                    # dedup on the (row, build) key
                                    key = (tl.astype(np.int64)
                                           * np.int64(nb) + tb)
                                    _, ui = np.unique(key, return_index=True)
                                    o_l.append(tl[ui])
                                    o_r.append(tb[ui])
                                    o_d.append(td[ui])
                            if nal:
                                tie = (ok_r[li_a] & np.isfinite(d_a)
                                       & (d_a == dloc[li_a]))
                                if tie.any():
                                    o_l.append(rr[ga + li_a[tie]])
                                    o_r.append(bi_a[tie])
                                    o_d.append(d_a[tie])
                return dmin

            rows_all = np.nonzero(ok_row)[0].astype(np.int64)
            if len(rows_all):
                dmin1 = _probe(rows_all, 1, want_ties=True, cert_only=True)
                cert = (dmin1 + lrad[rows_all]) < min_cell
                unc = rows_all[~cert]
                if len(unc) and (len(ks) or nal):
                    dk = dmin1[~cert].copy()
                    # sparse neighborhoods: geometric disk escalation until
                    # SOME candidate bounds the search (<2% of rows on
                    # uniform-ish data; the exact probe below certifies)
                    pend = np.nonzero(~np.isfinite(dk))[0]
                    kk = 2
                    while len(pend):
                        kcur = min(kk, k_cap)
                        dd = _probe(unc[pend], kcur,
                                    want_ties=False, cert_only=False)
                        fnd = np.isfinite(dd)
                        dk[pend[fnd]] = dd[fnd]
                        pend = pend[~fnd]
                        if kcur >= k_cap:
                            break  # exhausted the search bound
                        kk *= 2
                    # ONE exhaustive probe per row at its exact radius:
                    # disk(ceil((d+lrad)/cell)+1) provably contains the
                    # true nearest and all ties (same bound as the
                    # shuffle-path tail)
                    fin = np.isfinite(dk)
                    if fin.any():
                        k2 = np.minimum(
                            np.ceil((dk[fin] + lrad[unc[fin]]) / min_cell)
                            .astype(np.int64) + 1, k_cap)
                        ur = unc[fin]
                        for kv in np.unique(k2):
                            _probe(ur[k2 == kv], int(kv),
                                   want_ties=True, cert_only=False)
            if o_l:
                tl = np.concatenate(o_l)
                tb = np.concatenate(o_r)
                out = {"__xlid": lids[tl], "__xrid": rid_vals[tb],
                       "__d": np.concatenate(o_d)}
                if emit_geom:
                    out["__lgeom"] = lgv[tl]
                yield pd.DataFrame(out)

    schema = f"__xlid {lid_t}, __xrid {rid_t}, __d double"
    if emit_geom:
        schema += ", __lgeom binary"
    return probe.mapInPandas(fn, schema=schema)


def _shuffle_knn_matched(left, right, lid, rid, left_geom, right_geom,
                         rcells, resolution, domain, min_cell, k_cap,
                         grid_n, max_distance, exclusive, narrow,
                         lid_t, rid_t):
    """Big-right fallback: the original union-shuffle cell kNN pass plus
    directory-driven tail (see module docstring). Used when the right
    side is too large to broadcast; returns matched
    (__xlid, __xrid, __d[, __lgeom])."""
    # ONE cover computation (WKB decode + bbox_cover), lazily checkpointed:
    # both phase 1 (disk-replicated build side) and the tail (exact cell
    # join) derive from it — round-2 profile showed the decode->cover UDF
    # chain running twice, once per consumer, ~20% of the whole join
    rcov = right.select(
        F.col(rid).alias("__xrid"), F.col(right_geom).alias("__rgeom"),
        rcells.alias("__rcells"),
    ).localCheckpoint(eager=False)
    rx = rcov.select("__xrid", "__rgeom", F.explode("__rcells").alias("__cell"))

    # midpoint cell via a tiny UDF on the bbox struct
    @pandas_udf("long")
    def _mid_cell(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        from ..index import cells as C

        mx = (minx.to_numpy(np.float64) + maxx.to_numpy(np.float64)) / 2
        my = (miny.to_numpy(np.float64) + maxy.to_numpy(np.float64)) / 2
        miss = np.isnan(mx)
        ids = C.point_cell(np.nan_to_num(mx), np.nan_to_num(my), resolution, domain)
        return pd.Series(np.where(miss, None, ids))

    lbase = left.select(
        F.col(lid).alias("__xlid"),
        F.col(left_geom).alias("__lgeom"),
        _mid_cell("__bb.minx", "__bb.miny", "__bb.maxx", "__bb.maxy").alias("__cell0"),
        # half-extent of the left bbox: disk guarantees are measured from
        # the midpoint cell, so non-point left geometries widen the radius
        (F.greatest(F.col("__bb.maxx") - F.col("__bb.minx"),
                    F.col("__bb.maxy") - F.col("__bb.miny")) / 2).alias("__lrad"),
    ).filter(F.col("__cell0").isNotNull())


    # ---- phase 1: single-shuffle cell kNN pass ---------------------------
    rrep = rcov.select(
        F.col("__xrid").alias("__rid"), F.col("__rgeom").alias("__geom"),
        F.explode(_cover_disk_udf()(F.col("__rcells"))).alias("__cell"),
    ).withColumn("__side", F.lit(0))
    ltag = lbase.select(
        F.col("__xlid").alias("__lid"), F.col("__lgeom").alias("__geom"),
        F.col("__cell0").alias("__cell"), "__lrad",
    ).withColumn("__side", F.lit(1))

    # hash-partition by cell, then sort within the partition so the kNN
    # pass can stream chunk-by-chunk (complete cells processed as they
    # arrive) instead of materializing whole partitions in pandas
    # explicit partition count: a bare repartition(col) is an AQE-
    # coalescible exchange sized by BYTES, but this stage is compute-
    # bound — byte-sized coalescing would cap its parallelism
    n_parts = max(left.sparkSession.sparkContext.defaultParallelism * 2, 16)
    tagged = ltag.unionByName(
        rrep.select(F.col("__rid"), "__geom", "__cell", "__side"),
        allowMissingColumns=True,
    ).repartition(n_parts, "__cell").sortWithinPartitions("__cell")
    p1 = tagged.mapInPandas(
        _knn_cell_pass(min_cell, max_distance, exclusive, carry_geom=narrow),
        schema=(f"__xlid {lid_t}, __xrid {rid_t}, __d double, __ok boolean,"
                " __tgeom binary, __tcell long, __trad double"),
    ).localCheckpoint(eager=False)

    if narrow:
        done = p1.filter(F.col("__ok")).select(
            "__xlid", "__xrid", "__d", F.col("__tgeom").alias("__lgeom"))
    else:
        done = p1.filter(F.col("__ok")).select("__xlid", "__xrid", "__d")


    # rx reads from the rcov checkpoint — no second cover computation
    rxp = rx

    # ---- tail: one directory-driven probe for every uncertified row ------
    # A directory of the right side's non-empty cells (one small distinct
    # collect) turns the tail into a single join: each tail row probes
    # exactly the non-empty cells within its bound B — B = its phase-1 best
    # distance, or (for rows with no candidate) the min over directory
    # cells of the worst-case distance into that cell. No disk expansion,
    # no iteration. Falls back to bounded disk expansion only when the
    # directory would be too large to broadcast (then cells are coarse).
    # NOT checkpointed: p1 already is, so every consumer re-reads the
    # checkpoint and re-applies one cheap filter — a third localCheckpoint
    # costs ~1.5s of driver-serial RDD plan compilation (round-3 profile)
    unresolved = p1.filter(~F.col("__ok")).select(
        "__xlid", F.col("__tgeom").alias("__lgeom"),
        F.col("__tcell").alias("__cell0"), F.col("__trad").alias("__lrad"),
        F.col("__d").alias("__dbest"),
    )
    tail_probes = []
    # ONE action sizes both tail classes (round 1 ran isEmpty twice — two
    # extra serial jobs per call)
    _nan_pred = F.col("__dbest").isNull() | F.isnan("__dbest")
    _sz = unresolved.agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum(F.when(_nan_pred, 1).otherwise(0)).alias("nn")).collect()[0]
    n_unres, n_nan = int(_sz["nu"] or 0), int(_sz["nn"] or 0)
    if n_unres:
        # Rows WITH a phase-1 candidate carry a realized distance dbest —
        # a valid upper bound — so they probe a small exact-radius disk:
        # O(k^2) cells per row with k ~ ceil(dbest/cell). Only rows with
        # NO candidate (sparse neighborhoods, rare) need the directory
        # bitmap below; round-2 change — the directory probe was O(rows x
        # |directory|) and dominated the whole join on dense data.
        have_d = unresolved.filter(~_nan_pred)
        nanrows = unresolved.filter(_nan_pred)

        def _disk_probe(src, bcol):
            kcol = F.least(
                F.ceil((bcol + F.col("__lrad")) / F.lit(min_cell)) + 1,
                F.lit(k_cap),
            ).cast("long")
            return src.withColumn("__k", kcol).select(
                "__xlid", "__lgeom",
                F.explode(_disk_cells_var_udf()(
                    F.col("__cell0"), F.col("__k"))).alias("__cell"))

        bcol = F.col("__dbest")
        if max_distance is not None:
            bcol = F.least(bcol, F.lit(float(max_distance)))
        tail_probes.append(_disk_probe(have_d, bcol))

        if n_nan:
            tail_probes.extend(_nocand_probes(
                nanrows, rxp, _disk_probe, resolution, min_cell,
                k_cap, max_distance,
                float(np.hypot(*cell_size(resolution, domain)))))
    if tail_probes:
        # union ALL probe-cell rows first, then ONE join against the
        # right cell table (round-4: per-probe joins each built their
        # own broadcast relation — serial single-task driver stages)
        probe_rows = tail_probes[0]
        for pdf_ in tail_probes[1:]:
            probe_rows = probe_rows.unionByName(pdf_)
        tail_pairs = (probe_rows.join(rxp, on="__cell", how="inner")
                      .select("__xlid", "__xrid", "__lgeom", "__rgeom"))
        # Round-4 restructure (north-rule profile, tools/knn_profile.py):
        # the tail used to materialize EVERY candidate pair into a
        # dropDuplicates (SortAggregate + full-pair exchange), a per-pair
        # st_distance ArrowEvalPython, and a window over a second
        # full-pair exchange — on a 2M x 200k run that is ~2.9M pairs /
        # ~126 MB of exchanges for ~30k tail rows, and those shuffle
        # stages are precisely what stops scaling under memory-bandwidth
        # contention. The candidate pairs stream out of a broadcast hash
        # join, so instead ONE mapInPandas kernel consumes them batch by
        # batch with NO preceding exchange: distances are computed
        # vectorized (same pairwise_distance kernel as st_distance — bit
        # parity), and only each batch's per-left minimum ties survive.
        # Duplicate pairs (nanrows probe twice) collapse in the final
        # tiny dedup; the global min + ties resolve in a window over the
        # ~per-batch-minima rows (~1-2 per left per batch), not the pairs.
        emit_geom = narrow
        mdist = max_distance
        excl = exclusive

        def _tail_best(it):
            from ..geom.predicates import pairwise_distance
            from ..geom.wkb import from_wkb
            from ..geom.ragged import POINT as _PT

            for pdf in it:
                if len(pdf) == 0:
                    continue
                lg = pdf["__lgeom"]
                rg = pdf["__rgeom"]
                lb = from_wkb(lg)
                rb = from_wkb(rg)
                if ((lb.types == _PT).all() and (rb.types == _PT).all()
                        and (lb.n_coords_per_geom() == 1).all()
                        and (rb.n_coords_per_geom() == 1).all()):
                    dx = lb.coords[:, 0] - rb.coords[:, 0]
                    dy = lb.coords[:, 1] - rb.coords[:, 1]
                    d = np.sqrt(dx * dx + dy * dy)
                else:
                    d = pairwise_distance(lb, rb)
                if excl:
                    lgv = lg.to_numpy(dtype=object)
                    rgv = rg.to_numpy(dtype=object)
                    eq = np.fromiter((a == b for a, b in zip(lgv, rgv)),
                                     dtype=bool, count=len(lgv))
                    d = np.where(eq, np.inf, d)
                if mdist is not None:
                    d = np.where(d > mdist, np.inf, d)
                d = np.where(np.isnan(d), np.inf, d)
                lidv = pdf["__xlid"].to_numpy()
                order = np.argsort(lidv, kind="stable")
                lid_s = lidv[order]
                d_s = d[order]
                seg_start = np.nonzero(
                    np.r_[True, lid_s[1:] != lid_s[:-1]])[0]
                dmin = np.minimum.reduceat(d_s, seg_start)
                seg_id = np.cumsum(np.r_[True, lid_s[1:] != lid_s[:-1]]) - 1
                keep = np.isfinite(d_s) & (d_s == dmin[seg_id])
                src = order[keep]
                out = {
                    "__xlid": lidv[src],
                    "__xrid": pdf["__xrid"].to_numpy()[src],
                    "__d": d[src],
                }
                if emit_geom:
                    out["__lgeom"] = lg.to_numpy(dtype=object)[src]
                yield pd.DataFrame(out)

        tb_schema = f"__xlid {lid_t}, __xrid {rid_t}, __d double"
        if emit_geom:
            tb_schema += ", __lgeom binary"
        best = tail_pairs.mapInPandas(_tail_best, schema=tb_schema)
        w = Window.partitionBy("__xlid")
        tcols = ["__xlid", "__xrid", "__d"] + (["__lgeom"] if narrow else [])
        tail_matched = (
            best.withColumn("__dmin", F.min("__d").over(w))
            .filter(F.col("__d") == F.col("__dmin"))
            .dropDuplicates(["__xlid", "__xrid"])
            .select(*tcols)
        )
        matched = done.unionByName(tail_matched)
    else:
        matched = done
    return matched


def sjoin_nearest(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
    max_distance: float | None = None,
    lsuffix: str = "left",
    rsuffix: str = "right",
    distance_col: str | None = None,
    exclusive: bool = False,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    left_id: str | None = None,
    right_id: str | None = None,
    resolution: int | None = None,
    domain=DOMAIN_UNIT,
    max_iters: int = 8,
    broadcast_right: bool | None = None,
) -> DataFrame:
    # reference _basic_checks (tools/sjoin.py:123-127): pre-existing
    # index column names would collide with the emitted index column
    if f"index_{lsuffix}" in left.columns:
        raise ValueError(
            f"'index_{lsuffix}' column already exists in left DataFrame")
    if f"index_{rsuffix}" in right.columns:
        raise ValueError(
            f"'index_{rsuffix}' column already exists in right DataFrame")
    if how == "right":
        # reference contract (tools/sjoin.py:341,365 + the how='right'
        # docstring example): each RIGHT row finds its nearest LEFT rows
        # (ties kept), all right rows retained, right geometry kept,
        # index_left names the matched left keys. That is exactly the
        # reversed left join with the suffixes swapped; column order
        # (right data first) matches the engine's sjoin right join.
        out = sjoin_nearest(
            right, left, how="left", max_distance=max_distance,
            lsuffix=rsuffix, rsuffix=lsuffix, distance_col=distance_col,
            exclusive=exclusive, left_geom=right_geom,
            right_geom=left_geom, left_id=right_id, right_id=left_id,
            resolution=resolution, domain=domain, max_iters=max_iters,
            broadcast_right=broadcast_right)
        return out.withColumnRenamed("index_right", "index_left")
    if how not in ("inner", "left"):
        raise ValueError(
            "sjoin_nearest supports how in ('inner','left','right')")

    left, lid = _prep_side(left, left_geom, left_id, "l")
    right, rid = _prep_side(right, right_geom, right_id, "r")

    # ONE tiny agg job sizes the grid AND decides the broadcast path
    # (UDF-derived sizes defeat AQE's auto-broadcast estimation, so the
    # operator decides from stats, mirroring sjoin). Skipped only when
    # the caller pinned both decisions.
    n_right = -1
    rstats = None
    if resolution is None or broadcast_right is None:
        r = right.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col("__bb.maxx") - F.col("__bb.minx")).alias("aw"),
            F.avg(F.col("__bb.maxy") - F.col("__bb.miny")).alias("ah"),
            F.max(F.col("__bb.maxx") - F.col("__bb.minx")).alias("mw"),
            F.max(F.col("__bb.maxy") - F.col("__bb.miny")).alias("mh"),
            # JVM-only geometry-type sniff: the 5-byte WKB header
            # (endian + type code) distinct set — no UDF, no extra job
            F.collect_set(
                F.hex(F.substring(F.col(right_geom), 1, 5))).alias("tp"),
        ).collect()[0]
        n_right = int(r["n"] or 0)
        rstats = {"n": n_right, "aw": float(r["aw"] or 0.0),
                  "ah": float(r["ah"] or 0.0),
                  "mw": float(r["mw"] or 0.0), "mh": float(r["mh"] or 0.0),
                  "tp": list(r["tp"] or [])}
    if resolution is None:
        if max_distance is not None:
            resolution = pick_resolution(max_distance, max_distance,
                                         domain=domain, target_cells=1.0)
        else:
            # ~8 right geometries per cell: dense enough that the k=1 disk
            # usually holds the true nearest neighbor AND certifies it
            resolution = int(np.clip(
                int(np.ceil(np.log2(max(n_right / 8.0, 1)) / 2)), 1, MAX_RES))
    min_cell = min(cell_size(resolution, domain))
    if broadcast_right is None:
        # plan choice, not correctness (plans are pinned bit-identical):
        # the broadcast kernel's per-candidate distance is vectorized
        # only for puntal (sqrt math) and lineal (segment-soup) builds;
        # an areal/mixed build pays the general ragged pairwise kernel
        # per (2k+1)^2-cell candidate block, measured 4-5x slower than
        # the shuffle plan's one-cell phase-1 on the nearest_line shape
        # (sf0.1: 28.8 s vs 7.6 s) — keep those on the shuffle plan.
        # Puntal == zero bbox extents; lineal == every distinct 5-byte
        # WKB header is a (Multi)LineString code. Both come out of the
        # one stats agg — no extra job.
        rpuntal = rstats["mw"] == 0.0 and rstats["mh"] == 0.0
        broadcast_right = (
            n_right > 0
            and (rpuntal or _all_lineal_headers(rstats["tp"]))
            and _est_exploded(rstats, resolution, domain)
            <= BROADCAST_EXPLODED_ROWS)
    if not broadcast_right:
        # shuffle path joins on exact fine-res cell equality, so a build
        # row whose cover fell back to coarser cells (bbox > max_cells
        # fine cells) would be invisible — clamp the grid to the res the
        # LARGEST bbox still covers at full res. (The broadcast path
        # keeps the fine grid and treats giants as always-candidates.)
        # Correctness must not depend on the caller's resolution hint, so
        # the max-extent stats run even when both hints were explicit.
        if rstats is None:
            r = right.agg(
                F.max(F.col("__bb.maxx") - F.col("__bb.minx")).alias("mw"),
                F.max(F.col("__bb.maxy") - F.col("__bb.miny")).alias("mh"),
            ).collect()[0]
            rstats = {"mw": float(r["mw"] or 0.0),
                      "mh": float(r["mh"] or 0.0)}
        rres_min = _min_cover_res(rstats, resolution, domain)
        if rres_min < resolution:
            resolution = rres_min
            min_cell = min(cell_size(resolution, domain))

    rcells = st_cells_from_bbox("__bb.minx", "__bb.miny", "__bb.maxx",
                                "__bb.maxy", resolution, domain=domain)

    # narrow fast path (mirrors sjoin): when both sides carry nothing
    # beyond (id, geometry) and how='inner', the pass output IS the join
    # output — certified rows carry the left WKB so BOTH assembly joins
    # (two |result|-row shuffles) are skipped
    auto_l = left_id is None
    auto_r = right_id is None
    _ldata = [c for c in left.columns
              if c != "__bb" and not (auto_l and c == lid)]
    _rdata = [c for c in right.columns
              if c != "__bb" and c != right_geom and not (auto_r and c == rid)]
    narrow = (how == "inner" and set(_ldata) <= {lid, left_geom}
              and set(_rdata) <= {rid})

    grid_n = 1 << resolution
    k_cap = grid_n  # full-grid disk == brute force
    if max_distance is not None:
        k_cap = min(k_cap, int(np.ceil(max_distance / min_cell)) + 1)
    lid_t = dict(left.dtypes)[lid]
    rid_t = dict(right.dtypes)[rid]

    if broadcast_right:
        probe = left.select(F.col(lid).alias("__xlid"),
                            F.col(left_geom).alias("__lgeom"))
        matched = _broadcast_knn(probe, right, rid, right_geom, resolution,
                                 domain, min_cell, k_cap, max_distance,
                                 exclusive, narrow, lid_t, rid_t)
    else:
        matched = _shuffle_knn_matched(
            left, right, lid, rid, left_geom, right_geom, rcells,
            resolution, domain, min_cell, k_cap, grid_n, max_distance,
            exclusive, narrow, lid_t, rid_t)

    if narrow:
        # zero-join output: ids + left geometry + distance straight from
        # the pass (collision naming mirrors _suffix_columns)
        collide = (not auto_l) and (not auto_r) and lid == rid
        cols = []
        if not auto_l:
            cols.append(F.col("__xlid").alias(
                f"{lid}_{lsuffix}" if collide else lid))
        if left_geom in _ldata:
            cols.append(F.col("__lgeom").alias(left_geom))
        if not auto_r:
            cols.append(F.col("__xrid").alias(
                f"{rid}_{rsuffix}" if collide else rid))
        cols.append(F.col("__xrid").alias("index_right"))
        if distance_col is not None:
            cols.append(F.col("__d").alias(distance_col))
        return matched.select(*cols)

    # ---- assemble (same rules as sjoin) ---------------------------------
    lclean = left.drop("__bb")
    rclean = right.drop("__bb")
    ldata = [c for c in lclean.columns if not (auto_l and c == lid)]
    rdata = [c for c in rclean.columns if not (auto_r and c == rid) and c != right_geom]
    lmap, rmap = _suffix_columns(
        lclean.select(ldata), rclean.select(rdata), lsuffix, rsuffix, exclude=set()
    )
    lfull = lclean.select(
        *[F.col(c).alias(lmap.get(c, c)) for c in ldata],
        F.col(lid).alias("__LID"),
    )
    rfull = rclean.select(
        *[F.col(c).alias(rmap.get(c, c)) for c in rdata],
        F.col(rid).alias("__RID"),
    )
    pairs_out = matched.select(
        F.col("__xlid").alias("__LID"), F.col("__xrid").alias("__RID"), "__d"
    )
    joined = (
        lfull.join(pairs_out, on="__LID", how="inner" if how == "inner" else "left")
        .join(rfull, on="__RID", how="left")
        .withColumn("index_right", F.col("__RID"))
    )
    if distance_col is not None:
        joined = joined.withColumn(distance_col, F.col("__d"))
    return joined.drop("__LID", "__RID", "__d")
