"""Stream-static spatial join (Structured Streaming).

The reference (GeoPandas) is batch-only, but the engine's spatial-join
machinery (operators/sjoin.py, index/cells.py) is stateless per
row-pair, so it maps directly onto a Spark stream-static inner join:

    stream side (unbounded)  — cell cover, narrow per-microbatch
    static side (dimension)  — cell cover computed ONCE, cached, and
                               broadcast into every microbatch

No watermark, no state store: candidate generation is an equi-join on
cell id, and exact-pair dedup uses the stateless reference-point rule (a
pair is emitted only from the CANONICAL cell — the cell, at the pair's
coarser per-row cover resolution, containing the top-left corner of the
two bboxes' intersection), so a geometry covered by many cells still
yields each pair exactly once — without dropDuplicates, which would need
unbounded state on a stream.

Mixed cover resolutions are handled exactly (ADVICE r2 fix): bbox_cover
coarsens any row whose cover would exceed max_cells, so

* the static side emits its cover cells PLUS the full ancestor chain
  down to res 0 — a stream row coarsened to ANY resolution still meets
  the static row at the coarse cell (bounded blow-up on a broadcast
  dimension: ancestors dedupe per row),
* the stream side emits ancestors down to the static side's minimum
  possible cover res (a one-off stats pass over the bounded static
  side) — a coarsened STATIC row still meets fine stream rows,
* the refine recomputes each pair's owner cell from both bboxes
  (index/cells.canonical_cell, the rule batch sjoin's cogroup pass and
  overlay use), so the multi-level matches collapse to exactly one
  surviving cell per true pair.

At 100 TB/day this is the shape you want: the static side is a bounded
dimension (boundaries, geofences) whose exploded cover fits in executor
memory; every microbatch does a broadcast hash join plus an Arrow refine,
all narrow, no shuffle of the stream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..index.cells import DOMAIN_UNIT

# predicates whose true pairs always have overlapping bboxes — the
# reference-point dedup rule is exact for these. dwithin needs a cover
# expansion that would couple resolution to distance; not offered here.
_BBOX_SAFE = frozenset({
    "intersects", "contains", "contains_properly", "within", "covers",
    "covered_by", "touches", "crosses", "overlaps", "equals",
})


def _refine_keep(predicate: str, resolution: int, domain,
                 max_cells: int = 4096) -> Column:
    """Pairwise predicate + canonical-cell ownership, one Arrow pass.

    Ownership (index/cells.canonical_cell) is evaluated with the same
    max_cells fallback the cover used, so pairs that joined at several
    resolutions via the ancestor chains survive in exactly one cell."""

    @pandas_udf("boolean")
    def _f(lg: pd.Series, rg: pd.Series, cell: pd.Series) -> pd.Series:
        from ..geom.kernels import bounds
        from ..geom.predicates import pairwise_predicate
        from ..geom.wkb import from_wkb
        from ..index import cells as C

        # candidate batches repeat the few static geometries' WKB for
        # every stream row in their cells: decode UNIQUES once and
        # gather — WKB parse is the hot cost (round-4 review fix)
        lcod, luniq = pd.factorize(lg, use_na_sentinel=False)
        rcod, runiq = pd.factorize(rg, use_na_sentinel=False)
        lb = from_wkb(pd.Series(luniq))
        rb = from_wkb(pd.Series(runiq))
        if len(luniq) != len(lg):
            lb = lb.take(lcod)
        if len(runiq) != len(rg):
            rb = rb.take(rcod)
        ok = np.asarray(pairwise_predicate(predicate, lb, rb), dtype=bool)
        own = C.canonical_cell(np.nan_to_num(bounds(lb)),
                               np.nan_to_num(bounds(rb)), resolution,
                               domain, max_cells)
        return pd.Series(ok & (own == cell.to_numpy(dtype=np.int64)))

    return _f


def sjoin_stream(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    resolution: int = 7,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    right_id: str = "index_right",
    domain=DOMAIN_UNIT,
    max_cells: int = 4096,
) -> DataFrame:
    """Spatial join of a (possibly streaming) ``left`` against a STATIC
    ``right``. Returns left rows joined with ``right``'s id column; works
    identically on batch frames (the pytest oracle runs it both ways).

    ``resolution`` is fixed (no stats pass on the STREAM — a streaming
    plan cannot collect), chosen by the caller from the static side's
    feature size via index.cells.pick_resolution. The static side gets a
    one-off plan-time stats pass (it is bounded) to size the stream
    side's ancestor chain.
    """
    if predicate not in _BBOX_SAFE:
        raise ValueError(
            f"sjoin_stream supports {sorted(_BBOX_SAFE)}; got {predicate!r}"
            " (dwithin needs a distance-expanded cover; use batch sjoin)")
    from ..functions.st import st_bounds, st_cells
    from ..operators.sjoin import _ancestors_udf, _min_cover_res

    # plan-time stats on the BOUNDED static side: its largest bbox bounds
    # how coarse its per-row cover can fall, which is how deep the stream
    # side's ancestor chain must go to meet coarsened static rows
    # nanvl: st_bounds emits NaN (not NULL) for empty/missing geometries
    # and max() ranks NaN above every real width — one empty row would
    # NaN the stats and crash _min_cover_res (round-4 review fix)
    s = (right.select(st_bounds(right_geom).alias("b"))
         .agg(F.max(F.nanvl(F.col("b.maxx") - F.col("b.minx"),
                            F.lit(0.0))).alias("mw"),
              F.max(F.nanvl(F.col("b.maxy") - F.col("b.miny"),
                            F.lit(0.0))).alias("mh"))
         .collect()[0])
    rmin_static = _min_cover_res(
        {"mw": float(s["mw"] or 0.0), "mh": float(s["mh"] or 0.0)},
        resolution, domain, max_cells=max_cells)

    rcov = right.withColumn(
        "__cells", st_cells(right_geom, resolution, domain=domain,
                            max_cells=max_cells))
    # full ancestor chain: a stream row may coarsen to ANY res (its bbox
    # is unknown at plan time), so the static cover must be joinable at
    # every level. Coarse ancestors dedupe per row — bounded blow-up on a
    # broadcast dimension.
    rcov = rcov.withColumn("__cells", _ancestors_udf(0)(F.col("__cells")))
    rcells = (
        rcov.withColumn("__cell", F.explode("__cells"))
        .select(F.col(right_id),
                F.col(right_geom).alias("__rgeom"), "__cell")
        # lazy localCheckpoint pins ONE materialization of the static
        # cover across microbatches; its blocks are GC-freed by the
        # ContextCleaner when the query stops (persist() would leak a
        # CacheManager entry until an explicit unpersist)
        .localCheckpoint(eager=False)
    )
    lcov = left.withColumn(
        "__cells", st_cells(left_geom, resolution, domain=domain,
                            max_cells=max_cells))
    if rmin_static < resolution:
        # coarsened static rows exist (or may): fine stream rows must
        # also meet them at the static side's coarse levels
        lcov = lcov.withColumn("__cells",
                               _ancestors_udf(rmin_static)(F.col("__cells")))
    lcells = lcov.withColumn("__cell", F.explode("__cells")).drop("__cells")
    joined = lcells.join(F.broadcast(rcells), "__cell", "inner")
    keep = _refine_keep(predicate, resolution, domain, max_cells)
    out = joined.filter(keep(F.col(left_geom), F.col("__rgeom"),
                             F.col("__cell")))
    return out.drop("__cell", "__rgeom")
