"""The benchmark's workloads. Each has ``setup`` (make the seeded inputs
and load them), ``warmup``, ``step`` (one timed unit of work, checked) and
``report`` (the workload's named metrics).

bulk_join — a seeded point set (uniform background plus hot spots) against
    a layer of axis-aligned rects mixed with non-convex 12-gon stars: one
    ``sjoin`` (intersects), one ``sjoin_nearest`` from a probe sample to
    the same layer with most probes outside every polygon, and one
    ``overlay`` intersection of two star layers per step. Per-call driver
    work (stats jobs, build collect and broadcast), the kernels and the
    Arrow boundary share the time.
docs_pipeline — the north-rule pipeline over a seeded
    ``doc_id, spans array<struct<kind,text,media_ref,offset>>`` table with
    point / polygon / line WKT inside text spans and a stated share of
    near-duplicate documents: ``plans.pipeline.Pipeline`` stages
    with_geometry -> minhash_lsh dedup -> to_tiles(clip=True) -> sjoin
    against a region layer, each writing parquet; then the same pipeline
    again, which resumes and skips every stage.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs as I
from . import oracles as O


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f} s]: {msg}",
          file=sys.stderr, flush=True)


def _read(path: str, columns=None) -> pa.Table:
    return pq.ParquetDataset(path).read(columns=columns)


class Workload:
    name = ""
    tiny: dict = {}  # input sizes of the warm-up step

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = size
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.label = ""  # prefix of this instance's progress lines

    def _input(self, name: str) -> str:
        return os.path.join(self.work, "in", name + ".parquet")

    def setup(self) -> dict[str, pa.Table]:
        """Generate the inputs, write them to parquet and open them in
        Spark; returns the generated tables."""
        tables = self.generate()
        os.makedirs(os.path.dirname(self._input("x")), exist_ok=True)
        self.df = {}
        for name, t in tables.items():
            pq.write_table(t, self._input(name))
            self.df[name] = self.spark.read.parquet(self._input(name))
        return tables

    def _record(self, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.failures.extend(fails)

    def operate(self, layer: str, run):
        """One operator call (see ``Tracer.call``); a raised error counts
        as a failed operation."""
        try:
            return self.tracer.call(layer, run)
        except Exception as e:  # the run goes on; the failure is counted
            self._record([f"{layer}: {type(e).__name__}: {e}"])
            return None

    def warmup(self) -> None:
        """One step on tiny inputs of the same shape, outside the measured
        window: it starts the Python workers and compiles the step's plans
        and code paths, so the measured step does not pay for that."""
        from .trace import Tracer

        tiny = type(self)(self.spark, Tracer(self.spark), os.path.join(
            self.work, "warmup"), self.seed, self.tiny)
        tiny.label = "warm-up "
        tiny.setup()
        tiny.prepare_checks()
        tiny.reset()
        tiny.step()
        self.attempted += tiny.attempted
        self.failed += tiny.failed
        self.failures += tiny.failures


# ---------------------------------------------------------------------------


class BulkJoin(Workload):
    name = "bulk_join"
    tiny = {"points": 500, "polygons": 100, "poly_size": 0.02,
            "knn_probes": 10, "knn_checked": 5, "overlay": 50,
            "overlay_size": 0.05, "overlay_checked": 5}

    def generate(self) -> dict[str, pa.Table]:
        s = self.size
        rng = np.random.default_rng([self.seed, 1])
        self.pts = I.points(rng, s["points"])
        self.polys = I.polygons(rng, s["polygons"], rect_share=0.5,
                                size=s["poly_size"])
        self.probe_idx = np.sort(rng.choice(s["points"], s["knn_probes"],
                                            replace=False))
        self.ov_a = I.polygons(rng, s["overlay"], rect_share=0.3,
                               size=s["overlay_size"])
        self.ov_b = I.polygons(rng, s["overlay"], rect_share=0.3,
                               size=s["overlay_size"])
        p = self.pts
        return {
            "points": pa.table({"pid": p["id"],
                                "geometry": I.point_wkb(p["x"], p["y"])}),
            "polygons": pa.table({"gid": self.polys["id"],
                                  "geometry": self.polys["geometry"]}),
            "probes": pa.table({
                "pid": p["id"][self.probe_idx],
                "geometry": I.point_wkb(p["x"][self.probe_idx],
                                        p["y"][self.probe_idx])}),
            "overlay_a": pa.table({"a_id": self.ov_a["id"],
                                   "geometry": self.ov_a["geometry"]}),
            "overlay_b": pa.table({"b_id": self.ov_b["id"],
                                   "geometry": self.ov_b["geometry"]}),
        }

    def prepare_checks(self) -> None:
        self.sjoin_truth = O.sjoin_pairs(self.pts, self.polys)
        self.overlay_truth = O.overlay_rect_pairs(self.ov_a, self.ov_b)
        rng = np.random.default_rng([self.seed, 2])
        pick = rng.choice(len(self.probe_idx),
                          min(self.size["knn_checked"], len(self.probe_idx)),
                          replace=False)
        i = self.probe_idx[pick]
        self.knn_sample = {"id": self.pts["id"][i], "x": self.pts["x"][i],
                           "y": self.pts["y"][i]}

    def reset(self) -> None:
        self.rows = {"sjoin": [], "nearest": [], "overlay": []}
        self.secs = {"sjoin": [], "nearest": [], "overlay": []}

    def _calls(self):
        from geopandas_spark.operators.nearest import sjoin_nearest
        from geopandas_spark.operators.overlay import overlay
        from geopandas_spark.operators.sjoin import sjoin

        d = self.df
        out = os.path.join(self.work, "out")
        return [
            ("sjoin", lambda: sjoin(d["points"], d["polygons"],
                                    predicate="intersects", left_id="pid",
                                    right_id="gid").select("pid", "gid")),
            ("nearest", lambda: sjoin_nearest(
                d["probes"], d["polygons"], left_id="pid", right_id="gid",
                distance_col="dist").select("pid", "gid", "dist")),
            ("overlay", lambda: overlay(
                d["overlay_a"], d["overlay_b"], how="intersection",
                id1="a_id", id2="b_id").select("a_id", "b_id", "geometry")),
        ], out

    @staticmethod
    def _run(build, path):
        def run(mark):
            df = build()
            mark()
            df.write.mode("overwrite").parquet(path)
        return run

    def step(self) -> float:
        calls, out = self._calls()
        spent = 0.0
        for op, build in calls:
            path = os.path.join(out, op)
            res = self.operate("operators." + op, self._run(build, path))
            if res is None:
                continue
            _, plan_s, exec_s = res
            spent += plan_s + exec_s
            table = _read(path)
            self.secs[op].append(plan_s + exec_s)
            self.rows[op].append(table.num_rows)
            self._record(self.check(op, table))
            log(f"{self.label}{op}: {plan_s:.2f} s plan, {exec_s:.2f} s exec")
        return spent

    def check(self, op: str, t: pa.Table) -> list[str]:
        if op == "sjoin":
            return O.check_sjoin(self.sjoin_truth, t["pid"].to_numpy(),
                                 t["gid"].to_numpy())
        if op == "nearest":
            fails = []
            if set(t["pid"].to_numpy()) != set(self.pts["id"][self.probe_idx]):
                fails.append("nearest: some probes have no neighbour")
            return fails + O.check_nearest(
                self.knn_sample, self.polys, t["pid"].to_numpy(),
                t["gid"].to_numpy(), t["dist"].to_numpy())
        id1, id2 = t["a_id"].to_numpy(), t["b_id"].to_numpy()
        star_rows = np.nonzero(~(self.ov_a["is_rect"][id1]
                                 & self.ov_b["is_rect"][id2]))[0]
        rng = np.random.default_rng([self.seed, 3, len(self.rows[op])])
        sample = rng.choice(star_rows, min(self.size["overlay_checked"],
                                           len(star_rows)), replace=False)
        return O.check_overlay(self.ov_a, self.ov_b, self.overlay_truth,
                               id1, id2, t["geometry"].to_pylist(), sample)

    def pipeline_metrics(self, groups: dict) -> dict[str, tuple[float, str]]:
        return {"bytes_written_mb": (0.0, "MB"), "write_amp": (0.0, "ratio"),
                "resume_jobs": (0.0, "count")}

    def report(self) -> dict[str, tuple[float, str]]:
        def rate(op):
            return sum(self.rows[op]) / sum(self.secs[op])

        # input rows, not output rows: the output count moves with the seed
        s = self.size
        probe_rows = s["points"] + s["knn_probes"] + s["overlay"]
        steps = [sum(x) for x in zip(*self.secs.values())]
        return {
            "join_rows_per_s": (rate("sjoin"), "rows/s"),
            "knn_rows_per_s": (rate("nearest"), "rows/s"),
            "overlay_rows_per_s": (rate("overlay"), "rows/s"),
            "throughput_per_s": (probe_rows * len(steps) / sum(steps), "1/s"),
            "step_p50_s": (statistics.median(steps), "s"),
            "steps": (len(steps), "count"),
        }


# ---------------------------------------------------------------------------


class DocsPipeline(Workload):
    name = "docs_pipeline"
    tiny = {"docs": 40, "dup_share": 0.1, "regions": 10, "region_size": 0.1}
    STAGES = ("geometry", "dedup", "tiles", "regions")
    ZOOM = 4

    def generate(self) -> dict[str, pa.Table]:
        s = self.size
        rng = np.random.default_rng([self.seed, 4])
        self.docs = I.documents(rng, s["docs"], dup_share=s["dup_share"])
        self.regions = I.polygons(rng, s["regions"], rect_share=1.0,
                                  size=s["region_size"])
        return {"docs": I.documents_table(self.docs),
                "regions": pa.table({"region_id": self.regions["id"],
                                     "geometry": self.regions["geometry"]})}

    def prepare_checks(self) -> None:
        self.truth = docs_truth(self.docs, self.regions, self.ZOOM)
        self.runs = 0

    def reset(self) -> None:
        self.secs, self.resume_secs, self.bytes_written = [], [], []

    def _stages(self):
        from pyspark.sql import functions as F

        from geopandas_spark.operators.dedup import minhash_lsh
        from geopandas_spark.operators.sjoin import sjoin
        from geopandas_spark.operators.tiles import to_tiles
        from geopandas_spark.sources.documents import with_geometry

        docs, regions = self.df["docs"], self.df["regions"]
        wkt = r"^\s*(POINT|LINESTRING|POLYGON)"

        def dedup(df):
            prose = F.concat_ws(" ", F.transform(
                F.filter("spans", lambda s: (s["kind"] == "text")
                         & ~s["text"].rlike(wkt)), lambda s: s["text"]))
            pairs = minhash_lsh(df.select("doc_id", prose.alias("text")),
                                text_col="text", id_col="doc_id")
            return df.join(pairs.select(F.col("id_b").alias("doc_id")),
                           on="doc_id", how="left_anti")

        def regions_join(df):
            return sjoin(df.drop("geometry").withColumnRenamed(
                "tile_geom", "geometry"), regions, predicate="intersects")

        return [
            ("geometry", "sources.with_geometry", [],
             lambda spark, ins: with_geometry(docs)),
            ("dedup", "operators.dedup", ["geometry"],
             lambda spark, ins: dedup(ins["geometry"])),
            ("tiles", "operators.tiles", ["dedup"],
             lambda spark, ins: to_tiles(ins["dedup"], zoom=self.ZOOM,
                                         clip=True)),
            ("regions", "operators.sjoin", ["tiles"],
             lambda spark, ins: regions_join(ins["tiles"])),
        ]

    def _run_pipeline(self, workdir: str) -> float:
        """Runs (or resumes) every stage; returns the summed stage seconds."""
        from geopandas_spark.plans.pipeline import Pipeline

        pipe = Pipeline(self.spark, workdir, name="docs")
        spent = 0.0
        for stage, layer, ins, fn in self._stages():
            def run(mark, stage=stage, fn=fn, ins=ins):
                def planned(spark, in_dfs):
                    df = fn(spark, in_dfs)
                    mark()  # the stage writes df next
                    return df
                pipe.stage(stage, planned, inputs=ins, params=self._params())
            _, plan_s, exec_s = self.tracer.call(layer, run)
            spent += plan_s + exec_s
        return spent

    def _params(self) -> dict:
        return {"seed": self.seed, "size": self.size}

    def step(self) -> float:
        workdir = os.path.join(self.work, f"pipe-{self.runs}")
        self.runs += 1
        try:
            run_s = self._run_pipeline(workdir)
            resume_s = self._resume(workdir)
        except Exception as e:  # the run goes on; the failure is counted
            self._record([f"pipeline: {type(e).__name__}: {e}"])
            return 0.0
        log(f"{self.label}pipeline: {run_s:.2f} s, resume {resume_s:.2f} s")
        self.secs.append(run_s)
        self.resume_secs.append(resume_s)
        self.bytes_written.append(_tree_bytes(workdir))
        self._record(self.check(workdir))
        shutil.rmtree(workdir, ignore_errors=True)
        return run_s + resume_s

    def _resume(self, workdir: str) -> float:
        from geopandas_spark.plans.pipeline import Pipeline

        first = _read(os.path.join(workdir, "regions", "data"))
        pipe = Pipeline(self.spark, workdir, name="docs")

        def run(mark):
            mark()
            out = None
            for stage, _, ins, fn in self._stages():
                out = pipe.stage(stage, fn, inputs=ins, params=self._params())
            return out

        out, _, resume_s = self.tracer.call(RESUME, run)
        self._resumed = (first, out)
        return resume_s

    def check(self, workdir: str) -> list[str]:
        return check_docs(self.truth, self.docs, workdir, self._resumed)

    def pipeline_metrics(self, groups: dict) -> dict[str, tuple[float, str]]:
        resumes = [c for c in self.tracer.calls if c["layer"] == RESUME]
        jobs = [groups.get(c["group"], {}).get("jobs", 0) for c in resumes]
        written = statistics.mean(self.bytes_written)
        return {"bytes_written_mb": (written / 2**20, "MB"),
                "write_amp": (written / os.path.getsize(self._input("docs")),
                              "ratio"),
                "resume_jobs": (statistics.mean(jobs), "count")}

    def report(self) -> dict[str, tuple[float, str]]:
        n = self.size["docs"]
        return {
            "pipeline_docs_per_s": (n * len(self.secs) / sum(self.secs), "docs/s"),
            "resume_s": (statistics.median(self.resume_secs), "s"),
            "throughput_per_s": (n * len(self.secs) / sum(self.secs), "1/s"),
            "step_p50_s": (statistics.median(self.secs), "s"),
            "steps": (len(self.secs), "count"),
        }


RESUME = "plans.pipeline.resume"
WORKLOADS = {w.name: w for w in (BulkJoin, DocsPipeline)}


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# docs_pipeline truth and checks


def _shingles(text: str, k: int = 5) -> set[str]:
    t = text.lower()
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def docs_truth(docs: dict, regions: dict, zoom: int) -> dict:
    """Kept doc ids after near-dup removal, tiles per kept doc, and the
    (doc, tile, region) rows of the final stage, from the generator's
    parameters."""
    n = len(docs["doc_id"])
    prose = [" ".join(s["text"] for s in sp
                      if s["kind"] == "text" and not s["text"].startswith(
                          ("POINT", "POLYGON", "LINESTRING")))
             for sp in docs["spans"]]
    # near-dup pairs can only occur inside a source's cluster: every
    # other pair draws its words independently from a 4000-word vocabulary
    clusters: dict[int, list[int]] = {}
    for i in range(n):
        root = docs["src"][i] if docs["src"][i] >= 0 else i
        clusters.setdefault(int(root), []).append(i)
    dropped = set()
    for members in clusters.values():
        sh = {m: _shingles(prose[m]) for m in members}
        for a in members:
            for b in members:
                if a < b and len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.7:
                    dropped.add(b)
    kept = np.array(sorted(set(range(n)) - dropped), dtype=np.int64)

    # geometry bbox per doc: point, square (half side gs), line
    gx, gy, gs, kind = docs["gx"], docs["gy"], docs["gs"], docs["gkind"]
    is_pt = kind < 0.6
    is_sq = (kind >= 0.6) & (kind < 0.85)
    x0 = np.where(is_pt, gx, gx - gs)
    x1 = np.where(is_pt, gx, gx + gs)
    y0 = np.where(is_pt, gy, np.where(is_sq, gy - gs, gy))
    y1 = np.where(is_pt, gy, gy + gs)
    g = 1 << zoom
    rb = I.polygon_bounds(regions)
    rows = []
    for i in kept:
        for tx in range(int(x0[i] * g), int(x1[i] * g) + 1):
            for ty in range(int(y0[i] * g), int(y1[i] * g) + 1):
                tb = (tx / g, ty / g, (tx + 1) / g, (ty + 1) / g)
                for r in _regions_hit(i, tb, x0, y0, x1, y1, is_pt, is_sq, rb):
                    rows.append((i, tx, ty, r))
    tiles = [(int(x1[i] * g) - int(x0[i] * g) + 1)
             * (int(y1[i] * g) - int(y0[i] * g) + 1) for i in kept]
    return {"kept": kept, "final": rows, "tile_counts": tiles,
            "tiles": sum(tiles)}


def _regions_hit(i, tb, x0, y0, x1, y1, is_pt, is_sq, rb) -> list[int]:
    """Regions meeting doc i's geometry clipped to tile box ``tb``."""
    if is_pt[i] or is_sq[i]:
        # a point or axis-aligned square clipped to a tile is a box
        bx0, by0 = max(x0[i], tb[0]), max(y0[i], tb[1])
        bx1, by1 = min(x1[i], tb[2]), min(y1[i], tb[3])
        hit = ((rb[:, 0] <= bx1) & (rb[:, 2] >= bx0)
               & (rb[:, 1] <= by1) & (rb[:, 3] >= by0))
        return np.nonzero(hit)[0].tolist()
    # segment (x0, y0) -> (x1, y1): clip to the tile, then to each region
    seg = _clip_segment((x0[i], y0[i], x1[i], y1[i]), tb)
    if seg is None:
        return []
    return [r for r in range(len(rb)) if _clip_segment(seg, rb[r]) is not None]


def _clip_segment(seg, box):
    """Liang-Barsky: the part of ``seg`` inside ``box`` or None."""
    x0, y0, x1, y1 = seg
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, x0 - box[0]), (dx, box[2] - x0),
                 (-dy, y0 - box[1]), (dy, box[3] - y0)):
        if p == 0:
            if q < 0:
                return None
            continue
        t = q / p
        if p < 0:
            t0 = max(t0, t)
        else:
            t1 = min(t1, t)
        if t0 > t1:
            return None
    return (x0 + t0 * dx, y0 + t0 * dy, x0 + t1 * dx, y0 + t1 * dy)


def _spans_equal(table: pa.Table, docs: dict) -> list[str]:
    ids = table["doc_id"].to_pylist()
    spans = table["spans"].to_pylist()
    bad = 0
    for d, sp in zip(ids, spans):
        want = docs["spans"][int(d[4:])]
        if [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp] != \
                [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want]:
            bad += 1
    return [f"{bad} rows changed their span sequence"] if bad else []


def check_docs(truth: dict, docs: dict, workdir: str, resumed) -> list[str]:
    from .oracles import wkb_point

    fails = []
    stage = {s: _read(os.path.join(workdir, s, "data"))
             for s in DocsPipeline.STAGES}
    for s, t in stage.items():
        fails += [f"{s}: {m}" for m in _spans_equal(t, docs)]
    # with_geometry: every doc, the WKT point decoded exactly
    geo = stage["geometry"]
    if geo.num_rows != len(docs["doc_id"]):
        fails.append(f"geometry: {geo.num_rows} rows for {len(docs['doc_id'])} docs")
    ids = np.array([int(d[4:]) for d in geo["doc_id"].to_pylist()])
    is_pt = docs["gkind"][ids] < 0.6
    for i, blob in zip(ids[is_pt][:200], np.asarray(
            geo["geometry"].to_pylist(), dtype=object)[is_pt][:200]):
        x, y = wkb_point(blob)
        if abs(x - docs["gx"][i]) > 1e-9 or abs(y - docs["gy"][i]) > 1e-9:
            fails.append(f"geometry: doc {i} point ({x}, {y}) is wrong")
            break
    kept = np.sort([int(d[4:]) for d in stage["dedup"]["doc_id"].to_pylist()])
    if not np.array_equal(kept, truth["kept"]):
        fails.append(f"dedup: kept {len(kept)} docs, expected {len(truth['kept'])}")
    if stage["tiles"].num_rows != truth["tiles"]:
        fails.append(f"tiles: {stage['tiles'].num_rows} rows, expected "
                     f"{truth['tiles']}")
    fin = stage["regions"]
    got = sorted(zip((int(d[4:]) for d in fin["doc_id"].to_pylist()),
                     fin["region_id"].to_pylist()))
    want = sorted((i, r) for i, _, _, r in truth["final"])
    if got != want:
        fails.append(f"regions: {len(got)} (doc, region) rows, expected {len(want)}")
    # lineage: per stage, the row totals of the latest write equal its output
    lin = _read(os.path.join(workdir, "_lineage"))
    for s, t in stage.items():
        m = np.asarray(lin["stage"].to_pylist()) == s
        if int(np.asarray(lin["count"])[m].sum()) != t.num_rows:
            fails.append(f"{s}: lineage total differs from the output rows")
    # resume: the skipped run returns exactly the first run's output
    first, again = resumed
    a = again.toArrow()
    if a.num_rows != first.num_rows or _canon(a) != _canon(first):
        fails.append("resume: output differs from the first run")
    return fails


def _canon(t: pa.Table) -> list:
    cols = sorted(c for c in t.column_names)
    return sorted(map(repr, zip(*(t[c].to_pylist() for c in cols))))
