"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q

The output checks are exercised without Spark on outputs built from the
truth and then corrupted; one end-to-end test per workload runs the real
command at tiny sizes and checks the reported metric names and units
against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import oracles as O  # noqa: E402
from perfbench import workloads as W  # noqa: E402

TINY = {
    "bulk_join": {"points": 3_000, "polygons": 600, "poly_size": 0.01,
                  "knn_probes": 30, "knn_checked": 10, "overlay": 300,
                  "overlay_size": 0.02, "overlay_checked": 5},
    "docs_pipeline": {"docs": 120, "dup_share": 0.2, "regions": 30,
                      "region_size": 0.05},
}


class _Gen(W.BulkJoin):
    """Input generation without a Spark session."""

    def __init__(self, seed, size):
        super().__init__(None, None, "", seed, size)


class _Docs(W.DocsPipeline):
    def __init__(self, seed, size):
        super().__init__(None, None, "", seed, size)


# ---------------------------------------------------------------------------
# inputs


@pytest.mark.parametrize("cls,name", [(_Gen, "bulk_join"), (_Docs, "docs_pipeline")])
def test_same_seed_same_digest_other_seed_other_digest(cls, name):
    a = I.digest(cls(7, TINY[name]).generate())
    b = I.digest(cls(7, TINY[name]).generate())
    c = I.digest(cls(8, TINY[name]).generate())
    assert a == b
    assert a != c


def test_generated_wkb_matches_shape_parameters():
    g = _Gen(3, TINY["bulk_join"])
    g.generate()
    polys = g.polys
    rings = O.all_rings(polys, np.arange(len(polys["id"])), I.STAR_VERTS + 1)
    for i, blob in enumerate(polys["geometry"].to_pylist()):
        got = O.wkb_polygons(blob)[0][0]
        want = rings[i][: len(got)]
        np.testing.assert_allclose(got, want)
    area = [O.wkb_area(b) for b in polys["geometry"].to_pylist()]
    closed = np.where(polys["is_rect"], 4 * polys["hw"] * polys["hh"],
                      I.star_area(polys["hw"]))
    np.testing.assert_allclose(area, closed, rtol=1e-9)


# ---------------------------------------------------------------------------
# bulk_join checks reject corrupted outputs


@pytest.fixture(scope="module")
def bulk():
    g = _Gen(5, TINY["bulk_join"])
    g.generate()
    g.prepare_checks()
    return g


def test_sjoin_check(bulk):
    keys = bulk.sjoin_truth
    pid, gid = keys >> 31, keys & ((1 << 31) - 1)
    assert O.check_sjoin(keys, pid, gid) == []
    assert O.check_sjoin(keys, pid[1:], gid[1:])  # a pair dropped
    wrong = gid.copy()
    wrong[0] = (wrong[0] + 1) % len(bulk.polys["id"])
    assert O.check_sjoin(keys, pid, wrong)  # a pair changed
    assert O.check_sjoin(keys, np.r_[pid, pid[:1]], np.r_[gid, gid[:1]])


def test_nearest_check(bulk):
    boxes = I.polygon_bounds(bulk.polys)
    s = bulk.knn_sample
    pid, gid, dist = [], [], []
    for i, p in enumerate(s["id"]):
        d, gids = O.nearest_truth(s["x"][i], s["y"][i], bulk.polys, boxes)
        pid += [p] * len(gids)
        gid += gids.tolist()
        dist += [d] * len(gids)
    pid, gid, dist = np.array(pid), np.array(gid), np.array(dist)
    assert O.check_nearest(s, bulk.polys, pid, gid, dist) == []
    far = dist.copy()
    far[0] += 1e-6
    assert O.check_nearest(s, bulk.polys, pid, gid, far)
    other = gid.copy()
    other[0] = (other[0] + 1) % len(bulk.polys["id"])
    assert O.check_nearest(s, bulk.polys, pid, other, dist)


def _overlay_output(bulk):
    """A correct overlay output, computed pair by pair with the engine's
    clipping kernel on every bbox-overlapping pair."""
    from geopandas_spark.geom.clipping import pairwise_intersection
    from geopandas_spark.geom.wkb import from_wkb, to_wkb

    a, b = bulk.ov_a, bulk.ov_b
    ba, bb = I.polygon_bounds(a), I.polygon_bounds(b)
    ia, ib = np.nonzero((ba[:, None, 0] < bb[None, :, 2]) & (ba[:, None, 2] > bb[None, :, 0])
                        & (ba[:, None, 1] < bb[None, :, 3]) & (ba[:, None, 3] > bb[None, :, 1]))
    ga = from_wkb(np.array(a["geometry"].take(pa.array(ia)).to_pylist(), dtype=object))
    gb = from_wkb(np.array(b["geometry"].take(pa.array(ib)).to_pylist(), dtype=object))
    geoms = to_wkb(pairwise_intersection(ga, gb))
    keep = [i for i, g in enumerate(geoms) if g is not None and O.wkb_area(g) > 0]
    return ia[keep], ib[keep], [geoms[i] for i in keep]


def test_overlay_check(bulk):
    id1, id2, geoms = _overlay_output(bulk)
    stars = np.nonzero(~(bulk.ov_a["is_rect"][id1] & bulk.ov_b["is_rect"][id2]))[0]
    assert len(stars) and bulk.overlay_truth[0].size
    sample = stars[:10]
    args = (bulk.ov_a, bulk.ov_b, bulk.overlay_truth)
    assert O.check_overlay(*args, id1, id2, geoms, sample) == []
    # a star pair answered with the whole of its first polygon
    bad = list(geoms)
    k = sample[0]
    bad[k] = bytes(bulk.ov_a["geometry"][int(id1[k])].as_py())
    assert O.check_overlay(*args, id1, id2, bad, sample)
    # a rect-rect pair dropped
    rr = np.nonzero(bulk.ov_a["is_rect"][id1] & bulk.ov_b["is_rect"][id2])[0]
    keep = np.setdiff1d(np.arange(len(id1)), rr[:1])
    assert O.check_overlay(*args, id1[keep], id2[keep],
                           [geoms[i] for i in keep], np.array([], int))


# ---------------------------------------------------------------------------
# docs_pipeline checks reject corrupted outputs


class _FakeDf:
    def __init__(self, table):
        self.table = table

    def toArrow(self):
        return self.table


def _docs_output(d: _Docs, workdir: str) -> pa.Table:
    """Stage outputs and lineage as a correct pipeline would write them."""
    docs, truth = d.docs, d.truth
    n = len(docs["doc_id"])
    spans = pa.array(docs["spans"], I.SPAN_TYPE)
    ids = pa.array(docs["doc_id"])
    geom = []
    for i in range(n):
        x, y, s, k = docs["gx"][i], docs["gy"][i], docs["gs"][i], docs["gkind"][i]
        if k < 0.6:
            geom.append(I.point_wkb(np.array([x]), np.array([y]))[0].as_py())
        elif k < 0.85:
            geom.append(I.ring_wkb(I.rect_rings(*(np.array([v]) for v in (
                x - s, y - s, x + s, y + s))))[0].as_py())
        else:
            geom.append(I.line_wkb(*(np.array([v]) for v in (
                x - s, y, x + s, y + s)))[0].as_py())
    kept = truth["kept"]
    fin = truth["final"]
    tiles_idx = np.repeat(kept, truth["tile_counts"])
    tables = {
        "geometry": pa.table({"doc_id": ids, "spans": spans, "geometry": geom}),
        "dedup": pa.table({"doc_id": ids.take(kept), "spans": spans.take(kept)}),
        "tiles": pa.table({"doc_id": ids.take(tiles_idx),
                           "spans": spans.take(tiles_idx)}),
        "regions": pa.table({
            "doc_id": ids.take([r[0] for r in fin]),
            "spans": spans.take([r[0] for r in fin]),
            "region_id": pa.array([r[3] for r in fin], pa.int64())}),
    }
    for s, t in tables.items():
        os.makedirs(os.path.join(workdir, s, "data"), exist_ok=True)
        pq.write_table(t, os.path.join(workdir, s, "data", "part-0.parquet"))
    lineage = pa.table({"stage": list(tables),
                        "count": [t.num_rows for t in tables.values()]})
    os.makedirs(os.path.join(workdir, "_lineage"), exist_ok=True)
    pq.write_table(lineage, os.path.join(workdir, "_lineage", "part-0.parquet"))
    return tables["regions"]


@pytest.fixture()
def docs_run(tmp_path):
    d = _Docs(9, TINY["docs_pipeline"])
    d.generate()
    d.truth = W.docs_truth(d.docs, d.regions, d.ZOOM)
    final = _docs_output(d, str(tmp_path))
    return d, str(tmp_path), final


def _check(d, workdir, final, resumed=None):
    return W.check_docs(d.truth, d.docs, workdir,
                        (final, _FakeDf(final if resumed is None else resumed)))


def _rewrite(workdir, stage, fn):
    path = os.path.join(workdir, stage, "data", "part-0.parquet")
    pq.write_table(fn(pq.read_table(path)), path)


def test_docs_check_accepts_correct_output(docs_run):
    d, workdir, final = docs_run
    assert d.truth["kept"].size < len(d.docs["doc_id"])  # dups were dropped
    assert _check(d, workdir, final) == []


def test_docs_check_rejects_changed_span(docs_run):
    d, workdir, final = docs_run

    def swap(t):
        sp = t["spans"].to_pylist()
        sp[0] = list(reversed(sp[0]))
        return t.set_column(t.column_names.index("spans"), "spans",
                            pa.array(sp, I.SPAN_TYPE))

    _rewrite(workdir, "tiles", swap)
    assert any("span sequence" in f for f in _check(d, workdir, final))


def test_docs_check_rejects_missed_duplicate(docs_run):
    d, workdir, final = docs_run
    _rewrite(workdir, "dedup", lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    assert any(f.startswith("dedup") for f in _check(d, workdir, final))


def test_docs_check_rejects_wrong_region_rows(docs_run):
    d, workdir, final = docs_run
    _rewrite(workdir, "regions", lambda t: t.slice(1))
    fails = _check(d, workdir, final)
    assert any(f.startswith("regions") for f in fails)
    assert any("lineage" in f for f in fails)


def test_docs_check_rejects_changed_resume(docs_run):
    d, workdir, final = docs_run
    assert any(f.startswith("resume") for f in
               _check(d, workdir, final, resumed=final.slice(1)))


# ---------------------------------------------------------------------------
# the command itself, at tiny sizes


NAMED = {
    "bulk_join": {"join_rows_per_s": "rows/s", "knn_rows_per_s": "rows/s",
                  "overlay_rows_per_s": "rows/s", "peak_rss_mb": "MB"},
    "docs_pipeline": {"pipeline_docs_per_s": "docs/s", "resume_s": "s",
                      "peak_rss_mb": "MB"},
}


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace", [("bulk_join", 0), ("bulk_join", 1),
                                            ("docs_pipeline", 1)])
def test_every_metric_is_emitted_with_its_unit(workload, trace, monkeypatch, capsys):
    from perfbench import run

    monkeypatch.setitem(run.SIZES, workload, TINY[workload])
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "0.1",
                     "--trace", str(trace)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    last, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    spec = _bench_json()
    want = {m["name"]: m["unit"] for m in
            spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    # the end-to-end metrics and the workload's own named ones ride on the
    # line before, with the error rate
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    e2e.update(NAMED[workload])
    named = {k: v["unit"] for k, v in detail["metrics"].items()}
    assert {k: named[k] for k in e2e} == e2e
    assert detail["error_rate"] == 0
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
