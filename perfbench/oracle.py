"""Independent oracle for the benchmark's outputs. It never calls graft: every
expected value is re-derived here from the generated inputs alone.

- boundary-inclusive point-in-polygon with holes (a point on an outer or a
  hole edge is covered, a point strictly inside a hole is not);
- nearest centroid and kNN top-k ordered by (squared distance, id);
- WMTS tile id at zoom 20 over the 2^25 m planar domain, packed z/x/y;
- the curated survivors of planted near-duplicate families (traced runs);
- the md5 train/val/test split of a kept id.
"""

import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SPAN = 33554432.0  # 2^25 m tile domain anchored at the origin
ZOOM = 20
KNN_K = 3


# ---------------------------------------------------------------- geometry

def on_segment(ax, ay, bx, by, x, y):
    return ((bx - ax) * (y - ay) - (by - ay) * (x - ax) == 0.0
            and min(ax, bx) <= x <= max(ax, bx) and min(ay, by) <= y <= max(ay, by))


def ray_inside(ring, x, y):
    inside = False
    n = len(ring)
    for i in range(n):
        (xi, yi), (xj, yj) = ring[i], ring[i - 1]
        if (yi > y) != (yj > y) and x < xi + (y - yi) / (yj - yi) * (xj - xi):
            inside = not inside
    return inside


def on_boundary(ring, x, y):
    return any(on_segment(*ring[i - 1], *ring[i], x, y) for i in range(len(ring)))


def covers(ring, holes, x, y):
    """Boundary-inclusive point-in-polygon; a hole's edge belongs to the polygon."""
    if on_boundary(ring, x, y):
        return True
    if not ray_inside(ring, x, y):
        return False
    for h in holes:
        if on_boundary(h, x, y):
            return True
        if ray_inside(h, x, y):
            return False
    return True


def knn(tids, tx, ty, x, y, k):
    """k nearest targets by (d2, id): list of (id, d2)."""
    dx = tx - x
    dy = ty - y
    d2 = dx * dx + dy * dy
    kth = np.partition(d2, k - 1)[k - 1]
    best = sorted((d2[i], tids[i]) for i in np.flatnonzero(d2 <= kth))
    return [(t, float(d)) for d, t in best[:k]]


def tile_id(x, y, z=ZOOM):
    n = 1 << z
    tx = min(max(math.floor(x / SPAN * n), 0), n - 1)
    tyb = min(max(math.floor(y / SPAN * n), 0), n - 1)
    return (z << 58) | (tx << 29) | (n - 1 - tyb)


def split_of(image_id):
    b = int(hashlib.md5(image_id.encode()).hexdigest()[:4], 16) % 100
    return "train" if b < 80 else "val" if b < 90 else "test"


class City:
    def __init__(self, stage_dir):
        t = pq.read_table(os.path.join(stage_dir, "footprints")).to_pylist()
        self.ids = [f["feature_id"] for f in t]
        self.rings = [[(p["x"], p["y"]) for p in f["ring"]] for f in t]
        self.holes = [[[(p["x"], p["y"]) for p in h] for h in f["holes"]] for f in t]
        self.cx = np.array([f["cx"] for f in t])
        self.cy = np.array([f["cy"] for f in t])
        self.tids = np.array(self.ids, dtype=object)
        r = [np.array(ring) for ring in self.rings]
        self.minx = np.array([a[:, 0].min() for a in r])
        self.maxx = np.array([a[:, 0].max() for a in r])
        self.miny = np.array([a[:, 1].min() for a in r])
        self.maxy = np.array([a[:, 1].max() for a in r])

    def containing(self, x, y):
        cand = np.flatnonzero((self.minx <= x) & (x <= self.maxx) & (self.miny <= y) & (y <= self.maxy))
        return sorted(self.ids[i] for i in cand if covers(self.rings[i], self.holes[i], x, y))

    def enrich(self, image_id, x, y):
        """Expected enriched rows of one point: one per containing footprint."""
        (nn, d2), = knn(self.tids, self.cx, self.cy, x, y, 1)
        return sorted((image_id, fid, nn, d2, tile_id(x, y)) for fid in self.containing(x, y))


# ---------------------------------------------------------------- checks

def _rows(sample):
    cols = sample["columns"]
    return [dict(zip(cols, r)) for r in sample["rows"]]


def _enriched_rows(rows):
    return sorted((r["image_id"], r["feature_id"], r["nn_id"], r["nn_d2"], r["tile_id"]) for r in rows)


def _check(name, ok, detail=""):
    return {"name": f"oracle.{name}", "ok": bool(ok), "detail": "" if ok else str(detail)[:2000]}


def check_points(stage_dir, table, sample, res_rows):
    city = City(stage_dir)
    ids = set(sample)
    t = pq.read_table(os.path.join(stage_dir, table), columns=["image_id", "x", "y"])
    pts = t.filter(pc.is_in(t["image_id"], value_set=pa.array(sorted(ids)))).to_pylist()
    want = sorted(r for p in pts for r in city.enrich(p["image_id"], p["x"], p["y"]))
    got = _enriched_rows(res_rows)
    bad_bucket = [r for r in res_rows if not 0 <= r["bucket"] < 16]
    diff = sorted(set(want) ^ set(got))
    return [_check("enrich_sample", want == got and len(pts) == len(ids),
                   f"{len(diff)} differing rows of {len(want)} expected, e.g. {diff[:5]}"),
            _check("bucket_range", not bad_bucket, bad_bucket[:3])]


def check_curate(stage_dir, rows):
    """Curated survivors: every caption outside the planted families, plus one
    member per family. Family members score the same quality, so by the
    documented tie-break the kept one is the smallest id."""
    fam = pq.read_table(os.path.join(stage_dir, "families")).to_pylist()
    keep = {r["image_id"] for r in fam if r["family"] < 0}
    first = {}
    for r in fam:
        f = r["family"]
        if f >= 0 and (f not in first or r["image_id"] < first[f]):
            first[f] = r["image_id"]
    keep |= set(first.values())
    got = [r["image_id"] for r in rows]
    bad_split = [r["image_id"] for r in rows if r["split"] != split_of(r["image_id"])]
    return [_check("curate_survivors", sorted(got) == sorted(keep),
                   f"{len(set(got) - keep)} unexpected, {len(keep - set(got))} missing, "
                   f"{len(got) - len(set(got))} duplicated"),
            _check("curate_split", not bad_split, bad_split[:5])]


def check_ring(stage_dir, manifest, rows):
    probes = pq.read_table(os.path.join(stage_dir, "probes")).to_pylist()
    t = pq.read_table(os.path.join(stage_dir, "targets"))
    tids = np.array(t["target_id"].to_pylist(), dtype=object)
    tx, ty = t["cx"].to_numpy(), t["cy"].to_numpy()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append((r["rnk"], r["target_id"], r["d2"]))
    out = [_check("ring_row_count", len(rows) == KNN_K * len(probes),
                  f"{len(rows)} rows for {len(probes)} probes")]
    # every probe with a planted tie, plus every 5th probe
    tie_ids = set(tids[-2 * manifest["info"]["planted_ties"]:].tolist()) if manifest["info"]["planted_ties"] else set()
    bad = []
    for i, p in enumerate(probes):
        got = sorted(by_probe.get(p["probe_id"], []))
        if i % 5 and not any(g[1] in tie_ids for g in got):
            continue
        want = [(k + 1, tid, d2) for k, (tid, d2) in enumerate(knn(tids, tx, ty, p["x"], p["y"], KNN_K))]
        if got != want:
            bad.append((p["probe_id"], got, want))
    out.append(_check("ring_knn_sample", not bad, bad[:3]))
    return out


def check_fingerprint(stage_dir, workload, fp):
    """The full output's fingerprint must be identical for every run of a seed."""
    path = os.path.join(stage_dir, "fingerprints.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if workload not in known:
        known[workload] = fp
        with open(path, "w") as fh:
            json.dump(known, fh)
    return [_check("fingerprint_across_runs", known[workload] == fp, f"{fp} vs {known[workload]}")]


def verify(workload, stage_dir, manifest, res):
    """Oracle checks for one run's result; each is one attempted operation."""
    if "sample" not in res:
        return [_check("result_present", False, "the harness produced no output sample")]
    rows = _rows(res["sample"])
    with open(os.path.join(stage_dir, "sample.txt")) as fh:
        sample = [s for s in fh.read().split("\n") if s]
    if workload == "join":
        out = check_points(stage_dir, "points", sample, rows)
    elif workload == "pipeline":
        out = check_points(stage_dir, "images", sample, rows)
        if "curated" in res:
            out += check_curate(stage_dir, _rows(res["curated"]))
    else:
        out = check_ring(stage_dir, manifest, rows)
    return out + check_fingerprint(stage_dir, workload, res["fingerprint"])
