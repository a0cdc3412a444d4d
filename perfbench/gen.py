"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. Nothing here calls graft; the JVM harness only
ever sees the files written by `stage`.

The synthetic city sits in the UTM 32N frame (metres). It is a 32 x 32 grid
of 30 m lots, one footprint per lot: axis-aligned rectangles, concave
L-shapes, courtyard blocks with a hole, and a few footprints with many
vertices. All axis-aligned coordinates lie on a 0.25 m lattice, so a point
planted exactly on a vertex or edge is exactly representable and the
boundary-inclusive semantics can be checked without tolerance.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

X0, Y0 = 457000.0, 5439000.0
LOT = 30.0
GRID = 32
CITY = LOT * GRID
# central 30% x 30% of the city: ~9% of its area
DOWNTOWN = (0.35 * CITY, 0.65 * CITY)

# rows per workload: one run of a workload (cold start, warm-up, 10 s of
# operations, checks) stays under a minute on 4 cores
SIZES = {
    "join": {"points": 2_000_000},
    "pipeline": {"images": 60_000, "families": 300},
    "knn-ring": {"probes": 1_000, "targets": 60_000},
}
WORKLOADS = tuple(SIZES)
GEN_VERSION = 1

VOCAB = np.array(
    ["".join(w) for w in np.random.default_rng(7).choice(
        list("abcdefghijklmnopqrstuvwxyz"), size=(4096, 7))], dtype=object)

XY = pa.struct([("x", pa.float64()), ("y", pa.float64())])


def rng_for(seed, tag):
    """Independent stream per table, stable across numpy releases that keep PCG64."""
    digest = hashlib.sha256(f"{seed}:{tag}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:16], "little")))


# ---------------------------------------------------------------- city

def _q(v):
    """Snap to the 0.25 m lattice (exact in binary floating point)."""
    return np.round(np.asarray(v) * 4.0) / 4.0


def city(seed):
    """List of footprints: dict(id, kind, ring, holes, cx, cy, anchor)."""
    rng = rng_for(seed, "city")
    out = []
    for lot in range(GRID * GRID):
        gx, gy = lot % GRID, lot // GRID
        lx, ly = X0 + gx * LOT, Y0 + gy * LOT
        u = rng.random()
        kind = ("rect" if u < 0.40 else "ell" if u < 0.85
                else "court" if u < 0.95 else "round")
        if kind == "round":
            n = int(rng.integers(64, 257))
            r0 = rng.uniform(8.0, 12.0)
            th = 2 * np.pi * np.arange(n) / n
            r = r0 * (0.85 + 0.15 * np.sin(5 * th + rng.uniform(0, 2 * np.pi)))
            cx0, cy0 = lx + LOT / 2, ly + LOT / 2
            ring = list(zip(cx0 + r * np.cos(th), cy0 + r * np.sin(th)))
            holes = []
            anchor = (cx0, cy0)
        else:
            w = _q(rng.uniform(16.0 if kind == "court" else 8.0, 26.0))
            h = _q(rng.uniform(16.0 if kind == "court" else 8.0, 26.0))
            x0 = _q(lx + 2.0 + rng.uniform(0, 26.0 - w))
            y0 = _q(ly + 2.0 + rng.uniform(0, 26.0 - h))
            x1, y1 = x0 + w, y0 + h
            holes = []
            if kind == "ell":
                # notch cut from the top-right corner: concave, 6 vertices
                nx, ny = _q(x0 + w * rng.uniform(0.35, 0.65)), _q(y0 + h * rng.uniform(0.35, 0.65))
                ring = [(x0, y0), (x1, y0), (x1, ny), (nx, ny), (nx, y1), (x0, y1)]
                anchor = ((x0 + nx) / 2, (y0 + ny) / 2)
            else:
                ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
                anchor = (x0 + 1.0, y0 + 1.0)
                if kind == "court":
                    m = _q(rng.uniform(4.0, 6.0))
                    holes = [[(x0 + m, y0 + m), (x0 + m, y1 - m), (x1 - m, y1 - m), (x1 - m, y0 + m)]]
        cx, cy = _centroid(ring, holes)
        out.append({"id": f"B{lot:05d}", "kind": kind,
                    "ring": [(float(a), float(b)) for a, b in ring],
                    "holes": [[(float(a), float(b)) for a, b in hh] for hh in holes],
                    "cx": cx, "cy": cy, "anchor": (float(anchor[0]), float(anchor[1]))})
    return out


def _centroid(ring, holes):
    def acc(pts):
        p = np.asarray(pts)
        q = np.roll(p, -1, axis=0)
        cr = p[:, 0] * q[:, 1] - q[:, 0] * p[:, 1]
        a = cr.sum() / 2
        return a, (p[:, 0] + q[:, 0]) @ cr / 6, (p[:, 1] + q[:, 1]) @ cr / 6
    a, sx, sy = acc(ring)
    for hh in holes:
        ha, hx, hy = acc(hh)
        # a hole is subtracted with the outer ring's orientation
        sgn = -1.0 if (ha > 0) == (a > 0) else 1.0
        a, sx, sy = a + sgn * ha, sx + sgn * hx, sy + sgn * hy
    return float(sx / a), float(sy / a)


def footprint_table(fps):
    ring = pa.array([[{"x": x, "y": y} for x, y in f["ring"]] for f in fps], pa.list_(XY))
    holes = pa.array([[[{"x": x, "y": y} for x, y in hh] for hh in f["holes"]] for f in fps],
                     pa.list_(pa.list_(XY)))
    return pa.table({
        "feature_id": pa.array([f["id"] for f in fps]),
        "kind": pa.array([f["kind"] for f in fps]),
        "ring": ring, "holes": holes,
        "cx": pa.array([f["cx"] for f in fps], pa.float64()),
        "cy": pa.array([f["cy"] for f in fps], pa.float64()),
    })


# ---------------------------------------------------------------- geotags

def geotags(rng, n, fps):
    """60% downtown, 30% suburban, 10% far field (no footprint within km),
    plus ~0.5% planted exactly on axis-aligned vertices and edges."""
    u = rng.random(n)
    x = np.empty(n)
    y = np.empty(n)
    dt = u < 0.6
    sb = (u >= 0.6) & (u < 0.9)
    ff = u >= 0.9
    lo, hi = DOWNTOWN
    x[dt] = X0 + rng.uniform(lo, hi, dt.sum())
    y[dt] = Y0 + rng.uniform(lo, hi, dt.sum())
    x[sb] = X0 + rng.uniform(0, CITY, sb.sum())
    y[sb] = Y0 + rng.uniform(0, CITY, sb.sum())
    ang = rng.uniform(0, 2 * np.pi, ff.sum())
    rad = rng.uniform(3000.0, 6000.0, ff.sum())
    x[ff] = X0 + CITY / 2 + rad * np.cos(ang)
    y[ff] = Y0 + CITY / 2 + rad * np.sin(ang)
    # boundary plants on axis-aligned footprints
    axis = [f for f in fps if f["kind"] != "round"]
    plant = np.flatnonzero(rng.random(n) < 0.005)
    pick = rng.integers(0, len(axis), plant.size)
    mode = rng.integers(0, 3, plant.size)
    for i, fi, m in zip(plant, pick, mode):
        f = axis[fi]
        rings = [f["ring"]] + f["holes"]
        ring = rings[int(m == 2 and len(rings) > 1)]
        k = int(rng.integers(0, len(ring)))
        (ax, ay), (bx, by) = ring[k], ring[(k + 1) % len(ring)]
        if m == 0:
            x[i], y[i] = ax, ay                                  # on a vertex
        else:
            t = rng.uniform(0.0, 1.0)
            x[i], y[i] = _q(ax + t * (bx - ax)), _q(ay + t * (by - ay))  # on an edge
    return x, y, plant


def oracle_sample(rng, prefix, n, planted):
    """Ids the oracle re-derives: 2,000 random rows plus up to 500 planted ones."""
    pick = np.union1d(rng.choice(n, min(2000, n), replace=False), planted[:500])
    return [f"{prefix}{i}" for i in pick]


def ids(prefix, n):
    return pc.binary_join_element_wise(prefix, pc.cast(pa.array(np.arange(n)), pa.string()), "")


def payload(rng, n):
    """Incompressible byte payloads sized like small JPEG tiles (0.9-2.1 KB)."""
    sizes = rng.integers(900, 2100, n)
    offs = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    data = rng.bytes(int(offs[-1]))
    return pa.BinaryArray.from_buffers(pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(data)])


# ---------------------------------------------------------------- tables

def make_join(seed, fps):
    rng = rng_for(seed, "join")
    n = SIZES["join"]["points"]
    x, y, planted = geotags(rng, n, fps)
    return ({"points": pa.table({"image_id": ids("p", n), "x": x, "y": y})},
            {"sample": oracle_sample(rng, "p", n, planted)})


CAPTION_WORDS = 40


def make_pipeline(seed, fps):
    """The full-schema image+caption table. Most captions are 8-16 random
    words; planted near-duplicate families make the curation path's output
    checkable. A family is one base caption of 40 distinct words whose
    members each replace the LAST word by a distinct fresh word, so two
    members share 39 of 41 distinct words (Jaccard 39/41) and all but one
    word 3-shingle, and all members score the same caption quality."""
    rng = rng_for(seed, "pipeline")
    n = SIZES["pipeline"]["images"]
    x, y, planted = geotags(rng, n, fps)
    side = np.array([16, 32, 64], dtype=np.int32)
    counts = rng.integers(8, 17, n)
    fam_sizes = rng.integers(3, 9, SIZES["pipeline"]["families"])
    members = rng.choice(n, int(fam_sizes.sum()), replace=False)
    family = np.full(n, -1, dtype=np.int64)
    family[members] = np.repeat(np.arange(len(fam_sizes)), fam_sizes)
    counts[members] = CAPTION_WORDS
    tokens = VOCAB[rng.integers(0, len(VOCAB), counts.sum())]
    offs = np.concatenate([[0], np.cumsum(counts)])
    at = 0
    for f, m in enumerate(fam_sizes):
        base = rng.choice(len(VOCAB), CAPTION_WORDS + m, replace=False)
        for j, row in enumerate(members[at:at + m]):
            cap = np.concatenate([base[:CAPTION_WORDS - 1], base[CAPTION_WORDS - 1 + j:CAPTION_WORDS + j]])
            tokens[offs[row]:offs[row + 1]] = VOCAB[cap]
        at += m
    caption = pc.binary_join(pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)),
                                                      pa.array(tokens.tolist())), " ")
    image_id = ids("img", n)
    t = pa.table({
        "image_id": image_id,
        "bytes": payload(rng, n),
        "w": side[rng.integers(0, 3, n)],
        "h": side[rng.integers(0, 3, n)],
        "fmt": pa.array(np.full(n, "jpeg", dtype=object)),
        "caption": caption,
        "phash": rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64),
        "x": x, "y": y,
    })
    truth = pa.table({"image_id": image_id, "family": pa.array(family)})
    return {"images": t, "families": truth}, {
        "sample": oracle_sample(rng, "img", n, planted),
        "family_sizes": fam_sizes.tolist(), "jaccard_within": 39 / 41}


def make_knn(seed, fps):
    """Targets: city objects, denser downtown. Probes: 90% inside the city,
    10% up to 100 m outside one of its edges (these need more rings, but
    stay inside the ring budget). 1% of probes get a planted exact distance
    tie: two targets at +-1 m on the x axis."""
    rng = rng_for(seed, "knn")
    nt, npb = SIZES["knn-ring"]["targets"], SIZES["knn-ring"]["probes"]
    dense = rng.random(nt) < 0.4
    tx = np.where(dense, rng.uniform(*DOWNTOWN, nt), rng.uniform(0, CITY, nt)) + X0
    ty = np.where(dense, rng.uniform(*DOWNTOWN, nt), rng.uniform(0, CITY, nt)) + Y0
    inside = rng.random(npb) < 0.9
    px = rng.uniform(0, CITY, npb)
    py = rng.uniform(0, CITY, npb)
    out = np.flatnonzero(~inside)
    edge = rng.integers(0, 4, out.size)
    off = rng.uniform(0, 100.0, out.size)
    px[out] = np.where(edge == 0, -off, np.where(edge == 1, CITY + off, px[out]))
    py[out] = np.where(edge == 2, -off, np.where(edge == 3, CITY + off, py[out]))
    px, py = px + X0, py + Y0
    px, py = _q(px), _q(py)
    ties = np.flatnonzero(rng.random(npb) < 0.01)
    tie_x = np.concatenate([px[ties] - 1.0, px[ties] + 1.0])
    tie_y = np.concatenate([py[ties], py[ties]])
    tx, ty = np.concatenate([_q(tx), tie_x]), np.concatenate([_q(ty), tie_y])
    probes = pa.table({"probe_id": ids("q", npb), "x": px, "y": py})
    targets = pa.table({"target_id": ids("t", len(tx)), "cx": tx, "cy": ty})
    return {"probes": probes, "targets": targets}, {"planted_ties": int(ties.size)}


MAKERS = {"join": make_join, "pipeline": make_pipeline, "knn-ring": make_knn}


# ---------------------------------------------------------------- staging

def _files_digest(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f in ("manifest.json", "fingerprints.json"):
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def generate(workload, seed, out):
    """Write every table of (workload, seed) under `out`; return the manifest."""
    fps = city(seed)
    tables, info = MAKERS[workload](seed, fps)
    tables["footprints"] = footprint_table(fps)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "sample.txt"), "w") as fh:
        fh.write("\n".join(info.pop("sample", [])) + "\n")
    rows = {}
    for name, t in tables.items():
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        # several files so the scan plans several splits, as a real table would
        nfiles = max(1, min(8, t.num_rows // 100_000))
        step = -(-t.num_rows // nfiles)
        for k in range(nfiles):
            pq.write_table(t.slice(k * step, step), os.path.join(d, f"part-{k:03d}.parquet"),
                           compression="snappy")
        rows[name] = t.num_rows
    return {"workload": workload, "seed": seed, "version": GEN_VERSION,
            "sizes": SIZES[workload], "rows": rows, "info": info,
            "bytes": {n: sum(os.path.getsize(os.path.join(out, n, f))
                             for f in os.listdir(os.path.join(out, n))) for n in tables}}


def stage(root, workload, seed):
    """Stage inputs once per (workload, seed, size) under `root`, verifying the
    content checksum when a staged copy is reused. Keeps at most two staged
    seeds per workload. Returns (dir, manifest, seconds, reused)."""
    import time
    key = hashlib.sha256(json.dumps([workload, seed, SIZES[workload], GEN_VERSION]).encode()).hexdigest()[:12]
    d = os.path.join(root, f"{workload}-{seed}-{key}")
    mf = os.path.join(d, "manifest.json")
    t0 = time.perf_counter()
    if os.path.exists(mf):
        with open(mf) as fh:
            man = json.load(fh)
        if _files_digest(d) == man["checksum"]:
            os.utime(d)
            return d, man, time.perf_counter() - t0, True
        shutil.rmtree(d)
    os.makedirs(root, exist_ok=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    man = generate(workload, seed, tmp)
    man["checksum"] = _files_digest(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(man, fh, indent=1)
    os.replace(tmp, d)
    others = sorted((e for e in os.scandir(root) if e.is_dir() and e.name.startswith(f"{workload}-")
                     and e.path != d and not e.name.endswith(".tmp")),
                    key=lambda e: e.stat().st_mtime, reverse=True)
    for e in others[1:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return d, man, time.perf_counter() - t0, False
