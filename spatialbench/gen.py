"""Seeded input generator for the spatial-engine benchmark.

Every input a workload reads is written here, before the engine starts; the
engine sees only these files. The same (workload, seed) always gives the same
bytes. `props` records the input properties each workload relies on.
"""
import json
import math
import os

import numpy as np

# Object density (objects per square unit) and areal coverage of one
# polygon set: each set covers ~0.3 of its space, so a jittered twin
# overlaps ~2 partners per polygon. Window side lengths are in the same
# units, so a window returns tens of rows.
DENSITY = 0.05
COVERAGE = 0.3
VERTICES = 16

SIZES = {
    "polygon_overlay": {"polygons": 5000, "warm": 300},
    "window_store": {"polygons": 8000, "windows": 600, "warm": 300,
                     "warm_windows": 4},
}


def _star_polygons(rng, centers, radius):
    """Star-shaped simple polygons: VERTICES monotone angles around each
    center, radius jittered per vertex. Returns (n, VERTICES, 2)."""
    n = len(centers)
    base = np.linspace(0.0, 2 * math.pi, VERTICES, endpoint=False)
    ang = (base[None, :] + rng.uniform(0, 2 * math.pi / VERTICES, (n, 1))
           + rng.uniform(-0.3, 0.3, (n, VERTICES)) * (2 * math.pi / VERTICES))
    r = radius[:, None] * rng.uniform(0.55, 1.0, (n, VERTICES))
    xs = centers[:, 0:1] + r * np.cos(ang)
    ys = centers[:, 1:2] + r * np.sin(ang)
    return np.stack([xs, ys], axis=2)


def _ring_areas(rings):
    x, y = rings[:, :, 0], rings[:, :, 1]
    return 0.5 * np.abs(np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1))


def _wkt(ring):
    pts = ", ".join("%.6f %.6f" % (x, y) for x, y in ring)
    return "POLYGON((%s, %.6f %.6f))" % (pts, ring[0][0], ring[0][1])


def _write_tsv(path, ids, rings):
    with open(path, "w") as f:
        for i, ring in zip(ids, rings):
            f.write("%d\t%s\n" % (i, _wkt(ring.tolist())))


def _polygon_set(rng, n):
    """Uniform centers at DENSITY; mean area sized for COVERAGE."""
    side = math.sqrt(n / DENSITY)
    centers = rng.uniform(0, side, (n, 2))
    # mean star area ~= 8 sin(pi/8) E[r]^2 with E[r] = 0.775 R
    mean_r = math.sqrt(COVERAGE / DENSITY / (8 * math.sin(math.pi / 8))) / 0.775
    radius = mean_r * rng.uniform(0.7, 1.3, n)
    return side, centers, radius, _star_polygons(rng, centers, radius)


def _twin(rng, centers, radius):
    """Jittered twin: shifted centers, fresh vertex noise (a second
    segmentation of the same objects)."""
    shift = rng.normal(0, 0.35, (len(centers), 2)) * radius[:, None]
    return _star_polygons(rng, centers + shift, radius * rng.uniform(0.85, 1.15, len(radius)))


def _windows(rng, n, centers):
    """Windows centered on object centers (so biased toward dense areas),
    sides 5..45 units."""
    pick = centers[rng.integers(0, len(centers), n)] + rng.normal(0, 3.0, (n, 2))
    w = rng.uniform(5, 45, n)
    h = rng.uniform(5, 45, n)
    return np.stack([pick[:, 0] - w / 2, pick[:, 1] - h / 2,
                     pick[:, 0] + w / 2, pick[:, 1] + h / 2], axis=1)


def _write_windows(path, boxes):
    with open(path, "w") as f:
        for i, b in enumerate(boxes.tolist()):
            f.write("%d\t%.6f\t%.6f\t%.6f\t%.6f\n" % (i, b[0], b[1], b[2], b[3]))


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return their properties."""
    os.makedirs(out, exist_ok=True)
    sz = SIZES[workload]
    # window_store stores an A set built like polygon_overlay's
    n = sz["polygons"]
    side, centers, radius, rings = _polygon_set(np.random.default_rng([seed, 0]), n)
    rng = np.random.default_rng([seed, 1 + list(SIZES).index(workload)])
    _write_tsv(os.path.join(out, "a.tsv"), range(n), rings)
    _, wc, wr, wrings = _polygon_set(rng, sz["warm"])
    _write_tsv(os.path.join(out, "warm_a.tsv"), range(sz["warm"]), wrings)
    props = {"workload": workload, "seed": seed, "vertices_per_object": VERTICES,
             "polygons": n, "space_side": side,
             "areal_coverage": float(_ring_areas(rings).sum()) / side ** 2}
    if workload == "polygon_overlay":
        _write_tsv(os.path.join(out, "b.tsv"), range(n), _twin(rng, centers, radius))
        _write_tsv(os.path.join(out, "warm_b.tsv"), range(sz["warm"]), _twin(rng, wc, wr))
    else:
        _write_windows(os.path.join(out, "windows.tsv"), _windows(rng, sz["windows"], centers))
        _write_windows(os.path.join(out, "warm_windows.tsv"),
                       _windows(rng, sz["warm_windows"], wc))
        props["windows"] = sz["windows"]
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f)
    return props
