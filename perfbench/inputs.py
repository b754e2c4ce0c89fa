"""Seeded input generation for the four workloads.

Every generator is a pure function of its arguments built on numpy's
``default_rng`` — the same seed gives byte-identical inputs.  What sets a
call's cost (where the point clusters sit and how wide they are, the
polygon layer, the Vincenty anchor's region) is drawn from a fixed
stream, the same for every seed; the seed draws the samples within that
layout (every point, every document, the anchor within its region).
So a seed changes every input value but not the work a pass does, and
runs with different seeds measure the same workload.  The engine
only ever sees the files or DataFrames built from these arrays; the arrays
themselves also feed the driver-side references in ``reference.py``.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# point envelope: the whole longitude circle (so seam polygons see points),
# latitude clipped well away from the antipode of the Vincenty anchor
LAT_LO, LAT_HI = -50.0, 78.0


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _layout(stream: int) -> np.random.Generator:
    """The fixed stream a generator draws its cost-setting layout from."""
    return np.random.default_rng([0x5EED, stream])


def points(seed: int, n: int) -> dict[str, np.ndarray]:
    """60 % uniform over the envelope, 40 % in 12 Gaussian clusters (the
    clusters' centres and widths are the fixed layout).

    Columns: pid (int64, 0..n-1), lon, lat (float64), val (int64 0..999).
    """
    rng = _rng(seed, 1)
    n_clu = n * 2 // 5
    n_uni = n - n_clu
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:n_uni] = rng.uniform(-180.0, 180.0, n_uni)
    lat[:n_uni] = rng.uniform(LAT_LO, LAT_HI, n_uni)
    k = 12
    fixed = _layout(1)
    c_lon = fixed.uniform(-150.0, 150.0, k)
    c_lat = fixed.uniform(-40.0, 65.0, k)
    sig = fixed.uniform(0.5, 3.0, k)
    which = rng.integers(0, k, n_clu)
    lon[n_uni:] = c_lon[which] + rng.normal(0.0, 1.0, n_clu) * sig[which]
    lat[n_uni:] = c_lat[which] + rng.normal(0.0, 1.0, n_clu) * sig[which]
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, LAT_LO, LAT_HI)
    order = rng.permutation(n)
    return {
        "pid": np.arange(n, dtype=np.int64),
        "lon": lon[order],
        "lat": lat[order],
        "val": rng.integers(0, 1000, n).astype(np.int64),
    }


def write_parquet(cols: dict[str, np.ndarray], path: str, n_files: int) -> None:
    """Write a column dict as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        table = pa.table({k: v[lo:hi] for k, v in cols.items()})
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def _convex_ring(rng, cx, cy, nv, radius, squash=0.8):
    """``nv`` vertices evenly spaced round the circle, each angle moved by
    up to a third of the spacing."""
    step = 2.0 * np.pi / nv
    ang = np.arange(nv) * step + rng.uniform(-step / 3.0, step / 3.0, nv)
    return cx + radius * np.cos(ang), cy + radius * np.sin(ang) * squash


def polygon_layer(n_large: int, n_small: int) -> list[dict]:
    """A few large convex polygons (most cover cells lie inside them) and
    many small ones (most cover cells straddle an edge).  The whole layer
    is fixed layout, the same for every seed: a point cluster that a
    polygon edge cuts makes the join's work depend on the exact edge, so
    only the points vary with the seed.  Seam-straddling polygons are
    added by the caller from ``synth.seam_polygon_layer_np``.
    """
    fixed = _layout(2)
    out = []
    for p in range(n_large):
        cx, cy = fixed.uniform(-150.0, 150.0), fixed.uniform(-30.0, 55.0)
        xs, ys = _convex_ring(fixed, cx, cy, int(fixed.integers(5, 13)), 11.0)
        out.append({"poly_id": p, "xs": xs, "ys": ys})
    for p in range(n_small):
        cx, cy = fixed.uniform(-170.0, 170.0), fixed.uniform(-45.0, 72.0)
        xs, ys = _convex_ring(fixed, cx, cy, int(fixed.integers(5, 13)), 0.9)
        out.append({"poly_id": 100 + p, "xs": xs, "ys": ys})
    return out


def vincenty_anchor(seed: int) -> tuple[float, float]:
    """Anchor far enough north that its antipode lies outside the points'
    latitude band (no near-antipodal Vincenty pairs), within a degree of a
    fixed spot: the iteration count of every pair depends on where the
    anchor lies."""
    rng = _rng(seed, 3)
    return float(rng.uniform(-1.0, 1.0)), float(rng.uniform(65.5, 66.5))


def warp_bounds(seed: int) -> tuple[float, float, float, float]:
    """Destination extent in Albers metres, jittered by the seed."""
    rng = _rng(seed, 4)
    x0 = -3.0e6 + rng.uniform(-2.0e5, 2.0e5)
    y0 = 2.0e6 + rng.uniform(-2.0e5, 2.0e5)
    return x0, y0, x0 + 6.0e6, y0 + 4.5e6


# ----------------------------------------------------------------- docs ---

KINDS = ("text", "image", "video", "geo")


def documents(seed: int, n_docs: int) -> dict:
    """Interleaved documents in the ``synth.documents`` schema, seeded.

    Returns the arrow table plus the flat geo-span arrays the references
    need (lon/lat exactly as the engine will parse them back)."""
    rng = _rng(seed, 5)
    n_spans = rng.integers(1, 9, n_docs)
    offsets = np.r_[0, np.cumsum(n_spans)].astype(np.int32)
    total = int(offsets[-1])
    doc_of_span = np.repeat(np.arange(n_docs), n_spans)
    span_offset = (np.arange(total) - offsets[:-1][doc_of_span]).astype(np.int32)
    kind_idx = rng.integers(0, 4, total)
    is_geo = kind_idx == 3
    g = points(seed + 7919, int(is_geo.sum()))
    lon_txt = np.char.mod("%.9f", g["lon"])
    lat_txt = np.char.mod("%.9f", g["lat"])
    geo_text = np.char.add(np.char.add(lon_txt, ","), lat_txt)
    words = np.char.add("tok", rng.integers(0, 1000, total).astype(str))
    text = np.where(kind_idx == 0, words, None).astype(object)
    text[is_geo] = geo_text
    media = np.full(total, None, dtype=object)
    is_media = (kind_idx == 1) | (kind_idx == 2)
    media[is_media] = np.char.add(
        "m://", rng.integers(0, 1 << 62, int(is_media.sum())).astype(str))
    spans = pa.StructArray.from_arrays(
        [pa.array(np.asarray(KINDS)[kind_idx]), pa.array(text, pa.string()),
         pa.array(media, pa.string()), pa.array(span_offset)],
        names=["kind", "text", "media_ref", "offset"])
    doc_ids = np.char.mod("doc%012d", np.arange(n_docs) + seed * 10_000_000)
    table = pa.table({
        "doc_id": pa.array(doc_ids),
        "spans": pa.ListArray.from_arrays(pa.array(offsets), spans),
    })
    return {
        "table": table,
        "n_docs": n_docs,
        "n_spans": total,
        "geo_doc": doc_ids[doc_of_span[is_geo]],
        # the values exactly as the engine's string → double parse sees them
        "geo_lon": lon_txt.astype(np.float64),
        "geo_lat": lat_txt.astype(np.float64),
    }


# -------------------------------------------------------- cell surfaces ---

def hotspot_cells(seed: int, res: int, n_blobs: int = 4,
                  background: float = 0.08) -> dict[int, int]:
    """{cell_id: count} at ``res``: dense round blobs over a sparse
    background — the BFS from the densest cell crosses several shells."""
    rng = _rng(seed, 6)
    n = 1 << res
    counts: dict[int, int] = {}
    occ = rng.random((n, n)) < background
    for ix, iy in zip(*np.nonzero(occ)):
        counts[int(ix) * n + int(iy)] = int(rng.integers(1, 4))
    for _ in range(n_blobs):
        cx, cy = int(rng.integers(8, n - 8)), int(rng.integers(8, n - 8))
        r = 4
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                d = math.hypot(dx, dy)
                if d <= r:
                    c = ((cx + dx) % n) * n + (cy + dy)
                    counts[c] = counts.get(c, 0) + int(60 * (1.0 - d / (r + 1))) + 5
    return counts


def cc_graph(seed: int, n_comp: int = 10, size: int = 3,
             n_isolated: int = 40) -> dict:
    """Undirected graph with known components: ``n_comp`` paths of ``size``
    nodes plus isolated nodes.  Node ids are seeded random values, sorted
    along each path, so every seed has the same component diameter and
    the same label-propagation depth — the loop runs the same number of
    rounds on every seed."""
    rng = _rng(seed, 7)
    n = n_comp * size + n_isolated
    ids = np.sort(rng.choice(1 << 40, n, replace=False)).astype(np.int64)
    slots = rng.permutation(n)  # which ids go to which path, and in what order
    edges = []
    for k in range(n_comp):
        comp = np.sort(ids[slots[k * size:(k + 1) * size]])
        edges += [(comp[i], comp[i + 1]) for i in range(size - 1)]
    e = np.array(edges, dtype=np.int64)
    flip = rng.random(len(e)) < 0.5
    e[flip] = e[flip][:, ::-1]
    return {"nodes": ids[rng.permutation(n)], "edges": e}


def dem(seed: int, w: int, h: int) -> np.ndarray:
    """Integer DEM (w × h, indexed [gi, gj]): a seeded tilted plane plus a
    bowl and small noise — long strictly-downhill paths, a few pits."""
    rng = _rng(seed, 8)
    gi, gj = np.meshgrid(np.arange(w), np.arange(h), indexing="ij")
    a, b = rng.uniform(3.0, 6.0, 2)
    cx, cy = rng.uniform(0.3, 0.7, 2) * (w, h)
    bowl = 0.08 * ((gi - cx) ** 2 + (gj - cy) ** 2)
    z = a * gi + b * gj + bowl + rng.integers(0, 6, (w, h))
    return np.round(z).astype(np.int64)
