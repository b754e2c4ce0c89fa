"""Driver-side references the workload outputs are checked against.

Written independently of the engine's Spark code: plain numpy and Python
over the seeded inputs.  The projection, datum and geodesic math of
``point_kernels`` is checked against the engine's own numpy kernels,
called directly on the driver — that check covers the Arrow/UDF
boundary, the codegen twin and the Spark roll-ups, not the kernel
formulas themselves.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict, deque

import numpy as np


class CheckFailed(AssertionError):
    """An engine output disagrees with its reference."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ------------------------------------------------------------ cells ---

def cell_xy(lon, lat, res: int):
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1)
    return ix.astype(np.int64), iy.astype(np.int64)


def cell_id(lon, lat, res: int) -> np.ndarray:
    ix, iy = cell_xy(lon, lat, res)
    return ix * (1 << res) + iy


def rollup(cells: np.ndarray, *values: np.ndarray) -> dict[int, tuple]:
    """{cell: (count, sum(v0), sum(v1), …)}."""
    ids, inv, cnt = np.unique(cells, return_inverse=True, return_counts=True)
    sums = [np.bincount(inv, weights=v, minlength=len(ids)) for v in values]
    return {int(c): (int(cnt[i]), *[float(s[i]) for s in sums])
            for i, c in enumerate(ids)}


def compare_rollup(got: dict[int, tuple], want: dict[int, tuple],
                   what: str, rtol: float = 1e-9, atol: float = 1e-6) -> None:
    require(got.keys() == want.keys(),
            f"{what}: cell sets differ ({len(got)} vs {len(want)} cells)")
    for c, w in want.items():
        g = got[c]
        require(g[0] == w[0], f"{what}: cell {c} count {g[0]} != {w[0]}")
        require(np.allclose(g[1:], w[1:], rtol=rtol, atol=atol),
                f"{what}: cell {c} sums {g[1:]} != {w[1:]}")


# ------------------------------------------------------ point in polygon ---

def inside(px: np.ndarray, py: np.ndarray, xs: np.ndarray,
           ys: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of points against one ring.  A ring that
    straddles ±180° is given in a continuous frame (lons past 180); each
    point lon is first moved into the ring's ±180° window."""
    cx = (xs.min() + xs.max()) / 2.0
    px = px + 360.0 * np.floor((cx - px) / 360.0 + 0.5)
    out = np.zeros(px.shape, dtype=bool)
    j = len(xs) - 1
    for i in range(len(xs)):
        crosses = (ys[i] > py) != (ys[j] > py)
        dy = np.where(ys[j] == ys[i], 1.0, ys[j] - ys[i])
        x_at = xs[i] + (py - ys[i]) * (xs[j] - xs[i]) / dy
        out ^= crosses & (px < x_at)
        j = i
    return out


def _bbox_candidates(lon, lat, poly) -> np.ndarray:
    """Indices of points inside the ring's bbox (lon taken modulo 360)."""
    xs, ys = poly["xs"], poly["ys"]
    lo = xs.min()
    span = xs.max() - lo
    dx = (lon - lo) % 360.0
    return np.flatnonzero((dx <= span) & (lat >= ys.min()) & (lat <= ys.max()))


def pip_members(lon, lat, layer: list[dict]) -> dict[int, np.ndarray]:
    """{poly_id: indices of the points inside it}."""
    out = {}
    for poly in layer:
        idx = _bbox_candidates(lon, lat, poly)
        hit = inside(lon[idx], lat[idx], poly["xs"], poly["ys"])
        out[int(poly["poly_id"])] = idx[hit]
    return out


def interior_share(layer: list[dict], covers: dict[int, np.ndarray],
                   res: int) -> float:
    """Share of cover cells lying wholly inside their (convex) polygon:
    all four corners inside ⇒ interior."""
    n = 1 << res
    total = interior = 0
    for poly in layer:
        cov = covers[int(poly["poly_id"])]
        lon0 = (cov // n) / n * 360.0 - 180.0
        lat0 = (cov % n) / n * 180.0 - 90.0
        ok = np.ones(len(cov), dtype=bool)
        for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1)):
            ok &= inside(lon0 + dx * 360.0 / n, lat0 + dy * 180.0 / n,
                         poly["xs"], poly["ys"])
        total += len(cov)
        interior += int(ok.sum())
    return interior / total


# ------------------------------------------------------------- raster ---

def pixel_value(px: int, py: int) -> int:
    """Band-0 mosaic pixel: gradient + md5 noise over global coordinates."""
    h = hashlib.md5(f"px:{px}:{py}".encode()).hexdigest()
    return (px * 3 + py * 7 + int(h[:15], 16) % 32) % 256


def mosaic(width: int, height: int) -> np.ndarray:
    """[py, px] pixel array of the whole mosaic."""
    return np.array([[pixel_value(x, y) for x in range(width)]
                     for y in range(height)], dtype=np.float64)


def bilinear_clamp(img: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Bilinear sample with edge clamping; taps summed in (0,0), (1,0),
    (0,1), (1,1) order."""
    h, w = img.shape
    bx, by = np.floor(x), np.floor(y)
    fx, fy = x - bx, y - by
    out = np.zeros(len(x))
    for dy in (0, 1):
        for dx in (0, 1):
            wx = fx if dx else 1.0 - fx
            wy = fy if dy else 1.0 - fy
            px = np.clip(bx + dx, 0, w - 1).astype(np.int64)
            py = np.clip(by + dy, 0, h - 1).astype(np.int64)
            out = out + wx * wy * img[py, px]
    return out


# -------------------------------------------------------------- graphs ---

def components(nodes: np.ndarray, edges: np.ndarray) -> dict[int, int]:
    """{node: smallest node id of its component} by union-find."""
    parent = {int(v): int(v) for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def queen(c: int, res: int) -> list[int]:
    """Queen neighbours of a cell: longitude wraps, latitude clips."""
    n = 1 << res
    ix, iy = divmod(c, n)
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if (dx or dy) and 0 <= iy + dy < n:
                out.append(((ix + dx) % n) * n + iy + dy)
    return out


def bfs(cells: dict[int, int], res: int, source: int,
        max_hops: int) -> dict[int, int]:
    """{cell: hop distance} over occupied queen-adjacent cells."""
    dist = {source: 0}
    todo = deque([source])
    while todo:
        c = todo.popleft()
        if dist[c] == max_hops:
            continue
        for nb in queen(c, res):
            if nb in cells and nb not in dist:
                dist[nb] = dist[c] + 1
                todo.append(nb)
    return dist


D8 = ((1, 1, 0), (2, 1, -1), (4, 0, -1), (8, -1, -1),
      (16, -1, 0), (32, -1, 1), (64, 0, 1), (128, 1, 1))


def flow_accumulation(z: np.ndarray, max_steps: int) -> dict[tuple, int]:
    """{(gi, gj): arrivals} of a bounded D8 token walk: every interior
    cell drains to its steepest strictly-lower neighbour (ties → lowest
    code); each token moves up to ``max_steps`` hops."""
    w, h = z.shape
    nxt = {}
    for i in range(1, w - 1):
        for j in range(1, h - 1):
            drops = [(int(z[i, j] - z[i + dx, j + dy]), code, dx, dy)
                     for code, dx, dy in D8]
            best = max(d for d, *_ in drops)
            if best > 0:
                _, _, dx, dy = next(t for t in drops if t[0] == best)
                nxt[(i, j)] = (i + dx, j + dy)
    acc: dict[tuple, int] = defaultdict(int)
    tokens = list(nxt)
    for _ in range(max_steps):
        tokens = [nxt[t] for t in tokens if t in nxt]
        if not tokens:
            break
        for t in tokens:
            acc[t] += 1
    return dict(acc)
