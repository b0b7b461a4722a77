"""Numpy reference results for the benchmark workloads.

Each oracle recomputes a workload's output on the driver from the same
seeded inputs, without Spark and without the engine's chunk machinery, so a
change to the engine cannot move the oracle with it:

- scan oracles sample every image at the cube's cell centres (bilinear,
  same-SRS) over the whole grid and aggregate per (month, cell);
- lossless payloads enter as the synthetic layout's analytic pixels; JPEG
  payloads enter as the engine's decoder returns them, and each must lie
  within the BASELINE contract (PSNR >= 40 dB against its source pixels), so
  a change of decoder is judged by that contract while every cube cell is
  still compared exactly;
- the cube-chain oracle applies fill / focal mean / temporal aggregation /
  reduction as dense numpy array operations.
"""

from __future__ import annotations

import numpy as np

JPEG_PSNR_FLOOR_DB = 40.0  # BASELINE.json: decoded pixels PSNR >= 40 dB for lossy formats
ATOL = 1e-9


def psnr_db(a: np.ndarray, b: np.ndarray, peak: float) -> float:
    mse = float(np.mean((np.asarray(a, "float64") - np.asarray(b, "float64")) ** 2))
    return float("inf") if mse == 0.0 else 10.0 * np.log10(peak * peak / mse)


def _interp_matrix(f: np.ndarray, n: int) -> np.ndarray:
    """(len(f), n) bilinear weights for continuous pixel coordinates f:
    taps floor(f - 0.5) and the next pixel, both clamped to the image, the
    second weighted by the fractional part."""
    u = f - 0.5
    i0 = np.clip(np.floor(u).astype(np.int64), 0, n - 1)
    i1 = np.clip(i0 + 1, 0, n - 1)
    w1 = np.clip(u - np.floor(u), 0.0, 1.0)
    m = np.zeros((len(f), n))
    rows = np.arange(len(f))
    np.add.at(m, (rows, i0), 1.0 - w1)
    np.add.at(m, (rows, i1), w1)
    return m


def _axis(coords: np.ndarray, origin: float, step: float, n: int, cache: dict):
    """(first covered cell, interpolation matrix) of one image axis over the
    grid's cell centres; cached per (origin, step, n)."""
    key = (origin, step, n)
    if key not in cache:
        f = (coords - origin) / step
        cov = np.nonzero((f >= 0) & (f < n))[0]
        cache[key] = (int(cov[0]), _interp_matrix(f[cov], n)) if len(cov) else None
    return cache[key]


def scan_cube(images, grid, method: str, block: int = 32):
    """Per-(month, cell) aggregate of all images: (nb, nt, ny, nx) float64.

    images: iterable of dicts with pix (nb, h, w) uint8, bbox, it.
    grid: dict(left, top, dx, dy, nx, ny, nt).
    method: "mean" or "median" (NaN-skipping; even counts average the two
    middle samples).

    Sampling is separable bilinear at cell centres, written as
    Wy @ pixels @ Wx.T; a cell is covered when its centre lies inside the
    image."""
    nx, ny, nt = grid["nx"], grid["ny"], grid["nt"]
    xs = grid["left"] + (np.arange(nx) + 0.5) * grid["dx"]
    ys = grid["top"] - (np.arange(ny) + 0.5) * grid["dy"]
    per_month = [[] for _ in range(nt)]
    cache_x, cache_y = {}, {}
    nb = None
    for im in images:
        if not 0 <= im["it"] < nt:
            continue
        pix = im["pix"]
        nb, h, w = pix.shape
        left, right, bottom, top = im["bbox"]
        ax = _axis(xs, left, (right - left) / w, w, cache_x)
        ay = _axis(-ys, -top, (top - bottom) / h, h, cache_y)
        if ax is None or ay is None:
            continue
        (x0, wx), (y0, wy) = ax, ay
        vals = wy @ pix.astype("float64") @ wx.T
        per_month[im["it"]].append((vals, y0, x0))
    out = np.full((nb, nt, ny, nx), np.nan)
    for it, items in enumerate(per_month):
        if method == "mean":
            s = np.zeros((nb, ny, nx))
            c = np.zeros((ny, nx))
            for vals, y0, x0 in items:
                s[:, y0:y0 + vals.shape[1], x0:x0 + vals.shape[2]] += vals
                c[y0:y0 + vals.shape[1], x0:x0 + vals.shape[2]] += 1
            with np.errstate(invalid="ignore"):
                out[:, it] = np.where(c > 0, s / np.maximum(c, 1), np.nan)
        elif method == "median":
            _median_month(items, out[:, it], block)
        else:
            raise ValueError(method)
    return out


def _median_month(items, dst, block):
    """Per-cell median of one month's windows into dst (nb, ny, nx): one
    dense stack per block of cells, holding only the windows that overlap
    the block."""
    nb, ny, nx = dst.shape
    if not items:
        return
    y0s = np.array([y0 for _, y0, _ in items])
    x0s = np.array([x0 for _, _, x0 in items])
    y1s = y0s + np.array([v.shape[1] for v, _, _ in items])
    x1s = x0s + np.array([v.shape[2] for v, _, _ in items])
    for by in range(0, ny, block):
        hb = min(block, ny - by)
        rows = np.nonzero((y0s < by + hb) & (y1s > by))[0]
        for bx in range(0, nx, block):
            wb = min(block, nx - bx)
            hit = rows[(x0s[rows] < bx + wb) & (x1s[rows] > bx)]
            if len(hit) == 0:
                continue
            buf = np.full((len(hit), nb, hb, wb), np.nan)
            for k, j in enumerate(hit):
                v, y0, x0 = items[j]
                ya, yb = max(by, y0), min(by + hb, y0 + v.shape[1])
                xa, xb = max(bx, x0), min(bx + wb, x0 + v.shape[2])
                buf[k, :, ya - by:yb - by, xa - bx:xb - bx] = v[:, ya - y0:yb - y0, xa - x0:xb - x0]
            flat = buf.reshape(len(hit), -1)
            flat.sort(axis=0)  # NaN sorts last
            cnt = len(hit) - np.isnan(flat).sum(axis=0)
            has = np.nonzero(cnt > 0)[0]
            med = np.full(flat.shape[1], np.nan)
            lo, hi = (cnt[has] - 1) // 2, cnt[has] // 2
            med[has] = (flat[lo, has] + flat[hi, has]) / 2.0
            dst[:, by:by + hb, bx:bx + wb] = med.reshape(nb, hb, wb)


def ndvi(cube: np.ndarray) -> np.ndarray:
    """(b02 - b01) / (b02 + b01 + 1) over a (2, nt, ny, nx) cube."""
    b01, b02 = cube[0], cube[1]
    return (b02 - b01) / (b02 + b01 + 1)


def nan_median_time(a: np.ndarray) -> np.ndarray:
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        return np.nanmedian(a, axis=0)


def nan_mean(a: np.ndarray, axis: int) -> np.ndarray:
    import warnings
    with np.errstate(all="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        return np.nanmean(a, axis=axis)


def nan_max(a: np.ndarray, axis: int) -> np.ndarray:
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        return np.nanmax(a, axis=axis)


def cube_chain(cells: np.ndarray, agg_fact: int = 4) -> np.ndarray:
    """fill_time(locf) → 3×3 focal mean (no padding) → aggregate_time(fact,
    mean) → reduce_time(mean, max) over a dense (nt, ny, nx) array with NaN
    for absent cells. Returns (2, ny, nx): band 0 mean, band 1 max."""
    nt, ny, nx = cells.shape
    filled = cells.copy()
    for t in range(1, nt):
        gap = np.isnan(filled[t])
        filled[t][gap] = filled[t - 1][gap]
    padded = np.full((nt, ny + 2, nx + 2), np.nan)
    padded[:, 1:-1, 1:-1] = filled
    win = np.stack([padded[:, dy:dy + ny, dx:dx + nx] for dy in range(3) for dx in range(3)])
    focal = nan_mean(win, axis=0)
    agg = nan_mean(focal.reshape(nt // agg_fact, agg_fact, ny, nx), axis=1)
    return np.stack([nan_mean(agg, axis=0), nan_max(agg, axis=0)])
