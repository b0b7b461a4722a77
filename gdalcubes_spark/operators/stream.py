"""User-defined-function operators — the reference's "streaming" machinery
(stream.h:38-120, stream_apply_pixel/time, R chunk_apply/apply_time/predict)
re-expressed as Arrow-batched pandas transforms. cloudpickle (built into
PySpark) replaces the reference's external-process byte protocol; Arrow
replaces its [size][names][dims][payload] framing.

- chunk_apply(fn):   fn(tensor (nb,nt,ny,nx), (ict,icy,icx)) → tensor; output
  t/y/x dims must be 1 or same-as-input (stream.h shape rule).
- apply_time(fn):    fn sees each pixel's FULL (nb, nt) series; output
  (k, nt). Requires the whole time axis → gathers chunk columns when nct > 1.
- predict(model):    broadcast model, model.predict(X (cells, nb)) → (cells,)
  or (cells, k); the standard Spark batch-inference pattern.
"""

from __future__ import annotations

from typing import Callable, List, Optional

import numpy as np

from gdalcubes_spark.cube import Cube, split_time
from gdalcubes_spark.grid import ChunkGrid


def chunk_apply(cube: Cube, fn: Callable, names: Optional[List[str]] = None) -> Cube:
    def wrapped(t: np.ndarray, coords):
        r = fn(t, coords)
        if r is None:
            return None
        r = np.asarray(r, dtype="float64")
        nb, nt, ny, nx = t.shape
        for dim, (got, want) in enumerate(zip(r.shape[1:], (nt, ny, nx))):
            if got not in (1, want):
                raise ValueError(f"chunk_apply output dim {dim} must be 1 or {want}, got {got}")
        return r
    out_bands = names
    if out_bands is None:
        out_bands = list(cube.bands)
    # output dims may shrink to 1 → probe lazily is impossible; trust shape rule
    return cube.map_chunks(wrapped, out_bands=out_bands)


def apply_time(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
               names: Optional[List[str]] = None) -> Cube:
    """fn: (nb, nt) → (k, nt) per pixel (R apply_time, R/apply_time.R:115).
    The function is applied per pixel; vectorize inside fn where possible."""
    g = cube.chunking

    def per_chunk(full: np.ndarray) -> np.ndarray:
        nb, nt, ny, nx = full.shape
        cols = full.reshape(nb, nt, ny * nx)
        outs = []
        for i in range(ny * nx):
            r = np.asarray(fn(cols[:, :, i]), dtype="float64")
            if r.ndim == 1:
                r = r[None, :]
            outs.append(r)
        k = outs[0].shape[0]
        out = np.stack(outs, axis=-1).reshape(k, nt, ny, nx)
        return out

    out_bands = names or list(cube.bands)
    if g.nct == 1:
        return cube.map_chunks(lambda t, coords: per_chunk(t), out_bands=out_bands)
    return cube.gather_time(lambda col, sp: split_time(g, per_chunk(col), *sp), bands=out_bands)


def reduce_time_udf(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
                    names: Optional[List[str]] = None) -> Cube:
    """R `reduce_time(x, FUN=...)` (stream_reduce_time.cpp:24-196): fn sees
    each pixel's FULL (nb, nt) series, returns (k,) — output nt == 1.
    The full time axis is assembled per spatial chunk before the call."""
    g, view = cube.chunking, cube.view
    gout = ChunkGrid(nt=1, ny=g.ny, nx=g.nx, ct=1, cy=g.cy, cx=g.cx)
    out_view = view.copy(dt=(view.t1 - view.t0) + 1, labels=None)

    def reduce(col: np.ndarray, sp):
        nb, nt, ny, nx = col.shape
        cols = col.reshape(nb, nt, ny * nx)
        outs = [np.atleast_1d(np.asarray(fn(cols[:, :, i]), dtype="float64")) for i in range(ny * nx)]
        out = np.stack(outs, axis=-1).reshape(len(outs[0]), 1, ny, nx)
        if not np.all(np.isnan(out)):
            yield gout.chunk_id(0, *sp), (0, *sp), out

    return cube.gather_time(reduce, out_view, names or ["udf1"], gout)


def reduce_space_udf(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
                     names: Optional[List[str]] = None) -> Cube:
    """R `reduce_space(x, FUN=...)` (stream_reduce_space.cpp): fn sees each
    time slice's full (nb, ny, nx) plane, returns (k,) — output 1×1/slice."""
    g, view = cube.chunking, cube.view
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)
    out_view = view.copy()
    out_view.set_x_axis(view.left, view.right, n=1)
    out_view.set_y_axis(view.bottom, view.top, n=1)

    def reduce(slab: np.ndarray, ict: int):
        ntc = slab.shape[1]
        outs = [np.atleast_1d(np.asarray(fn(slab[:, t]), dtype="float64")) for t in range(ntc)]
        out = np.stack(outs, axis=1).reshape(len(outs[0]), ntc, 1, 1)
        if not np.all(np.isnan(out)):
            yield gout.chunk_id(ict, 0, 0), (ict, 0, 0), out

    return cube.gather_space(reduce, out_view, names or ["udf1"], gout)


def predict(cube: Cube, model, output_names: Optional[List[str]] = None,
            keep_bands: bool = False) -> Cube:
    """Per-pixel model inference (R/predict.R:57): model.predict over
    (cells, nb) feature matrix, vectorized per chunk. NaN feature rows → NaN
    predictions."""
    names = output_names or ["pred"]

    def fn(t: np.ndarray, coords):
        nb, nt, ny, nx = t.shape
        X = t.reshape(nb, -1).T  # (cells, nb)
        ok = ~np.any(np.isnan(X), axis=1)
        out = np.full((len(names), X.shape[0]), np.nan)
        if ok.any():
            y = np.asarray(model.predict(X[ok]), dtype="float64")
            if y.ndim == 1:
                y = y[:, None]
            out[:, ok] = y.T[: len(names)]
        r = out.reshape(len(names), nt, ny, nx)
        if keep_bands:
            r = np.concatenate([t, r], axis=0)
        return r

    out_bands = (list(cube.bands) + names) if keep_bands else names
    return cube.map_chunks(fn, out_bands=out_bands)
