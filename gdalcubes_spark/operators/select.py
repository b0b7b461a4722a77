"""Projection / selection operators: select_bands, rename_bands, slice_time,
slice_space, select_time, crop.

Reference: select_bands.h:50-90 (band pushdown = column pruning),
rename_bands.h:45, slice_time.h:45-85, slice_space.h:46-110,
select_time.h:22-72 (labeled time axis), crop.h:51-130 (snap near|in|out on
cell indices).

Spark shapes: band ops are narrow map_chunks. slice_time, slice_space,
select_time, crop and crop_indices are one regrid: an output→input cell
index array per axis. Its chunk-coordinate prune is derived from those
arrays (partition pruning on stored chunk rows). When every output chunk has
exactly one source chunk the regrid is narrow and fuses onto the producer;
otherwise input chunks are cut map-side and the pieces shuffle once on the
output chunk id.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import math
import operator
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark.cube import Cube, Producer, pack_tensor, piece_tensors, pin_group_partitions
from gdalcubes_spark.grid import ChunkGrid, CubeView, Datetime


def select_bands(cube: Cube, bands: Sequence[str]) -> Cube:
    bands = list(bands)
    unknown = [b for b in bands if b not in cube.bands]
    if unknown:
        raise ValueError(f"unknown bands {unknown}; cube has {cube.bands}")
    idx = [cube.bands.index(b) for b in bands]
    # pushdown: selecting bands of a raster_cube re-plans the scan so only
    # those bands are sampled/aggregated/shuffled (select_bands.h:50-90)
    rebuild = getattr(cube, "_scan_rebuild", None)
    if rebuild is not None:
        return rebuild(bands)

    def fn(t: np.ndarray, coords):
        return t[idx]

    return cube.map_chunks(fn, out_bands=bands)


def rename_bands(cube: Cube, mapping: dict) -> Cube:
    unknown = set(mapping) - set(cube.bands)
    if unknown:
        raise ValueError(f"unknown bands {unknown}")
    # keep the producer and pending chain, so the next narrow op still fuses
    return dataclasses.replace(cube, bands=[mapping.get(b, b) for b in cube.bands])


def slice_time(cube: Cube, t=None, it: Optional[int] = None) -> Cube:
    view, g = cube.view, cube.chunking
    if it is None:
        if t is None:
            raise ValueError("need t or it")
        it = view.index_at_datetime(Datetime.parse(t) if isinstance(t, str) else t)
    it = int(it)
    if not (0 <= it < view.nt):
        raise ValueError(f"time index {it} out of range [0, {view.nt})")
    out_view = view.copy(labels=None)  # single regular slice; stale labels would force nt=len(labels)
    out_view.t0 = out_view.t1 = view.datetime_at_index(it)
    gout = ChunkGrid(nt=1, ny=g.ny, nx=g.nx, ct=1, cy=g.cy, cx=g.cx)
    return _regrid(cube, ([it], np.arange(view.ny), np.arange(view.nx)), out_view, gout)


def slice_space(cube: Cube, x: Optional[float] = None, y: Optional[float] = None,
                ix: Optional[int] = None, iy: Optional[int] = None) -> Cube:
    view, g = cube.view, cube.chunking
    if ix is None or iy is None:
        if x is None or y is None:
            raise ValueError("need (x,y) or (ix,iy)")
        ix = int((x - view.left) / view.dx)
        iy = int((view.top - y) / view.dy)
    ix, iy = int(ix), int(iy)
    out_view = view.copy()
    out_view.set_x_axis(view.left + ix * view.dx, view.left + (ix + 1) * view.dx, n=1)
    out_view.set_y_axis(view.top - (iy + 1) * view.dy, view.top - iy * view.dy, n=1)
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)
    return _regrid(cube, (np.arange(view.nt), [iy], [ix]), out_view, gout)


def select_time(cube: Cube, datetimes: Sequence) -> Cube:
    """Pick arbitrary datetime slices → labeled (irregular) time axis
    (select_time.h:22-72), one output time chunk. The label list is
    broadcast via the view copy."""
    view, g = cube.view, cube.chunking
    its = [view.index_at_datetime(Datetime.parse(t) if isinstance(t, str) else t) for t in datetimes]
    labels = [view.datetime_at_index(it) for it in its]
    out_view = view.copy(t0=labels[0], t1=labels[-1], labels=tuple(labels))
    gout = ChunkGrid(nt=len(its), ny=g.ny, nx=g.nx, ct=len(its), cy=g.cy, cx=g.cx)
    return _regrid(cube, (its, np.arange(view.ny), np.arange(view.nx)), out_view, gout)


def _snap_idx(v: float, origin: float, delta: float, mode: str, lo: bool) -> int:
    f = (v - origin) / delta
    if mode == "near":
        return int(math.floor(f + 0.5)) if lo else int(math.ceil(f - 0.5))
    if mode == "in":
        return int(math.ceil(f)) if lo else int(math.floor(f))
    if mode == "out":
        return int(math.floor(f)) if lo else int(math.ceil(f))
    raise ValueError(f"unknown snap {mode!r}")


def crop(cube: Cube, left=None, right=None, bottom=None, top=None, t0=None, t1=None,
         snap: str = "near") -> Cube:
    """Crop by extent/time with index snapping (crop.h:51-130); the snapped
    cell-index ranges go to crop_indices."""
    view = cube.view
    x0 = _snap_idx(left, view.left, view.dx, snap, True) if left is not None else 0
    x1 = _snap_idx(right, view.left, view.dx, snap, False) if right is not None else view.nx
    # y axis counts down from top
    y0 = _snap_idx(top, view.top, -view.dy, snap, True) if top is not None else 0
    y1 = _snap_idx(bottom, view.top, -view.dy, snap, False) if bottom is not None else view.ny
    if t0 is not None:
        tt0 = view.index_at_datetime(Datetime.parse(t0) if isinstance(t0, str) else t0)
    else:
        tt0 = 0
    if t1 is not None:
        tt1 = view.index_at_datetime(Datetime.parse(t1) if isinstance(t1, str) else t1) + 1
    else:
        tt1 = view.nt
    return crop_indices(cube, ix0=x0, ix1=x1, iy0=y0, iy1=y1, it0=tt0, it1=tt1)


def crop_indices(cube: Cube, ix0: int = 0, ix1: Optional[int] = None,
                 iy0: int = 0, iy1: Optional[int] = None,
                 it0: int = 0, it1: Optional[int] = None) -> Cube:
    """The reference crop's INDEX variant (crop.h:74-130): half-open cell
    index ranges instead of coordinates; ranges are clipped to the cube."""
    view, g = cube.view, cube.chunking
    x1 = view.nx if ix1 is None else int(ix1)
    y1 = view.ny if iy1 is None else int(iy1)
    t1 = view.nt if it1 is None else int(it1)
    x0, y0, t0 = max(0, int(ix0)), max(0, int(iy0)), max(0, int(it0))
    x1, y1, t1 = min(view.nx, x1), min(view.ny, y1), min(view.nt, t1)
    if x1 <= x0 or y1 <= y0 or t1 <= t0:
        raise ValueError("empty crop")
    # labeled axis: keep only the labels inside the crop window
    out_view = view.copy(labels=(view.labels[t0:t1] if view.labels is not None else None))
    out_view.set_x_axis(view.left + x0 * view.dx, view.left + x1 * view.dx, n=x1 - x0)
    out_view.set_y_axis(view.top - y1 * view.dy, view.top - y0 * view.dy, n=y1 - y0)
    out_view.t0 = view.datetime_at_index(t0)
    out_view.t1 = view.datetime_at_index(t1 - 1)
    gout = ChunkGrid(nt=t1 - t0, ny=y1 - y0, nx=x1 - x0, ct=g.ct, cy=g.cy, cx=g.cx)
    return _regrid(cube, (np.arange(t0, t1), np.arange(y0, y1), np.arange(x0, x1)), out_view, gout)


_PIECE_SCHEMA = T.StructType([
    T.StructField("tkey", T.LongType(), False),  # output chunk id
    T.StructField("src", T.LongType(), False),   # source chunk id
    T.StructField("nb", T.IntegerType(), False),
    T.StructField("nt", T.IntegerType(), False),
    T.StructField("ny", T.IntegerType(), False),
    T.StructField("nx", T.IntegerType(), False),
    T.StructField("data", T.BinaryType(), False),
])


def _as_index(a: np.ndarray):
    """A slice (a view) when the indices are one ascending run, else the array."""
    return slice(int(a[0]), int(a[-1]) + 1) if np.array_equal(a, np.arange(a[0], a[0] + len(a))) else a


def _regrid(cube: Cube, idx, out_view: CubeView, gout: ChunkGrid) -> Cube:
    """Output cell i along axis a (t, y, x) is input cell idx[a][i].
    parts[a] maps each input chunk index to the output chunks it feeds as
    (output chunk index, local input indices); at[a] gives the positions
    those cells take in the output chunk. A (t, y, x) combination is one
    piece."""
    g = cube.chunking
    parts, at, narrow = [], [], True
    for axis_idx, cin, cout in zip(idx, (g.ct, g.cy, g.cx), (gout.ct, gout.cy, gout.cx)):
        axis_idx = np.asarray(axis_idx, dtype=np.int64)
        per_src, pos = {}, {}
        for k in range(-(-len(axis_idx) // cout)):
            cells = axis_idx[k * cout:(k + 1) * cout]
            srcs = np.unique(cells // cin)
            narrow = narrow and len(srcs) == 1
            for i in map(int, srcs):
                pos[i, k] = np.flatnonzero(cells // cin == i)
                per_src.setdefault(i, []).append((k, _as_index(cells[pos[i, k]] - i * cin)))
        parts.append(per_src)
        at.append(pos)

    def pieces(coords, t):
        """(output chunk coords, piece) for each output chunk that the input
        chunk at `coords` feeds; all-NaN pieces are dropped."""
        for (kt, lt), (ky, ly), (kx, lx) in itertools.product(*(p.get(i, ()) for p, i in zip(parts, coords))):
            piece = t[:, lt][:, :, ly][:, :, :, lx]
            if not np.all(np.isnan(piece)):
                yield (kt, ky, kx), piece

    # partition pruning on chunk coords: only input chunks some output cell reads
    where = []
    for col, per_src, n in zip(("ct", "cy", "cx"), parts, (g.nct, g.ncy, g.ncx)):
        need = sorted(per_src)
        if len(need) < n:
            run = need[-1] - need[0] + 1 == len(need)
            where.append(F.col(col).between(need[0], need[-1]) if run else F.col(col).isin(need))
    pruned = cube.prune(functools.reduce(operator.and_, where)) if where else cube

    if narrow:  # every output chunk is one piece of one input chunk: fuse
        def place(cid, coords, t):
            for ks, piece in pieces(coords, t):
                yield gout.chunk_id(*ks), ks, piece

        producer, chain = pruned._pending()
        return Cube.produce(producer.then(chain, place), out_view, cube.bands, gout)

    def cut(cid, coords, t):
        return [dict(tkey=gout.chunk_id(*ks), src=cid, nb=p.shape[0], nt=p.shape[1], ny=p.shape[2],
                     nx=p.shape[3], data=pack_tensor(p)) for ks, p in pieces(coords, t)]

    nb = len(cube.bands)

    def assemble(key, pdf: pd.DataFrame):
        cid = int(key[0])
        ks = gout.chunk_coords(cid)
        out = np.full((nb,) + gout.chunk_shape(*ks), np.nan)
        for src, p in zip(pdf["src"].to_numpy(), piece_tensors(pdf)):
            where_at = (at[a][i, ks[a]] for a, i in enumerate(g.chunk_coords(int(src))))
            out[np.ix_(np.arange(nb), *where_at)] = p
        yield cid, ks, out

    cut_pieces = pin_group_partitions(pruned.stream(cut, _PIECE_SCHEMA), "tkey", gout.n_chunks)
    return Cube.produce(Producer(cut_pieces, ("tkey",), assemble), out_view, cube.bands, gout)
