"""filter_geom: crop + mask a cube by a WKT (multi)polygon.

Reference: filter_geom.cpp:32-306 — constructor computes the polygon-bbox
chunk range (pruning, :99-119); per chunk: skip if disjoint, zero-copy
pass-through if the chunk rectangle is fully contained (:196-215,231-234),
else rasterize at cell resolution (point-in-polygon per cell center,
:242-302) and NaN-out outside pixels.

Spark shape: the chunk-range prune is a `filter` on stored chunk-coord
columns (partition pruning) and a skip in the worker; the mask is a narrow
map_chunks, so it fuses onto the cube's producer. contains/disjoint fast
paths skip the PIP entirely; the exact PIP runs vectorized in numpy only on
boundary chunks.
The output cube is cropped to the polygon bbox (snap "out"), like the
reference re-views the cube to the geometry extent.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube
from gdalcubes_spark.geom import parse_wkt


def filter_geom(cube: Cube, wkt: str) -> Cube:
    geom = parse_wkt(wkt)
    view, g = cube.view, cube.chunking
    gl, gb, gr, gt = geom.bbox
    # chunk-range pruning from the polygon bbox (filter_geom.cpp:99-119)
    x0 = max(0, int(math.floor((gl - view.left) / view.dx)))
    x1 = min(view.nx, int(math.ceil((gr - view.left) / view.dx)))
    y0 = max(0, int(math.floor((view.top - gt) / view.dy)))
    y1 = min(view.ny, int(math.ceil((view.top - gb) / view.dy)))
    if x0 >= x1 or y0 >= y1:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        return Cube(spark.createDataFrame([], CHUNK_SCHEMA), view, list(cube.bands), g)

    kx0, kx1 = x0 // g.cx, (x1 - 1) // g.cx
    ky0, ky1 = y0 // g.cy, (y1 - 1) // g.cy
    vleft, vtop, dx, dy = view.left, view.top, view.dx, view.dy

    def mask(t: np.ndarray, coords):
        if not (ky0 <= coords[1] <= ky1 and kx0 <= coords[2] <= kx1):
            return None
        _, (cy0, cy1), (cx0, cx1) = g.chunk_cell_range(*coords)
        cl, cr = vleft + cx0 * dx, vleft + cx1 * dx
        ctp, cb = vtop - cy0 * dy, vtop - cy1 * dy
        if geom.disjoint_bbox(cl, cb, cr, ctp):
            return None
        if geom.contains_rect(cl, cb, cr, ctp):
            return t  # zero-copy pass-through
        xs = vleft + (np.arange(cx0, cx1) + 0.5) * dx
        ys = vtop - (np.arange(cy0, cy1) + 0.5) * dy
        X, Y = np.meshgrid(xs, ys)
        inside = geom.contains(X.ravel(), Y.ravel()).reshape(X.shape)
        return np.where(inside[None, None, :, :], t, np.nan) if inside.any() else None

    masked = cube.prune(F.col("cx").between(kx0, kx1) & F.col("cy").between(ky0, ky1)).map_chunks(mask)
    # crop to the geometry bbox; bounds are already cell-aligned (x0/x1/y0/y1
    # are cell indices), so snap="in" keeps them exactly — no outward growth
    from gdalcubes_spark.operators.select import crop
    return crop(masked,
                left=view.left + x0 * view.dx, right=view.left + x1 * view.dx,
                bottom=view.top - y1 * view.dy, top=view.top - y0 * view.dy, snap="in")
