"""join_bands: N-ary band concatenation of cubes with identical shape/chunking.

Reference: join_bands.h:56-186 — strict st_ref equality check (:85-107),
band-name prefixes on conflict (:118-147). Coverage gaps are NaN.

Spark shape: a full outer equi-join on chunk_id. Shapes are guaranteed equal
⇒ no skew; Catalyst picks sort-merge or shuffled hash; with identical
upstream partitioning the exchange is often reused. The concatenation is
the output cube's producer, so narrow ops after join_bands fuse into it.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdalcubes_spark.cube import Cube, Producer


def join_bands(cubes: Sequence[Cube], prefixes: Optional[Sequence[str]] = None) -> Cube:
    if len(cubes) < 2:
        raise ValueError("join_bands needs >= 2 cubes")
    v0, g0 = cubes[0].view, cubes[0].chunking
    for c in cubes[1:]:
        same = (c.view.nx == v0.nx and c.view.ny == v0.ny and c.view.nt == v0.nt
                and abs(c.view.left - v0.left) < 1e-9 and abs(c.view.top - v0.top) < 1e-9
                and c.view.dt == v0.dt and (c.view.t0 - v0.t0).n == 0
                and (c.chunking.ct, c.chunking.cy, c.chunking.cx) == (g0.ct, g0.cy, g0.cx))
        if not same:
            raise ValueError("join_bands requires identical shape, st_ref and chunking (join_bands.h:85-107)")
    # band naming: prefix on conflict (or always, when prefixes given)
    all_bands: List[str] = []
    counts = {}
    for c in cubes:
        for b in c.bands:
            counts[b] = counts.get(b, 0) + 1
    out_bands = []
    for i, c in enumerate(cubes):
        pre = (prefixes[i] if prefixes else f"X{i + 1}")
        for b in c.bands:
            out_bands.append(f"{pre}.{b}" if (prefixes or counts[b] > 1) else b)

    nbs = [len(c.bands) for c in cubes]

    dfs = []
    for i, c in enumerate(cubes):
        dfs.append(c.df.select("chunk_id", "ct", "cy", "cx", "nt", "ny", "nx",
                               F.col("data").alias(f"d{i}")))
    joined = dfs[0]
    for i in range(1, len(dfs)):
        right = dfs[i].select("chunk_id", F.col(f"d{i}"),
                              F.col("ct").alias(f"_ct{i}"), F.col("cy").alias(f"_cy{i}"),
                              F.col("cx").alias(f"_cx{i}"), F.col("nt").alias(f"_nt{i}"),
                              F.col("ny").alias(f"_ny{i}"), F.col("nx").alias(f"_nx{i}"))
        joined = joined.join(right, "chunk_id", "outer")
        # coalesce chunk metadata from whichever side is present
        for col in ("ct", "cy", "cx", "nt", "ny", "nx"):
            joined = joined.withColumn(col, F.coalesce(F.col(col), F.col(f"_{col}{i}"))).drop(f"_{col}{i}")

    def combine(key, pdf: pd.DataFrame):
        cols = [pdf[c].to_numpy() for c in ("chunk_id", "ct", "cy", "cx", "nt", "ny", "nx")]
        datas = [pdf[f"d{i}"].to_numpy() for i in range(len(nbs))]
        for j, (cid, ct, cy, cx, nt, ny, nx) in enumerate(zip(*cols)):
            shape = (int(nt), int(ny), int(nx))
            parts = [np.full((nb,) + shape, np.nan) if d[j] is None
                     else np.frombuffer(d[j], dtype="<f8").reshape((nb,) + shape) for nb, d in zip(nbs, datas)]
            yield int(cid), (int(ct), int(cy), int(cx)), np.concatenate(parts, axis=0)

    return Cube.produce(Producer(joined, None, combine), v0, out_bands, g0)
