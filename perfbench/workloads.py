"""The three benchmark workloads of the cube engine.

Each workload has:
- ``prepare(spark, seed, where)``: untimed set-up that synthesizes the
  seeded inputs and writes them to parquet; returns the inputs;
- ``job(spark, inp)``: the timed job, from the first engine call to the
  collected result;
- ``check(inp, out)``: output checks, returning a list of failures;
- ``work(out)``: the cells and rows the engine returned, the output's part
  of the work behind ``cells_per_s`` (for the scans, run.py adds the
  placements that the build stage read);
- ``prefixes``: (layer, base layer) pairs; a layer's prefix extends its
  base's prefix by that layer, so its self time is the difference of the
  two prefix walls (no base: the prefix stands alone);
- ``stages(spark, inp)``: layer → the prefix to materialize with a
  ``noop`` sink in the traced run (a DataFrame, or a callable that runs the
  prefix and returns a DataFrame or None).

Geometry is fixed. For the scans the seed moves the synthetic image-index
range (which changes the per-image gradients a, b and rotates the format
cycle; both repeat with seed mod 15) and shifts every image's pixel offset d
by a seed-derived amount (repeating with seed mod 256), so inputs repeat only
with seed mod 3840. For ``cube_chain`` the seed seeds the lineitem-like
table. A new seed therefore gives new payloads on the same grid and the same
exact counts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from gdalcubes_spark.synth import ImageLayout

import oracle

NDVI = "(b02 - b01) / (b02 + b01 + 1)"
N_IMAGES = 1920
GRID_TILES = 8
N_MONTHS = 12
# Image i covers tile (i % 8, i // 8 % 8) in month i // 64 % 12 and is pinned
# to the hot tile when i % 13 == 0; offsets that are multiples of 13*8*8*12
# keep that geometry while the payload parameters and image ids change.
SEED_STRIDE = 13 * GRID_TILES * GRID_TILES * N_MONTHS
CELLS = 512 * 512
SCAN_CHUNKS = N_MONTHS * 4 * 4
CHECKPOINT_CELLS = SCAN_CHUNKS * 3 * 128 * 128
ZONAL_FEATURES = 16
ZONAL_CELLS_PER_FEATURE = 96 * 96
CHAIN_SHAPE = (24, 100, 100)
CHAIN_ROWS = 600_000
CHAIN_CELLS = 2 * CHAIN_SHAPE[1] * CHAIN_SHAPE[2]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------- scan inputs


@dataclass(frozen=True)
class SeededLayout(ImageLayout):
    """ImageLayout whose pixel offset d is shifted by d_shift: the seed's
    index stride alone leaves d = 13 i mod 256 unchanged."""

    d_shift: int = 0

    def params(self, i: int):
        p = super().params(i)
        p["d"] = (p["d"] + self.d_shift) % 256
        return p


def _layout(seed: int, fmts, hot_every: int):
    k = seed % len(fmts)
    return SeededLayout(left0=0.0, top0=8.0, tile_dx=1.0, tile_dy=1.0, gx=GRID_TILES, gy=GRID_TILES,
                        ntime=N_MONTHS, dt_days=31, tile_w=64, tile_h=64, nb=2,
                        fmts=tuple(fmts[k:]) + tuple(fmts[:k]), hot_every=hot_every, overlap=0.2,
                        d_shift=seed * 97 % 256)


def _images(spark, lay, first: int, n: int):
    """The synthetic inventory for image indices [first, first + n)."""
    import pandas as pd

    from gdalcubes_spark.synth import IMAGE_SCHEMA, make_row

    cols = [f.name for f in IMAGE_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([make_row(int(i), lay) for i in pdf["id"]], columns=cols)

    parts = spark.sparkContext.defaultParallelism * 2
    return spark.range(first, first + n, numPartitions=parts).mapInPandas(gen, IMAGE_SCHEMA)


def _view(aggregation: str):
    from gdalcubes_spark.grid import ChunkGrid, CubeView

    v = CubeView.create(srs="EPSG:4326", left=0, right=8, bottom=0, top=8,
                        t0="2021-01-01", t1="2021-12-31", dt="P1M", dx=1.0 / 64, dy=1.0 / 64,
                        aggregation=aggregation, resampling="bilinear")
    return v, ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=128, cx=128)


@dataclass
class ScanInputs:
    seed: int
    layout: object
    ids: range
    path: str
    want: np.ndarray = field(repr=False, default=None)
    notes: list = field(default_factory=list)


def _oracle_images(inp: ScanInputs):
    """Oracle inputs: analytic pixels for lossless payloads; for JPEG
    payloads the pixels the engine's decoder returns for the stored bytes,
    and the worst PSNR of those against their source pixels."""
    import pyarrow.dataset as ds

    from gdalcubes_spark import codecs

    lay = inp.layout
    t = ds.dataset(inp.path, format="parquet", partitioning="hive").to_table(
        columns=["image_id", "bytes"], filter=ds.field("fmt") == "jpeg")
    jpeg = {int(iid[4:]): codecs.decode(b, "jpeg")
            for iid, b in zip(t.column("image_id").to_pylist(), t.column("bytes").to_pylist())}
    out, worst = [], float("inf")
    for i in inp.ids:
        p = lay.params(i)
        if p["fmt"] == "jpeg":
            pix = jpeg[i]
            worst = min(worst, oracle.psnr_db(pix, lay.pixels(i), 255.0))
        else:
            pix = lay.pixels(i)
        month = int(np.datetime64(int(p["epoch"]), "s").astype("datetime64[M]").astype(int) - 612)
        out.append(dict(pix=pix, bbox=(p["left"], p["right"], p["bottom"], p["top"]), it=month))
    return out, worst


def _prepare_scan(spark, seed, where, fmts, hot_every, partitioned):
    from gdalcubes_spark.sources.raster_cube import inventory_partition_columns

    lay = _layout(seed, fmts, hot_every)
    first = seed * SEED_STRIDE
    imgs = _images(spark, lay, first, N_IMAGES)
    path = os.path.join(where, "inventory")
    if partitioned:
        cols = ["pt_tb", "pt_gy", "pt_gx", "pt_ext"]
        (inventory_partition_columns(imgs).repartition(*cols[:3])
         .write.mode("overwrite").partitionBy(*cols).parquet(path))
    else:
        imgs.write.mode("overwrite").parquet(path)
    return ScanInputs(seed=seed, layout=lay, ids=range(first, first + N_IMAGES), path=path)


def _oracle_cube(inp: ScanInputs, aggregation: str) -> np.ndarray:
    images, worst = _oracle_images(inp)
    if worst < oracle.JPEG_PSNR_FLOOR_DB:
        inp.notes.append(f"jpeg decode PSNR {worst:.1f} dB < {oracle.JPEG_PSNR_FLOOR_DB} dB")
    grid = dict(left=0.0, top=8.0, dx=1.0 / 64, dy=1.0 / 64, nx=512, ny=512, nt=N_MONTHS)
    return oracle.scan_cube(images, grid, aggregation)


def _assemble(rows, band: int = 0, shape=(512, 512), cy=128, cx=128):
    out = np.full(shape, np.nan)
    for r in rows:
        t = np.frombuffer(r["data"], dtype="<f8").reshape(r["nb"], r["nt"], r["ny"], r["nx"])
        out[r["cy"] * cy:r["cy"] * cy + r["ny"], r["cx"] * cx:r["cx"] * cx + r["nx"]] = t[band, 0]
    return out


def _cells(rows) -> int:
    """Non-NaN cells of band 0 over a chunk table."""
    return int((~np.isnan(_assemble(rows))).sum())


def _compare_plane(got, want, what):
    bad = []
    if (np.isnan(got) != np.isnan(want)).any():
        bad.append(f"{what}: NaN pattern differs ({int(np.isnan(got).sum())} vs {int(np.isnan(want).sum())} NaN)")
        return bad
    ok = ~np.isnan(want)
    err = float(np.max(np.abs(got[ok] - want[ok]))) if ok.any() else 0.0
    if err > oracle.ATOL:
        bad.append(f"{what}: cells differ by up to {err:.3g}")
    return bad


# ----------------------------------------------------------------- workloads


class ZonalSkewed:
    """BASELINE flagship: partitioned inventory → median cube → NDVI →
    reduce_time(median) → zonal_stats(mean, count, median)."""

    name = "zonal_skewed"
    prefixes = (("read_inventory", None), ("raster_cube", "read_inventory"), ("apply_pixel", "raster_cube"),
                ("reduce_time", "apply_pixel"), ("zonal_stats", "reduce_time"))
    source_layer = "raster_cube"
    formats = ("png", "raw", "jpeg")

    def prepare(self, spark, seed, where):
        return _prepare_scan(spark, seed, where, self.formats, 13, True)

    def attach_oracle(self, inp):
        inp.want = oracle.nan_median_time(oracle.ndvi(_oracle_cube(inp, "median")))

    @staticmethod
    def _polys(spark):
        from gdalcubes_spark.geom import rect_wkt

        return spark.createDataFrame(
            [(i, rect_wkt((i % 4) * 2 + 0.25, (i // 4) * 2 + 0.25, (i % 4) * 2 + 1.75, (i // 4) * 2 + 1.75))
             for i in range(ZONAL_FEATURES)], "fid long, wkt string")

    def stages(self, spark, inp):
        from gdalcubes_spark.operators.extract_geom import zonal_stats
        from gdalcubes_spark.sources.raster_cube import raster_cube, read_inventory
        from gdalcubes_spark.synth import band_names

        view, grid = _view("median")
        imgs = read_inventory(spark, inp.path, view)
        cube = raster_cube(imgs, view, band_names(inp.layout), chunking=grid)
        nd = cube.apply_pixel(NDVI, ["ndvi"])
        med = nd.reduce_time("median(ndvi)", names=["ndvi"])
        zs = zonal_stats(med, self._polys(spark), ["mean", "count", "median"], by_time=True)
        return dict(read_inventory=imgs, raster_cube=cube.df, apply_pixel=nd.df, reduce_time=med.df,
                    zonal_stats=zs)

    def job(self, spark, inp):
        from gdalcubes_spark.operators.extract_geom import zonal_stats
        from gdalcubes_spark.sources.raster_cube import raster_cube, read_inventory
        from gdalcubes_spark.synth import band_names

        view, grid = _view("median")
        imgs = read_inventory(spark, inp.path, view)
        med = (raster_cube(imgs, view, band_names(inp.layout), chunking=grid)
               .apply_pixel(NDVI, ["ndvi"])
               .reduce_time("median(ndvi)", names=["ndvi"]))
        med.df.persist()
        try:
            chunks = med.df.collect()
            zs = zonal_stats(med, self._polys(spark), ["mean", "count", "median"], by_time=True)
            zrows = zs.collect()
        finally:
            med.df.unpersist()
        return dict(chunks=chunks, zonal=zrows, final=[zs])

    def check(self, inp, out):
        bad = list(inp.notes)
        got = _assemble(out["chunks"])
        n = int((~np.isnan(got)).sum())
        if n != CELLS:
            bad.append(f"cells {n} != {CELLS}")
        bad += _compare_plane(got, inp.want, "ndvi median")
        z = out["zonal"]
        if len(z) != ZONAL_FEATURES:
            bad.append(f"zonal rows {len(z)} != {ZONAL_FEATURES}")
        for r in z:
            fid = int(r["fid"])
            x0 = 16 + 128 * (fid % 4)
            y0 = 400 - 128 * (fid // 4)
            vals = got[y0:y0 + 96, x0:x0 + 96]
            vals = vals[~np.isnan(vals)]
            if int(r["ndvi_count"]) != ZONAL_CELLS_PER_FEATURE or len(vals) != ZONAL_CELLS_PER_FEATURE:
                bad.append(f"zonal fid {fid}: count {r['ndvi_count']} != {ZONAL_CELLS_PER_FEATURE}")
                continue
            for key, want in (("ndvi_mean", float(np.mean(vals))), ("ndvi_median", float(np.median(vals)))):
                if not abs(float(r[key]) - want) <= oracle.ATOL:
                    bad.append(f"zonal fid {fid}: {key} {r[key]} != {want}")
        return bad

    def work(self, out):
        return _cells(out["chunks"]) + len(out["zonal"])


class CheckpointUniform:
    """Skew-free, JPEG-free inventory: mean cube → NDVI (keep bands) →
    write_checkpoint → read_checkpoint → reduce_time(mean)."""

    name = "checkpoint_uniform"
    prefixes = (("raster_cube", None), ("apply_pixel", "raster_cube"), ("write_checkpoint", "apply_pixel"),
                ("read_checkpoint", None), ("reduce_time", "read_checkpoint"))
    source_layer = "raster_cube"
    formats = ("png", "raw")

    def prepare(self, spark, seed, where):
        inp = _prepare_scan(spark, seed, where, self.formats, 0, False)
        inp.ckpt_root = os.path.join(where, "checkpoints")
        inp.n_ckpt = 0
        return inp

    def attach_oracle(self, inp):
        inp.want = oracle.nan_mean(oracle.ndvi(_oracle_cube(inp, "mean")), axis=0)

    def _ckpt_path(self, inp):
        inp.n_ckpt += 1
        return os.path.join(inp.ckpt_root, f"c{inp.n_ckpt}")

    def _cube(self, spark, inp):
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.synth import band_names

        view, grid = _view("mean")
        cube = raster_cube(spark.read.parquet(inp.path), view, band_names(inp.layout), chunking=grid)
        return cube, cube.apply_pixel(NDVI, ["ndvi"], keep_bands=True)

    def stages(self, spark, inp):
        from gdalcubes_spark.checkpoint import read_checkpoint, write_checkpoint

        cube, nd = self._cube(spark, inp)
        path = self._ckpt_path(inp)
        inp.last_ckpt = path

        def write():
            write_checkpoint(nd, path)

        def read():
            return read_checkpoint(spark, path).df

        def reduce():
            return read_checkpoint(spark, path).reduce_time("mean(ndvi)", names=["ndvi"]).df

        return dict(raster_cube=cube.df, apply_pixel=nd.df, write_checkpoint=write, read_checkpoint=read,
                    reduce_time=reduce)

    def job(self, spark, inp):
        from gdalcubes_spark.checkpoint import read_checkpoint, write_checkpoint

        _, nd = self._cube(spark, inp)
        path = self._ckpt_path(inp)
        write_checkpoint(nd, path)
        ck = read_checkpoint(spark, path)
        n_chunks = ck.df.count()
        red = ck.reduce_time("mean(ndvi)", names=["ndvi"])
        chunks = red.df.collect()
        return dict(chunks=chunks, n_chunks=n_chunks, bands=list(ck.bands), final=[nd.df, red.df])

    def check(self, inp, out):
        bad = list(inp.notes)
        if out["n_chunks"] != SCAN_CHUNKS:
            bad.append(f"checkpoint chunks {out['n_chunks']} != {SCAN_CHUNKS}")
        if out["bands"] != ["B01", "B02", "ndvi"]:
            bad.append(f"checkpoint bands {out['bands']}")
        got = _assemble(out["chunks"])
        n = int((~np.isnan(got)).sum())
        if n != CELLS:
            bad.append(f"cells {n} != {CELLS}")
        bad += _compare_plane(got, inp.want, "ndvi mean")
        return bad

    def work(self, out):
        return _cells(out["chunks"]) + out["n_chunks"]


@dataclass
class ChainInputs:
    seed: int
    path: str
    cells: np.ndarray = field(repr=False, default=None)
    want: np.ndarray = field(repr=False, default=None)
    notes: list = field(default_factory=list)


class CubeChain:
    """Non-scan source: lineitem-like table → from_cells → fill_time(locf) →
    window_space 3×3 mean → aggregate_time(4) → reduce_time(mean, max) →
    cells()."""

    name = "cube_chain"
    prefixes = (("source", None), ("from_cells", "source"), ("fill_time", "from_cells"),
                ("window_space", "fill_time"), ("aggregate_time", "window_space"),
                ("reduce_time", "aggregate_time"), ("cells", "reduce_time"))
    source_layer = "from_cells"

    def prepare(self, spark, seed, where):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        t = pa.table(dict(
            l_orderkey=rng.integers(0, 150_000, CHAIN_ROWS),
            l_partkey=rng.integers(0, 20_000, CHAIN_ROWS),
            l_suppkey=rng.integers(0, 1_000, CHAIN_ROWS),
            l_quantity=rng.integers(1, 51, CHAIN_ROWS).astype("float64"),
        ))
        path = os.path.join(where, "lineitem")
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))
        return ChainInputs(seed=seed, path=path)

    def attach_oracle(self, inp):
        import pyarrow.parquet as pq

        t = pq.read_table(inp.path).to_pandas()
        nt, ny, nx = CHAIN_SHAPE
        s = np.zeros(CHAIN_SHAPE)
        c = np.zeros(CHAIN_SHAPE, dtype=np.int64)
        idx = ((t["l_orderkey"] % nt).to_numpy(), (t["l_partkey"] % ny).to_numpy(), (t["l_suppkey"] % nx).to_numpy())
        np.add.at(s, idx, t["l_quantity"].to_numpy())
        np.add.at(c, idx, 1)
        inp.cells = np.where(c > 0, s, np.nan)
        inp.want = oracle.cube_chain(inp.cells)

    def _source(self, spark, inp):
        from pyspark.sql import functions as F

        from gdalcubes_spark.cube import Cube
        from gdalcubes_spark.grid import ChunkGrid, CubeView

        nt, ny, nx = CHAIN_SHAPE
        li = spark.read.parquet(inp.path)
        cells = (li.groupBy((F.col("l_orderkey") % nt).cast("int").alias("it"),
                            (F.col("l_partkey") % ny).cast("int").alias("iy"),
                            (F.col("l_suppkey") % nx).cast("int").alias("ix"))
                 .agg(F.sum("l_quantity").cast("double").alias("value"))
                 .withColumn("band", F.lit("v")).select("it", "iy", "ix", "band", "value"))
        view = CubeView.create(srs="EPSG:4326", left=0, right=nx, bottom=0, top=ny,
                               t0="2021-01-01", t1="2021-01-24", dt="P1D", dx=1.0, dy=1.0)
        g = ChunkGrid(nt=nt, ny=ny, nx=nx, ct=4, cy=50, cx=50)
        return cells, Cube.from_cells(cells, view, ["v"], g)

    def stages(self, spark, inp):
        cells, c = self._source(spark, inp)
        f = c.fill_time("locf")
        w = f.window_space(reducer="mean(v)", window=(3, 3))
        a = w.aggregate_time(fact=4, method="mean")
        r = a.reduce_time("mean(v_mean)", "max(v_mean)")
        return dict(source=cells, from_cells=c.df, fill_time=f.df, window_space=w.df, aggregate_time=a.df,
                    reduce_time=r.df, cells=r.cells())

    def job(self, spark, inp):
        _, c = self._source(spark, inp)
        r = (c.fill_time("locf")
             .window_space(reducer="mean(v)", window=(3, 3))
             .aggregate_time(fact=4, method="mean")
             .reduce_time("mean(v_mean)", "max(v_mean)"))
        out = r.cells()
        return dict(rows=out.collect(), bands=list(r.bands), final=[out])

    def check(self, inp, out):
        bad = list(inp.notes)
        rows = out["rows"]
        if len(rows) != CHAIN_CELLS:
            bad.append(f"cells {len(rows)} != {CHAIN_CELLS}")
        if len(out["bands"]) != 2:
            bad.append(f"bands {out['bands']}")
            return bad
        got = np.full((2,) + CHAIN_SHAPE[1:], np.nan)
        b2i = {b: k for k, b in enumerate(out["bands"])}
        for r in rows:
            got[b2i[r["band"]], r["iy"], r["ix"]] = r["value"]
        if (np.isnan(got) != np.isnan(inp.want)).any():
            bad.append("cube_chain: NaN pattern differs")
        else:
            ok = ~np.isnan(got)
            err = float(np.max(np.abs(got[ok] - inp.want[ok]) / np.maximum(1.0, np.abs(inp.want[ok]))))
            if err > oracle.ATOL:
                bad.append(f"cube_chain: values differ by {err:.3g} (relative)")
        return bad

    def work(self, out):
        return len(out["rows"])


WORKLOADS = {w.name: w for w in (ZonalSkewed(), CheckpointUniform(), CubeChain())}
