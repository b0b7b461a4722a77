"""Narrow-op fusion: chained map_chunks ops run as ONE mapInPandas.

Each narrow operator (apply_pixel, filter_pixel, rename/select via
map_chunks, nct==1 reduce/window/fill, apply_time, predict) used to add its
own MapInPandas node — one JVM↔Python Arrow round-trip plus a tensor
pack/unpack per operator per chunk. Cube.map_chunks now composes onto the
previous chain (cube.py), the Python-side analogue of whole-stage codegen.

These tests pin (a) the plan shape — exactly one Python node for an
arbitrarily long narrow chain — and (b) value equality with the unfused
execution (forced by breaking the chain through a shuffle-ish boundary).
"""

import re
import warnings

import numpy as np
import pandas as pd
import pytest

from gdalcubes_spark.cube import Cube, cube_from_array, dummy_cube, read_parquet_cube
from gdalcubes_spark.geom import rect_wkt
from gdalcubes_spark.grid import ChunkGrid, CubeView
from gdalcubes_spark.operators.stream import reduce_space_udf, reduce_time_udf
from gdalcubes_spark.packing import Packing


def _view():
    return CubeView.create(srs="EPSG:4326", left=0, right=8, top=8, bottom=0,
                           dx=1.0, dy=1.0, t0="2020-01-01", t1="2020-04-30", dt="P1M")


def _py_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInPandas") + plan.count("ArrowEvalPython")


class TestFusion:
    def test_chain_is_one_python_node(self, spark):
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=v.nt, cy=4, cx=4)
        c = dummy_cube(spark, v, band_names=["b"], fill=2.0, chunking=g)
        r = (c.apply_pixel("b*3", names=["x"], keep_bands=True)
              .filter_pixel("x > 1")
              .apply_pixel("x - b", names=["y"])
              .reduce_time("mean(y)"))
        # dummy_cube's producer with the fused chain of 4 narrow ops
        assert _py_nodes(r.df) == 1
        a = r.collect_array()
        assert a.shape == (1, 1, 8, 8)
        assert np.allclose(a, 4.0)  # x=6, y=6-2=4, mean over 4 months

    def test_fused_matches_unfused(self, spark):
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=v.nt, cy=4, cx=4)
        c = dummy_cube(spark, v, band_names=["b"], fill=5.0, chunking=g)
        fused = c.apply_pixel("b*b + ix", names=["q"]).filter_pixel("q % 2 == 0")
        # break fusion: round-trip through long form rebuilds the chunk df,
        # so each op runs as its own UDF stage
        half = c.apply_pixel("b*b + ix", names=["q"])
        unfused = Cube.from_cells(half.cells(), half.view, half.bands, half.chunking) \
            .filter_pixel("q % 2 == 0")
        a, b = fused.collect_array(), unfused.collect_array()
        assert a.shape == b.shape
        assert np.allclose(a, b, equal_nan=True)

    def test_intermediate_cube_stays_valid(self, spark):
        """Fusion must not mutate the intermediate: materializing the middle
        cube after deriving a longer chain returns the middle result."""
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.0)
        mid = c.apply_pixel("b + 1", names=["m"])
        _ = mid.apply_pixel("m * 10", names=["z"])  # extends the chain
        a = mid.collect_array()
        assert np.allclose(a, 2.0)

    def test_chain_fuses_into_wide_op_partial(self, spark):
        """A pending narrow chain composes into the PRE-SHUFFLE UDF of wide
        ops (reduce partial, window halo emit, aggregate cut, cells) — the
        standalone chain node disappears. nct>1 + combinable reducer forces
        the partial/merge path: dummy producer with the fused chain and
        partial + merge = 2 Python nodes (was 4 with a separate dummy source
        and apply_pixel node)."""
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4)  # nct=4
        c = dummy_cube(spark, v, band_names=["b"], fill=2.0, chunking=g)
        r = c.apply_pixel("b*3", names=["x"]).reduce_time("mean(x)")
        plan = r.df._jdf.queryExecution().executedPlan().toString()
        assert _py_nodes(r.df) + plan.count("FlatMapGroupsInPandas") == 2
        a = r.collect_array()
        assert a.shape == (1, 1, 8, 8)
        assert np.allclose(a, 6.0)

    def test_chain_fuses_into_cells(self, spark):
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.5)
        cells = c.apply_pixel("b*4", names=["y"]).cells()
        assert _py_nodes(cells) == 1  # dummy producer + chain + fused cells explode
        row = cells.limit(1).collect()[0]
        assert row["value"] == 6.0 and row["band"] == "y"

    def test_rename_bands_keeps_fusion(self, spark):
        """rename_bands keeps the producer and pending chain: the next narrow
        op fuses exactly as it does without the rename."""
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=2, cy=4, cx=4)
        p = dummy_cube(spark, v, nbands=2, fill=2.0, chunking=g, band_names=["a", "b"]) \
            .apply_pixel(["a+b", "a-b"], names=["a", "b"])
        renamed = p.rename_bands({"a": "x"}).apply_pixel(["x*2", "b"], names=["x", "b"])
        plain = p.apply_pixel(["a*2", "b"], names=["a", "b"])
        assert _py_nodes(renamed.df) == _py_nodes(plain.df) == 1
        assert np.array_equal(renamed.collect_array(), plain.collect_array())

    def test_all_nan_intermediate_elides(self, spark):
        """A fn producing all-NaN mid-chain drops the chunk exactly like the
        unfused plan (missing chunk ≡ all-NaN invariant)."""
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.0)
        r = c.filter_pixel("b > 99").apply_pixel("b * 0 + 7", names=["s"])
        assert r.df.count() == 0  # chunks elided before the second fn
        a = r.collect_array()
        assert np.all(np.isnan(a))


def _python_nodes(df):
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return sum(plan.count(n) for n in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython"))


class TestProducerFusion:
    """Grouped producers (from_cells, fill gather, window assemble,
    aggregate merge, reduce merge) run the next wide op's map-side step in
    their own UDF, and pinned grouped stages get one wave of tasks."""

    @staticmethod
    def _repartition_counts(df):
        """Partition counts of the plan's user-numbered repartitions."""
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return [1 if m.group(1) else int(m.group(2)) for m in re.finditer(
            r"Exchange (?:(SinglePartition)|hashpartitioning\(.*?, (\d+)\)), REPARTITION_BY_NUM", plan)]

    def test_grouped_stage_is_one_wave(self, spark):
        from gdalcubes_spark.cube import pin_group_partitions

        par = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000).withColumnRenamed("id", "chunk_id")
        for groups in (1, max(1, par - 1), par, 4 * par + 3):
            got = self._repartition_counts(pin_group_partitions(df, "chunk_id", groups))
            assert got == [min(groups, par)], groups
        # the same rule inside an operator: window_space's assemble stage
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=2, cx=2)  # 64 chunks
        w = dummy_cube(spark, v, band_names=["b"], chunking=g).window_space(reducer="mean(b)", window=(3, 3))
        assert self._repartition_counts(w.df) == [min(g.n_chunks, par)]

    def test_chain_pipeline_five_python_nodes(self, spark):
        nt, ny, nx = 16, 10, 12
        rng = np.random.default_rng(3)
        vals = np.where(rng.random((nt, ny, nx)) < 0.35, np.nan, rng.random((nt, ny, nx)) * 10)
        vals[:, 0, 0] = np.nan  # one all-NaN pixel column
        it, iy, ix = np.nonzero(~np.isnan(vals))
        cells = spark.createDataFrame(pd.DataFrame(dict(
            it=it.astype("int32"), iy=iy.astype("int32"), ix=ix.astype("int32"),
            band="v", value=vals[it, iy, ix])))
        v = CubeView.create(srs="EPSG:4326", left=0, right=nx, bottom=0, top=ny,
                            t0="2021-01-01", t1="2021-01-16", dt="P1D", dx=1.0, dy=1.0)
        g = ChunkGrid(nt=nt, ny=ny, nx=nx, ct=2, cy=5, cx=6)
        r = (Cube.from_cells(cells, v, ["v"], g)
             .fill_time("locf")
             .window_space(reducer="mean(v)", window=(3, 3))
             .aggregate_time(fact=4, method="mean")
             .reduce_time("mean(v_mean)", "max(v_mean)"))
        out = r.cells()
        # from_cells | gather + halo emit | assemble + cut | merge + partial |
        # reduce merge + explode
        assert _python_nodes(out) == 5

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN windows
            f = vals.copy()
            for t in range(1, nt):  # locf
                f[t] = np.where(np.isnan(f[t]), f[t - 1], f[t])
            pad = np.full((nt, ny + 2, nx + 2), np.nan)
            pad[:, 1:-1, 1:-1] = f
            win = np.stack([pad[:, dy:dy + ny, dx:dx + nx] for dy in range(3) for dx in range(3)])
            w = np.nanmean(win, axis=0)
            a = np.nanmean(w.reshape(nt // 4, 4, ny, nx), axis=1)
            want = np.stack([np.nanmean(a, axis=0), np.nanmax(a, axis=0)])
        got = np.full((2, ny, nx), np.nan)
        b2i = {b: k for k, b in enumerate(r.bands)}
        for row in out.collect():
            assert row["it"] == 0
            got[b2i[row["band"]], row["iy"], row["ix"]] = row["value"]
        assert np.array_equal(np.isnan(got), np.isnan(want))
        assert np.isnan(want).sum() < want.size
        assert np.allclose(got, want, rtol=1e-12, atol=0, equal_nan=True)

    def test_cached_producer_output_is_reused(self, spark):
        """A consumer of a cube whose df is cached reads the cache instead
        of re-running the producer with its step fused in."""
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4)
        c = dummy_cube(spark, v, band_names=["b"], fill=3.0, chunking=g).window_time((1, 0), reducer="sum(b)")
        fused = c.cells()
        c.df.cache()
        try:
            cached = c.cells()
            plan = cached._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            assert "InMemoryTableScan" not in fused._jdf.queryExecution().executedPlan().toString()
            assert sorted(cached.collect()) == sorted(fused.collect())
        finally:
            c.df.unpersist()


# ---------------------------------------------------------------------------
# Every op moved onto Producer / Cube.stream against numpy on a ct=2, nb=2
# cube with chunk-unaligned windows, through both consumer routes: stored
# chunk rows, and chunks made by a producer (identity apply_pixel).

_ARR_VIEW = dict(srs="EPSG:4326", left=0, right=10, top=9, bottom=0, dx=1.0, dy=1.0,
                 t0="2020-01-01", t1="2020-05-31", dt="P1M")


def _arr():
    arr = np.random.default_rng(11).random((2, 5, 9, 10)) * 10
    arr[:, :, :3, :4] = np.nan  # one all-NaN chunk column: elided everywhere
    arr[0, 1] = np.nan
    arr[:, 4, 5:, 6:] = np.nan
    return arr


def _locf(a):
    out = a.copy()
    for t in range(1, a.shape[1]):
        out[:, t] = np.where(np.isnan(out[:, t]), out[:, t - 1], out[:, t])
    return out


def _packed_roundtrip(c, spark, tmp):
    c.write_parquet(str(tmp / "packed"), packing=Packing(type="uint16", scale=0.001))
    return read_parquet_cube(spark, str(tmp / "packed"))


_OPS = {
    # name: (op(cube, spark, tmp) -> Cube, numpy reference of the array)
    "slice_time": (lambda c, s, p: c.slice_time(it=3), lambda a: a[:, 3:4]),
    "slice_space": (lambda c, s, p: c.slice_space(ix=5, iy=4), lambda a: a[:, :, 4:5, 5:6]),
    "select_time": (lambda c, s, p: c.select_time(["2020-04", "2020-02", "2020-04"]), lambda a: a[:, [3, 1, 3]]),
    "select_time_one_chunk": (lambda c, s, p: c.select_time(["2020-04", "2020-03"]), lambda a: a[:, [3, 2]]),
    "crop_indices": (lambda c, s, p: c.crop_indices(ix0=1, ix1=7, iy0=2, iy1=8, it0=1, it1=4),
                     lambda a: a[:, 1:4, 2:8, 1:7]),
    "crop_aligned": (lambda c, s, p: c.crop_indices(ix0=4, ix1=8, iy0=3, iy1=9, it0=2, it1=4),
                     lambda a: a[:, 2:4, 3:9, 4:8]),
    "crop": (lambda c, s, p: c.crop(left=1, right=7, bottom=1, top=7, t0="2020-02", t1="2020-04"),
             lambda a: a[:, 1:4, 2:8, 1:7]),
    "rename_bands": (lambda c, s, p: c.rename_bands({"a": "x"}), lambda a: a),
    "apply_time": (lambda c, s, p: c.apply_time(lambda v: v[::-1] * 2.0, names=["u", "w"]),
                   lambda a: a[::-1] * 2.0),
    "reduce_time_udf": (lambda c, s, p: reduce_time_udf(c, lambda v: v[:, 0] + v[:, -1], names=["p", "q"]),
                        lambda a: (a[:, :1] + a[:, -1:])),
    "reduce_space_udf": (lambda c, s, p: reduce_space_udf(c, lambda v: v[:, 4, 5] - v[:, 8, 9], names=["p", "q"]),
                         lambda a: a[:, :, 4:5, 5:6] - a[:, :, 8:9, 9:10]),
    "reduce_time_median": (lambda c, s, p: c.reduce_time("median(a)", "Q1(b)"),
                           lambda a: np.stack([np.nanmedian(a[0], axis=0),
                                               np.nanpercentile(a[1], 25, axis=0)])[:, None]),
    "reduce_space_median": (lambda c, s, p: c.reduce_space("median(a)", "max(b)"),
                            lambda a: np.stack([np.nanmedian(a[0], axis=(1, 2)),
                                                np.nanmax(a[1], axis=(1, 2))])[:, :, None, None]),
    "fill_time": (lambda c, s, p: c.fill_time("locf"), _locf),
    # every cell centre of the cell-aligned rectangle is inside: a crop
    "filter_geom": (lambda c, s, p: c.filter_geom(rect_wkt(1, 1, 7, 7)), lambda a: a[:, :, 2:8, 1:7]),
    "join_bands": (lambda c, s, p: c.join_bands(c.rename_bands({"a": "c", "b": "d"})),
                   lambda a: np.concatenate([a, a])),
    "read_parquet_packed": (_packed_roundtrip, lambda a: np.round(a / 0.001) * 0.001),
}


class TestPortedOpsValueIdentity:
    @pytest.mark.parametrize("route", ["rows", "producer"])
    @pytest.mark.parametrize("op", sorted(_OPS))
    def test_matches_numpy(self, spark, tmp_path, op, route):
        arr = _arr()
        v = CubeView.create(**_ARR_VIEW)
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=2, cy=3, cx=4)
        c = cube_from_array(spark, arr, v, chunking=g, band_names=["a", "b"])
        if route == "producer":
            c = c.apply_pixel(["a", "b"], names=["a", "b"])
        make, ref = _OPS[op]
        out = make(c, spark, tmp_path)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN reductions
            want = ref(arr)
        got = out.collect_array()
        assert got.shape == want.shape == out.shape
        if op == "read_parquet_packed":
            assert np.allclose(got, want, rtol=0, atol=1e-9, equal_nan=True)
        else:
            assert np.array_equal(got, want, equal_nan=True)
        # the chunk grid: one row per chunk that is not all-NaN, and its id
        # and coordinates agree with the output grid
        og = out.chunking
        rows = out.df.select("chunk_id", "ct", "cy", "cx").collect()
        assert sorted(r["chunk_id"] for r in rows) == [
            cid for cid in range(og.n_chunks)
            if not np.all(np.isnan(want[(slice(None),) + tuple(slice(*r) for r in og.chunk_cell_range(
                *og.chunk_coords(cid)))]))]
        assert all(og.chunk_coords(r["chunk_id"]) == (r["ct"], r["cy"], r["cx"]) for r in rows)
