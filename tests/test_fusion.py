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

from gdalcubes_spark.cube import Cube, dummy_cube
from gdalcubes_spark.grid import ChunkGrid, CubeView


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
        # 1 source generator (dummy_cube) + 1 fused chain of 4 narrow ops
        assert _py_nodes(r.df) == 2
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
        the partial/merge path: dummy source + fused partial + merge = 3
        Python nodes (was 4 with a separate apply_pixel node)."""
        v = _view()
        g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=4, cx=4)  # nct=4
        c = dummy_cube(spark, v, band_names=["b"], fill=2.0, chunking=g)
        r = c.apply_pixel("b*3", names=["x"]).reduce_time("mean(x)")
        plan = r.df._jdf.queryExecution().executedPlan().toString()
        assert _py_nodes(r.df) + plan.count("FlatMapGroupsInPandas") == 3
        a = r.collect_array()
        assert a.shape == (1, 1, 8, 8)
        assert np.allclose(a, 6.0)

    def test_chain_fuses_into_cells(self, spark):
        c = dummy_cube(spark, _view(), band_names=["b"], fill=1.5)
        cells = c.apply_pixel("b*4", names=["y"]).cells()
        assert _py_nodes(cells) == 2  # dummy source + fused cells gen
        row = cells.limit(1).collect()[0]
        assert row["value"] == 6.0 and row["band"] == "y"

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
