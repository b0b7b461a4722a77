"""The Cube abstraction: a lazy, distributed 4-D array (band, time, y, x).

Physical representation: a DataFrame of *chunk rows* — one row per spatiotemporal
chunk, payload a dense float64 tensor of shape (nb, nt_c, ny_c, nx_c) in
row-major order, mirroring gdalcubes' chunk_data layout (cube.h:263-388) but
carried as a Spark binary column so Arrow moves it in bulk.

NaN is the universal nodata value (image_collection_cube.cpp:343-346).
All-NaN chunks are *elided* — the row is simply absent from the DataFrame
(empty-chunk short-circuit, image_collection_cube.cpp:674-678) — so sparse
cubes cost nothing to shuffle. Every operator must treat a missing chunk row
as an all-NaN chunk.

Scale notes:
- one chunk row ≈ 8*nb*nt_c*ny_c*nx_c bytes; default chunking keeps this in
  the tens of MB so a single Arrow batch / Spark task handles a few chunks.
- chunk_id is the deterministic partition/join key (cube.h:495-497); narrow
  ops are mapInPandas (no shuffle), wide ops shuffle on a chunk-coord subset.

Producers and fusion — one Python round trip per chunk per stage:
- Every chunk tensor comes out of one Python UDF, the cube's Producer: a
  DataFrame, its group keys and make(key, pdf) → (chunk_id, coords, tensor).
  Producers: dummy_cube, the packed read_parquet_cube unpack, the
  raster_cube build and salted merge, from_cells, join_bands, the
  time-column and space-slab gathers (fill_time, apply_time, reduce_time's
  exact path, reduce_time_udf, reduce_space's exact path,
  reduce_space_udf), the window_time/window_space assemble, the regrid
  assemble (crop, slice_*, select_time), and the aggregate and reduce
  merges. A cube without one (array, bucketed, unpacked parquet and
  checkpoint sources) streams its own chunk rows, read by chunk_items.
- map_chunks appends its fn to the cube's pending narrow chain; the chain
  runs in the producer's worker, after make and before packing. A narrow
  op that renumbers chunks (a regrid whose output chunks each have one
  source chunk) composes onto the producer with Producer.then.
- A wide consumer hands its map-side step (halo emit, regrid and aggregate
  cut, reduce partial, cells() explode, checkpoint metrics, write_parquet
  packing) to Cube.stream, which runs it in the same worker on the
  unpacked tensor. The packed chunk row in between never crosses the
  Arrow boundary.
- Cube.df is producer + chain + packed chunk rows; consumers that group
  chunk rows (gathers, joins, sinks) read it. A cached df is read, not
  recomputed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterable, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark.grid import ChunkGrid, CubeView, default_chunking

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("ct", T.IntegerType(), False),
        T.StructField("cy", T.IntegerType(), False),
        T.StructField("cx", T.IntegerType(), False),
        T.StructField("nb", T.IntegerType(), False),
        T.StructField("nt", T.IntegerType(), False),
        T.StructField("ny", T.IntegerType(), False),
        T.StructField("nx", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), True),
    ]
)

CELL_SCHEMA = T.StructType(
    [
        T.StructField("it", T.IntegerType(), False),
        T.StructField("iy", T.IntegerType(), False),
        T.StructField("ix", T.IntegerType(), False),
        T.StructField("band", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def pin_group_partitions(df: DataFrame, keys, n_groups: int) -> DataFrame:
    """Repartition by `keys` into ONE wave of tasks, min(groups,
    defaultParallelism), before a groupBy().applyInPandas over chunk tensors.

    AQE coalesces post-shuffle partitions by byte size, but tensor-UDF stages
    (decode, focal windows, PIP extraction, exact-median gathers) cost orders
    of magnitude more per byte than columnar work — byte-based coalescing was
    observed collapsing 32 cores' worth of decode onto 5 tasks. A
    user-numbered repartition satisfies the downstream clustering requirement
    (no second exchange) and AQE leaves it alone.

    One wave and no more: every Python UDF task pays a fixed cost before any
    engine code runs. A no-op mapInPandas on a 4-CPU host at local[4] costs
    about 0.29 core-s per task (16 tasks vs 4), most of it pyspark's
    per-task importlib.invalidate_caches(). Extra tasks per core multiply
    that cost and add no parallelism."""
    n = max(1, min(int(n_groups), df.sparkSession.sparkContext.defaultParallelism))
    return df.repartition(n, *([keys] if isinstance(keys, str) else list(keys)))


def pack_tensor(a: np.ndarray) -> bytes:
    return np.ascontiguousarray(a, dtype="<f8").tobytes()


CHUNK_COLUMNS = CHUNK_SCHEMA.fieldNames()


def _chunk_payloads(pdf: pd.DataFrame):
    """(chunk_id, (ct, cy, cx), (nb, nt, ny, nx), payload) per chunk row of a
    pandas batch, read column-wise."""
    for cid, ct, cy, cx, nb, nt, ny, nx, data in zip(*(pdf[c].to_numpy() for c in CHUNK_COLUMNS)):
        yield int(cid), (int(ct), int(cy), int(cx)), (int(nb), int(nt), int(ny), int(nx)), data


def chunk_items(key, pdf: pd.DataFrame):
    """(chunk_id, (ct, cy, cx), tensor) for each chunk row of a pandas batch.
    Also the make() of a cube that streams its own rows."""
    for cid, coords, shape, data in _chunk_payloads(pdf):
        yield cid, coords, np.frombuffer(data, dtype="<f8").reshape(shape)


def piece_tensors(pdf: pd.DataFrame):
    """The (nb, nt, ny, nx) tensors of a frame of map-side pieces (halo and
    regrid schemas: nb, nt, ny, nx, data columns)."""
    for nb, nt, ny, nx, data in zip(*(pdf[c].to_numpy() for c in ("nb", "nt", "ny", "nx", "data"))):
        yield np.frombuffer(data, dtype="<f8").reshape(nb, nt, ny, nx)


def chunk_rows(cid: int, coords, t: np.ndarray) -> list:
    """The default step: the chunk as one packed CHUNK_SCHEMA row."""
    nb, nt, ny, nx = t.shape
    return [dict(chunk_id=cid, ct=coords[0], cy=coords[1], cx=coords[2], nb=nb, nt=nt, ny=ny, nx=nx,
                 data=pack_tensor(t))]


def _chained(items, chain: tuple):
    """items through the narrow `chain`. A chain fn returning None or an
    all-NaN tensor drops the chunk — the missing chunk ≡ all-NaN invariant."""
    for cid, coords, t in items:
        for f in chain:
            t = f(t, coords)
            if t is None or np.all(np.isnan(t)):
                break
        else:
            yield cid, coords, t


@dataclass(frozen=True)
class Producer:
    """How a cube's chunks are made: one Python UDF over `source`, grouped by
    `keys` (None: over batches of source rows), whose make(key, pdf) yields
    (chunk_id, (ct, cy, cx), tensor) items."""

    source: DataFrame
    keys: Optional[tuple]
    make: Callable

    def then(self, chain: tuple, fn) -> "Producer":
        """This producer's chunks through `chain`, then fn(chunk_id, coords,
        tensor) → output items, all in one make: a narrow op that renumbers
        chunks fuses like a map_chunks."""
        make = self.make

        def composed(key, pdf):
            for item in _chained(make(key, pdf), chain):
                yield from fn(*item)

        return Producer(self.source, self.keys, composed)

    def run(self, chain: tuple, step, schema: T.StructType) -> DataFrame:
        """The one UDF: every made chunk goes through the narrow `chain`, then
        step(chunk_id, coords, tensor) turns it into `schema` rows (a list of
        row dicts or a pandas frame)."""
        names, make = schema.fieldNames(), self.make

        def frame(key, pdf):
            rows, frames = [], []
            for cid, coords, t in _chained(make(key, pdf), chain):
                out = step(cid, coords, t)
                if isinstance(out, pd.DataFrame):
                    frames.append(out)
                else:
                    rows.extend(out)
            if rows:
                return pd.DataFrame(rows, columns=names)
            return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=names)

        if self.keys is None:
            def udf(batches: Iterable[pd.DataFrame]):
                for pdf in batches:
                    out = frame(None, pdf)
                    if len(out):
                        yield out
            return self.source.mapInPandas(udf, schema)
        return self.source.groupBy(*self.keys).applyInPandas(frame, schema)


def space_slab(g: ChunkGrid, nb: int, ict: int, items) -> np.ndarray:
    """The (nb, ntc, ny, nx) slab of time chunk `ict` from its chunk items,
    NaN where a chunk is missing."""
    (t0, t1), _, _ = g.chunk_cell_range(ict, 0, 0)
    slab = np.full((nb, t1 - t0, g.ny, g.nx), np.nan)
    for _, coords, t in items:
        _, (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
        slab[:, :, y0:y1, x0:x1] = t
    return slab


def split_time(g: ChunkGrid, col: np.ndarray, icy: int, icx: int):
    """A full (k, nt, ny, nx) time column as its chunks' items; all-NaN
    chunks are dropped."""
    for kt in range(g.nct):
        (t0, t1), _, _ = g.chunk_cell_range(kt, icy, icx)
        piece = col[:, t0:t1]
        if not np.all(np.isnan(piece)):
            yield g.chunk_id(kt, icy, icx), (kt, icy, icx), piece


@dataclass
class Cube:
    """A data cube: chunk-row DataFrame + spacetime reference + bands + chunking.

    Shape metadata is computed eagerly at plan-construction time (like the
    reference's cube constructors); data stays lazy in the DataFrame lineage,
    which doubles as the serializable plan (Catalyst)."""

    df: DataFrame
    view: CubeView
    bands: List[str]
    chunking: ChunkGrid
    # How df is made (module docstring): the producing UDF and the narrow
    # chain it applies. df itself is always complete and valid; these only
    # change how the NEXT narrow op or wide consumer builds its plan. None:
    # df's own rows feed the next UDF.
    _producer: Optional[Producer] = field(default=None, repr=False, compare=False)
    _chain: tuple = field(default=(), repr=False, compare=False)

    # ------------------------------------------------------------------ meta
    @property
    def shape(self):
        return (len(self.bands), self.view.nt, self.view.ny, self.view.nx)

    def band_index(self, name: str) -> int:
        return self.bands.index(name)

    # ----------------------------------------------------------- chunk plumbing
    @staticmethod
    def produce(producer: Producer, view: CubeView, bands: List[str], chunking: ChunkGrid,
                chain: tuple = ()) -> "Cube":
        """The cube whose chunks `producer` makes, with `chain` applied."""
        cube = Cube(producer.run(chain, chunk_rows, CHUNK_SCHEMA), view, list(bands), chunking)
        cube._producer, cube._chain = producer, tuple(chain)
        return cube

    def _pending(self):
        """(producer, chain) that yield this cube's chunks. A cube with no
        producer, or whose df is cached, streams its own df rows."""
        if self._producer is None or self.df.is_cached:
            return Producer(self.df, None, chunk_items), ()
        return self._producer, self._chain

    def stream(self, step, schema: T.StructType) -> DataFrame:
        """Run a wide consumer's map-side step on this cube's chunks inside
        the UDF that makes them: step(chunk_id, (ct, cy, cx), tensor) → row
        dicts or a pandas frame of `schema`. Halo emits, aggregate cuts,
        reduce partials, cells() and checkpoint metrics use this, so they add
        no Python node of their own."""
        producer, chain = self._pending()
        return producer.run(chain, step, schema)

    def map_chunks(
        self,
        fn: Callable[[np.ndarray, tuple], Optional[np.ndarray]],
        out_view: Optional[CubeView] = None,
        out_bands: Optional[List[str]] = None,
        out_chunking: Optional[ChunkGrid] = None,
    ) -> "Cube":
        """Narrow per-chunk tensor transform (no shuffle): fn(tensor,
        (ict,icy,icx)) → new tensor or None (→ empty chunk elision).
        Output chunk grid must keep the same (ct,cy,cx) chunk coordinates
        unless out_chunking says otherwise.

        Chained narrow ops FUSE: fn is appended to this cube's pending chain
        and runs in the UDF that makes the chunks — a scan build, a wide
        operator's merge, or one mapInPandas over plain chunk rows — so
        `apply_pixel → filter_pixel → reduce` costs no Arrow round-trip of
        its own. Legal because map_chunks preserves chunk coordinates and
        dropping an all-NaN intermediate equals the missing-chunk ≡ all-NaN
        invariant the unfused plan enforces between stages."""
        producer, chain = self._pending()
        return Cube.produce(producer, out_view or self.view, list(out_bands or self.bands),
                            out_chunking or self.chunking, chain + (fn,))

    def prune(self, where) -> "Cube":
        """This cube with `where`, a Column over ct/cy/cx, applied to its
        stored chunk rows (no producer, or a cached df), so the filter
        reaches a parquet scan. Produced chunks are made either way; the
        consumer skips the ones it does not need in its worker."""
        if self._producer is None or self.df.is_cached:
            return Cube(self.df.filter(where), self.view, list(self.bands), self.chunking)
        return self

    def gather_time(self, fn, view: Optional[CubeView] = None, bands: Optional[List[str]] = None,
                    chunking: Optional[ChunkGrid] = None) -> "Cube":
        """Wide op over whole time columns: the chunks of each spatial chunk
        meet in one pinned group as its (nb, nt, ny, nx) column, NaN where a
        chunk is missing, and fn(column, (icy, icx)) yields the output items.
        fill_time, apply_time, reduce_time's exact path and reduce_time_udf."""
        g, nb = self.chunking, len(self.bands)

        def make(key, pdf):
            icy, icx = divmod(int(key[0]), g.ncx)
            col = np.full((nb, g.nt) + g.chunk_shape(0, icy, icx)[1:], np.nan)
            for _, coords, t in chunk_items(key, pdf):
                (t0, t1), _, _ = g.chunk_cell_range(*coords)
                col[:, t0:t1] = t
            return fn(col, (icy, icx))

        keyed = self.df.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx"))
        pinned = pin_group_partitions(keyed, "skey", g.ncy * g.ncx)
        return Cube.produce(Producer(pinned, ("skey",), make), view or self.view,
                            list(bands or self.bands), chunking or g)

    def gather_space(self, fn, view: CubeView, bands: List[str], chunking: ChunkGrid) -> "Cube":
        """Wide op over whole space slabs: the chunks of each time chunk meet
        in one group as its (nb, ntc, ny, nx) slab (space_slab), and
        fn(slab, ict) yields the output items. reduce_space's exact path and
        reduce_space_udf; the slice sinks read the same slabs."""
        g, nb = self.chunking, len(self.bands)

        def make(key, pdf):
            ict = int(key[0])
            return fn(space_slab(g, nb, ict, chunk_items(key, pdf)), ict)

        return Cube.produce(Producer(self.df, ("ct",), make), view, bands, chunking)

    # ------------------------------------------------------------- long format
    def cells(self, drop_nan: bool = True, band_as_index: bool = False) -> DataFrame:
        """Explode chunk tensors to long format (it, iy, ix, band, value) with
        *global* cell indices. Set-oriented ops and the SQL-oracle comparisons
        run on this form. drop_nan mirrors the reference's convention that
        NaN == absent."""
        bands = np.array(self.bands, dtype=object)
        g = self.chunking

        schema = CELL_SCHEMA if not band_as_index else T.StructType(
            [
                T.StructField("it", T.IntegerType(), False),
                T.StructField("iy", T.IntegerType(), False),
                T.StructField("ix", T.IntegerType(), False),
                T.StructField("band", T.IntegerType(), False),
                T.StructField("value", T.DoubleType(), True),
            ]
        )

        def explode(cid, coords, t):
            (t0, _), (y0, _), (x0, _) = g.chunk_cell_range(*coords)
            bi, ti, yi, xi = np.unravel_index(np.arange(t.size), t.shape)
            v = t.ravel()
            if drop_nan:
                keep = ~np.isnan(v)
                bi, ti, yi, xi, v = bi[keep], ti[keep], yi[keep], xi[keep], v[keep]
            if len(v) == 0:
                return []
            return pd.DataFrame(dict(
                it=(ti + t0).astype("int32"), iy=(yi + y0).astype("int32"), ix=(xi + x0).astype("int32"),
                band=bi.astype("int32") if band_as_index else bands[bi], value=v))

        return self.stream(explode, schema)

    @staticmethod
    def from_cells(cells_df: DataFrame, view: CubeView, bands: List[str], chunking: ChunkGrid) -> "Cube":
        """Assemble a Cube from a long-format DataFrame (inverse of cells()).
        Cells absent from the input are NaN. Shuffles once on chunk_id."""
        g = chunking
        b2i = {b: i for i, b in enumerate(bands)}
        ncx, ncy = g.ncx, g.ncy
        ct_, cy_, cx_ = g.ct, g.cy, g.cx

        df = cells_df.withColumn("_ict", (F.col("it") / ct_).cast("int")) \
            .withColumn("_icy", (F.col("iy") / cy_).cast("int")) \
            .withColumn("_icx", (F.col("ix") / cx_).cast("int")) \
            .withColumn("chunk_id", (F.col("_ict").cast("long") * (ncy * ncx) + F.col("_icy") * ncx + F.col("_icx")))

        nb = len(bands)

        def assemble(key, pdf: pd.DataFrame):
            cid = int(key[0])
            coords = g.chunk_coords(cid)
            (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
            t = np.full((nb, t1 - t0, y1 - y0, x1 - x0), np.nan)
            bi = pdf["band"].map(b2i).to_numpy()
            t[bi, pdf["it"].to_numpy() - t0, pdf["iy"].to_numpy() - y0, pdf["ix"].to_numpy() - x0] = (
                pdf["value"].to_numpy()
            )
            yield cid, coords, t

        pinned = pin_group_partitions(df, "chunk_id", chunking.n_chunks)
        return Cube.produce(Producer(pinned, ("chunk_id",), assemble), view, bands, chunking)

    # ---------------------------------------------------------------- collect
    def collect_array(self) -> np.ndarray:
        """Assemble the whole cube on the driver as (nb, nt, ny, nx). Test/
        debug harness only — the distributed path writes chunk tables."""
        v, g = self.view, self.chunking
        out = np.full((len(self.bands), v.nt, v.ny, v.nx), np.nan)
        for row in self.df.collect():
            t = np.frombuffer(row["data"], dtype="<f8").reshape(row["nb"], row["nt"], row["ny"], row["nx"])
            (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(row["ct"], row["cy"], row["cx"])
            out[:, t0:t1, y0:y1, x0:x1] = t
        return out

    # ------------------------------------------------------------ persistence
    def write_parquet(self, path: str, mode: str = "overwrite", packing=None,
                      format: str = "parquet", strict: bool = False) -> None:
        """Materialize the chunk table (the ncdf/Iceberg sink analogue,
        cube.cpp:617+). Re-open with read_parquet_cube().

        packing: a gdalcubes_spark.packing.Packing (or type string like
        "uint8") — values are stored as scaled/offset small integers
        (cube.h:52-96); read_parquet_cube auto-unpacks (ncdf auto_unpack).
        format: "parquet" (default) or "iceberg" — with a configured Iceberg
        catalog the chunk table is written through it (same columns,
        partitioned by ct); in this sandbox (no catalog jar) the writer
        transparently falls back to plain parquet. iceberg_ddl() returns the
        equivalent CREATE TABLE for cluster-side provisioning."""
        from gdalcubes_spark.packing import Packing
        if isinstance(packing, str):
            packing = Packing(type=packing)
        pk = packing or Packing()
        meta = dict(view=self.view.to_json(), bands=",".join(self.bands),
                    ct=str(self.chunking.ct), cy=str(self.chunking.cy), cx=str(self.chunking.cx),
                    pack=pk.to_json())
        df = self.df
        if pk.type != "none":
            def packed(cid, coords, t):
                row = chunk_rows(cid, coords, t)[0]
                row["data"] = pk.pack(t)
                return [row]
            df = self.stream(packed, CHUNK_SCHEMA)
        for k, val in meta.items():
            df = df.withColumn(f"_meta_{k}", F.lit(val))
        if format == "iceberg":
            import re as _re
            tbl = _re.sub(r"[^A-Za-z0-9_]", "_", path.strip("/"))
            if tbl[:1].isdigit():
                tbl = f"t_{tbl}"
            # POSITIVE capability probe, not exception-message matching:
            # catalog absence is knowable before the write (is the
            # 'gdalcubes' v2 catalog configured in this session?), and
            # exception substrings vary across Spark/Iceberg versions — a
            # genuine write failure mentioning the catalog name must never
            # be silently downgraded to parquet.
            try:
                catalog_conf = df.sparkSession.conf.get("spark.sql.catalog.gdalcubes")
            except Exception:
                catalog_conf = None
            if catalog_conf:
                # catalog configured → any failure from here is real
                df.writeTo(f"gdalcubes.{tbl}") \
                  .partitionedBy(F.col("ct")).createOrReplace()
                return
            # catalog NOT configured (this sandbox: no Iceberg jar/conf).
            # strict=True refuses the downgrade — set it on any cluster
            # that is supposed to have a catalog.
            if strict:
                raise RuntimeError(
                    "Iceberg catalog 'gdalcubes' is not configured "
                    "(spark.sql.catalog.gdalcubes unset) and strict=True — "
                    "refusing the parquet downgrade")
            import warnings
            warnings.warn(
                f"Iceberg catalog 'gdalcubes' not configured; writing plain "
                f"parquet to {path} instead (pass strict=True to fail)",
                stacklevel=2)
        df.write.mode(mode).parquet(path)

    def write_bucketed_table(self, table: str, buckets: int = 32, mode: str = "overwrite") -> None:
        """Bucketed chunk-table sink: the table is pre-hash-partitioned by
        chunk_id (bucketBy + sortBy), so every later equi-join or groupBy on
        chunk_id over it — join_bands of two materialized cubes, checkpoint
        diffs, chunk-keyed UDF stages — runs with NO Exchange: Catalyst reads
        the bucket spec and reuses the on-disk hash distribution. This is the
        Spark analogue of Iceberg's bucket(chunk_id) partition transform and
        the co-location story for 100 TB cube⋈cube work."""
        meta = dict(view=self.view.to_json(), bands=",".join(self.bands),
                    ct=str(self.chunking.ct), cy=str(self.chunking.cy), cx=str(self.chunking.cx))
        df = self.df
        for k, val in meta.items():
            df = df.withColumn(f"_meta_{k}", F.lit(val))
        spark = df.sparkSession
        if mode == "overwrite":
            # a crashed/foreign session can leave the location on disk with no
            # metastore entry; saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS — clear both halves first. Resolve the
            # location from the CATALOG when the table exists (the metastore
            # is authoritative, e.g. for externally-located tables); only for
            # a truly orphaned location fall back to Spark's layout
            # convention, which for database-qualified names is
            # <warehouse>/<db>.db/<table>, not <warehouse>/<table>.
            loc = None
            try:
                if spark.catalog.tableExists(table):
                    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
                        if row["col_name"] == "Location":
                            loc = row["data_type"]
                            break
            except Exception:
                loc = None
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            if loc is None:
                wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
                parts = [p for p in table.lower().split(".") if p != "spark_catalog"]
                if len(parts) >= 2 and parts[-2] != "default":
                    loc = f"{wh}/{parts[-2]}.db/{parts[-1]}"
                else:
                    loc = f"{wh}/{parts[-1]}"
            import shutil
            shutil.rmtree(loc.removeprefix("file:"), ignore_errors=True)
        (df.write.format("parquet").mode(mode)
         .bucketBy(buckets, "chunk_id").sortBy("chunk_id")
         .saveAsTable(table))

    def iceberg_ddl(self, table: str = "gdalcubes.chunks") -> str:
        """The Iceberg CREATE TABLE matching write_parquet's layout —
        partitioned by ct (time-slab pruning, the analogue of the chunk-id
        filter) with identity spec on the chunk coords."""
        cols = ",\n  ".join(f"{f.name} {'BIGINT' if isinstance(f.dataType, T.LongType) else 'INT' if isinstance(f.dataType, T.IntegerType) else 'BINARY'}"
                            for f in CHUNK_SCHEMA.fields)
        return (f"CREATE TABLE {table} (\n  {cols},\n"
                "  _meta_view STRING, _meta_bands STRING, _meta_ct STRING,\n"
                "  _meta_cy STRING, _meta_cx STRING, _meta_pack STRING\n"
                ") USING iceberg\nPARTITIONED BY (ct)\n"
                "TBLPROPERTIES ('write.target-file-size-bytes'='134217728')")

    def _write_slices(self, path: str, ext: str, encode) -> DataFrame:
        """The slice sink: one file per time slice, {path}/slice_<it>_<label>.
        <ext>. Each time chunk's slab is assembled by ONE task (groupBy ct —
        the reference's one-file-per-slice bound) and encode(plane (nb, ny,
        nx)) → bytes runs per slice. Executors write to `path` directly —
        use shared storage on a real cluster. Returns DataFrame(it, file,
        bytes_written)."""
        import os as _os

        g, nb = self.chunking, len(self.bands)
        labels = [d.to_string().replace(":", "-") for d in self.view.time_labels()]
        _os.makedirs(path, exist_ok=True)

        def write_slab(key, pdf):
            ict = int(key[0])
            (t0, _), _, _ = g.chunk_cell_range(ict, 0, 0)
            slab = space_slab(g, nb, ict, chunk_items(key, pdf))
            rows = []
            for lt in range(slab.shape[1]):
                data = encode(slab[:, lt])
                fn = f"{path}/slice_{t0 + lt:05d}_{labels[t0 + lt]}.{ext}"
                with open(fn, "wb") as fh:
                    fh.write(data)
                rows.append((t0 + lt, fn, len(data)))
            return pd.DataFrame(rows, columns=["it", "file", "bytes_written"])

        return self.df.groupBy("ct").applyInPandas(write_slab, T.StructType([
            T.StructField("it", T.IntegerType(), False),
            T.StructField("file", T.StringType(), False),
            T.StructField("bytes_written", T.LongType(), False),
        ]))

    def write_png_slices(self, path: str, band=None, vmin: float = None,
                         vmax: float = None) -> "DataFrame":
        """write_tif analogue (cube.cpp:292-615): one PNG per time slice
        through the slice sink, scaled to uint8 via [vmin, vmax] and encoded
        with the in-repo PNG codec (NaN → 0). Returns DataFrame(it, file,
        bytes_written)."""
        from gdalcubes_spark import codecs as _codecs

        bands = list(self.bands)
        bsel = [bands.index(band)] if isinstance(band, str) else (
            [bands.index(b) for b in band] if band is not None else list(range(min(len(bands), 3))))
        if len(bsel) == 2 or len(bsel) > 3:
            raise ValueError("PNG export needs 1 (grey) or 3 (RGB) bands")
        lo = 0.0 if vmin is None else float(vmin)
        hi = 255.0 if vmax is None else float(vmax)

        def encode(plane: np.ndarray) -> bytes:
            scaled = np.clip((plane[bsel] - lo) / max(hi - lo, 1e-12) * 255.0, 0, 255)
            return _codecs.encode(np.where(np.isnan(scaled), 0, scaled).astype(np.uint8), "png")

        return self._write_slices(path, "png", encode)

    def write_tif(self, path: str, band=None, dtype: str = "float32",
                  nodata: float = -9999.0, tile: int = 256,
                  compress: str = "deflate", overviews: bool = True,
                  packing=None) -> "DataFrame":
        """write_tif / COG export (cube.cpp:292-615 `write_tif_collection`,
        COG=TRUE path): one Cloud-Optimized GeoTIFF per time slice through
        the slice sink, REAL GeoTIFF bytes from the in-repo pure-numpy codec
        (tiffcodec.py) — tiled Deflate, factor-2 overview pyramid,
        ModelPixelScale/Tiepoint + EPSG GeoKeys from the cube view,
        GDAL_NODATA. NaN cells become `nodata` (the reference writes its
        per-band no_data the same way).

        `packing` mirrors the reference's pack_minmax export (cube.h:52-96):
        a gdalcubes_spark.packing spec → integer bytes with scale/offset
        applied BEFORE the dtype cast. Returns DataFrame(it, file,
        bytes_written)."""
        from gdalcubes_spark import tiffcodec as _tc

        if packing is not None and (packing.type == "none" or
                                    packing.nodata is None or np.isnan(packing.nodata)):
            raise ValueError("write_tif packing needs an integer type with a "
                             "finite nodata code (GeoTIFF carries it in GDAL_NODATA)")
        v, bands = self.view, list(self.bands)
        bsel = [bands.index(band)] if isinstance(band, str) else (
            [bands.index(b) for b in band] if band is not None else list(range(len(bands))))
        epsg = None
        if isinstance(v.srs, str) and v.srs.upper().startswith("EPSG:"):
            epsg = int(v.srs.split(":")[1])
        nd = float(nodata)
        # snap tile dim to the slice size (multiple of 16) so small cubes
        # don't pad a 40x40 slice out to a 256x256 tile
        tile = min(tile, max(16, -(-max(v.ny, v.nx) // 16) * 16))

        def encode(plane: np.ndarray) -> bytes:
            plane = plane[bsel]
            if packing is not None:
                a = np.frombuffer(packing.pack(plane), dtype=packing.dtype).reshape(plane.shape).copy()
                slice_nd = float(packing.nodata)
            else:
                a = np.where(np.isnan(plane), nd, plane).astype(dtype)
                slice_nd = nd
            # floats get the TechNote-3 byte-split predictor under deflate
            # (what GDAL writes for float COGs — ~30% smaller on smooth
            # fields); integers keep the auto predictor 2
            pred = 3 if (compress == "deflate" and np.issubdtype(a.dtype, np.floating)) else None
            return _tc.encode_geotiff(a, tile=tile, compress=compress, overviews=overviews,
                                      predictor=pred, nodata=slice_nd,
                                      left=v.left, top=v.top, dx=v.dx, dy=v.dy, epsg=epsg)

        return self._write_slices(path, "tif", encode)

    # operator API (implemented in gdalcubes_spark.operators.*; thin wrappers
    # so pipelines read like the reference's R verb chains)
    def select_bands(self, bands: Sequence[str]) -> "Cube":
        from gdalcubes_spark.operators.select import select_bands
        return select_bands(self, bands)

    def rename_bands(self, mapping: dict) -> "Cube":
        from gdalcubes_spark.operators.select import rename_bands
        return rename_bands(self, mapping)

    def apply_pixel(self, exprs, names=None, keep_bands: bool = False) -> "Cube":
        from gdalcubes_spark.operators.apply_pixel import apply_pixel
        return apply_pixel(self, exprs, names, keep_bands)

    def filter_pixel(self, predicate: str) -> "Cube":
        from gdalcubes_spark.operators.apply_pixel import filter_pixel
        return filter_pixel(self, predicate)

    def reduce_time(self, *reducers, names=None) -> "Cube":
        from gdalcubes_spark.operators.reduce import reduce_time
        return reduce_time(self, list(reducers), names)

    def reduce_space(self, *reducers, names=None) -> "Cube":
        from gdalcubes_spark.operators.reduce import reduce_space
        return reduce_space(self, list(reducers), names)

    def aggregate_time(self, dt: Optional[str] = None, fact: Optional[int] = None, method: str = "mean") -> "Cube":
        from gdalcubes_spark.operators.aggregate import aggregate_time
        return aggregate_time(self, dt=dt, fact=fact, method=method)

    def aggregate_space(self, dx: Optional[float] = None, dy: Optional[float] = None,
                        fact: Optional[int] = None, method: str = "mean") -> "Cube":
        from gdalcubes_spark.operators.aggregate import aggregate_space
        return aggregate_space(self, dx=dx, dy=dy, fact=fact, method=method)

    def slice_time(self, t=None, it: Optional[int] = None) -> "Cube":
        from gdalcubes_spark.operators.select import slice_time
        return slice_time(self, t=t, it=it)

    def slice_space(self, x: Optional[float] = None, y: Optional[float] = None,
                    ix: Optional[int] = None, iy: Optional[int] = None) -> "Cube":
        from gdalcubes_spark.operators.select import slice_space
        return slice_space(self, x=x, y=y, ix=ix, iy=iy)

    def select_time(self, datetimes) -> "Cube":
        from gdalcubes_spark.operators.select import select_time
        return select_time(self, datetimes)

    def crop_indices(self, ix0: int = 0, ix1=None, iy0: int = 0, iy1=None,
                     it0: int = 0, it1=None) -> "Cube":
        from gdalcubes_spark.operators.select import crop_indices
        return crop_indices(self, ix0=ix0, ix1=ix1, iy0=iy0, iy1=iy1, it0=it0, it1=it1)

    def crop(self, left=None, right=None, bottom=None, top=None, t0=None, t1=None, snap: str = "near") -> "Cube":
        from gdalcubes_spark.operators.select import crop
        return crop(self, left=left, right=right, bottom=bottom, top=top, t0=t0, t1=t1, snap=snap)

    def window_time(self, window, reducer: Optional[str] = None, kernel=None) -> "Cube":
        from gdalcubes_spark.operators.window import window_time
        return window_time(self, window, reducer=reducer, kernel=kernel)

    def window_space(self, reducer: Optional[str] = None, kernel=None, window=None, pad: str = "none",
                     pad_value: float = 0.0) -> "Cube":
        from gdalcubes_spark.operators.window import window_space
        return window_space(self, reducer=reducer, kernel=kernel, window=window, pad=pad, pad_value=pad_value)

    def fill_time(self, method: str = "linear") -> "Cube":
        from gdalcubes_spark.operators.window import fill_time
        return fill_time(self, method)

    def join_bands(self, *others: "Cube", prefixes=None) -> "Cube":
        from gdalcubes_spark.operators.join_bands import join_bands
        return join_bands([self, *others], prefixes=prefixes)

    def filter_geom(self, wkt: str) -> "Cube":
        from gdalcubes_spark.operators.filter_geom import filter_geom
        return filter_geom(self, wkt)

    def extract_geom(self, features: DataFrame, time_column: Optional[str] = None) -> DataFrame:
        from gdalcubes_spark.operators.extract_geom import extract_geom
        return extract_geom(self, features, time_column=time_column)

    def apply_time(self, fn, names=None) -> "Cube":
        from gdalcubes_spark.operators.stream import apply_time
        return apply_time(self, fn, names)

    def chunk_apply(self, fn, names=None) -> "Cube":
        from gdalcubes_spark.operators.stream import chunk_apply
        return chunk_apply(self, fn, names)

    def predict(self, model, output_names=None, keep_bands: bool = False) -> "Cube":
        from gdalcubes_spark.operators.stream import predict
        return predict(self, model, output_names, keep_bands)

    def __getitem__(self, key) -> "Cube":
        """`cube[bands, t, iy, ix]` selection sugar (R `[.cube`,
        R/selection.R:82): band name(s), time index/datetime/slice, and
        pixel index scalars/slices compose select_bands / slice_* / crop."""
        if not isinstance(key, tuple):
            key = (key,)
        bands, t, y, x = (list(key) + [None] * 4)[:4]
        c = self
        if bands is not None:
            c = c.select_bands([bands] if isinstance(bands, str) else list(bands))
        if isinstance(t, int):
            c = c.slice_time(it=t)
        elif isinstance(t, str):
            c = c.slice_time(t=t)
        elif isinstance(t, slice) and (t.start is not None or t.stop is not None):
            c = c.crop(t0=t.start, t1=t.stop)
        if isinstance(y, int) and isinstance(x, int):
            c = c.slice_space(iy=y, ix=x)
        elif isinstance(y, slice) or isinstance(x, slice):
            v = c.view
            kw = {}
            if isinstance(x, slice):
                kw["left"] = v.left + (x.start or 0) * v.dx
                kw["right"] = v.left + (x.stop if x.stop is not None else v.nx) * v.dx
            if isinstance(y, slice):
                kw["top"] = v.top - (y.start or 0) * v.dy
                kw["bottom"] = v.top - (y.stop if y.stop is not None else v.ny) * v.dy
            c = c.crop(**kw)
        return c


# ---------------------------------------------------------------- sources


def dummy_cube(spark: SparkSession, view: CubeView, nbands: int = 1, fill: float = 1.0,
               chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """Constant-fill synthetic cube (reference dummy.cpp:29-60) — the backbone
    of every golden test. Distributed: one task per ~few chunks."""
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nbands)]
    n = g.n_chunks
    parts = min(n, max(1, spark.sparkContext.defaultParallelism))
    base = spark.range(0, n, numPartitions=parts).withColumnRenamed("id", "chunk_id")

    def make(key, pdf: pd.DataFrame):
        for cid in pdf["chunk_id"].to_numpy():
            coords = g.chunk_coords(int(cid))
            yield int(cid), coords, np.full((len(bands),) + g.chunk_shape(*coords), float(fill))

    return Cube.produce(Producer(base, None, make), view, bands, g)


def empty_cube(spark: SparkSession, view: CubeView, nbands: int = 1,
               chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """All-NaN cube: zero chunk rows (empty-chunk elision makes this free)."""
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nbands)]
    return Cube(spark.createDataFrame([], CHUNK_SCHEMA), view, bands, g)


def cube_from_array(spark: SparkSession, arr: np.ndarray, view: CubeView,
                    chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """Driver-side numpy (nb,nt,ny,nx) → distributed Cube. Test harness."""
    nb, nt, ny, nx = arr.shape
    assert (nt, ny, nx) == (view.nt, view.ny, view.nx), f"{arr.shape} vs view {(view.nt, view.ny, view.nx)}"
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nb)]
    rows = []
    for cid in range(g.n_chunks):
        ict, icy, icx = g.chunk_coords(cid)
        (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(ict, icy, icx)
        t = arr[:, t0:t1, y0:y1, x0:x1]
        if np.all(np.isnan(t)):
            continue
        rows.append((cid, ict, icy, icx, nb, t1 - t0, y1 - y0, x1 - x0, pack_tensor(t)))
    df = spark.createDataFrame(rows, CHUNK_SCHEMA) if rows else spark.createDataFrame([], CHUNK_SCHEMA)
    return Cube(df, view, bands, g)


def read_bucketed_cube(spark: SparkSession, table: str) -> Cube:
    """Open a bucketed chunk table written by write_bucketed_table — the
    DataFrame carries the bucket spec, so chunk_id joins/groupBys over it are
    Exchange-free."""
    df = spark.table(table)
    meta = df.select("_meta_view", "_meta_bands", "_meta_ct", "_meta_cy", "_meta_cx").first()
    view = CubeView.from_json(meta["_meta_view"])
    bands = meta["_meta_bands"].split(",")
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=int(meta["_meta_ct"]),
                  cy=int(meta["_meta_cy"]), cx=int(meta["_meta_cx"]))
    return Cube(df.select([f.name for f in CHUNK_SCHEMA.fields]), view, bands, g)


def read_parquet_cube(spark: SparkSession, path: str) -> Cube:
    """Re-open a materialized chunk table (ncdf_cube analogue, ncdf_cube.h:48).
    Packed tables (write_parquet(packing=...)) are auto-unpacked to float64
    (ncdf auto_unpack)."""
    from gdalcubes_spark.packing import Packing

    df = spark.read.parquet(path)
    cols = set(df.columns)
    sel = ["_meta_view", "_meta_bands", "_meta_ct", "_meta_cy", "_meta_cx"] + (
        ["_meta_pack"] if "_meta_pack" in cols else [])
    meta = df.select(sel).first()
    view = CubeView.from_json(meta["_meta_view"])
    bands = meta["_meta_bands"].split(",")
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=int(meta["_meta_ct"]),
                  cy=int(meta["_meta_cy"]), cx=int(meta["_meta_cx"]))
    out = df.select(CHUNK_COLUMNS)
    pk = Packing.from_json(meta["_meta_pack"]) if "_meta_pack" in cols else Packing()
    if pk.type == "none":
        return Cube(out, view, bands, g)

    def unpack(key, pdf: pd.DataFrame):
        for cid, coords, shape, data in _chunk_payloads(pdf):
            yield cid, coords, pk.unpack(data, shape)

    return Cube.produce(Producer(out, None, unpack), view, bands, g)
