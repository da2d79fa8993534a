"""Distributed chunked-array Dataset on Spark DataFrames.

The Spark-native re-expression of ``xarray_beam.Dataset``
(reference ``xarray_beam/_src/dataset.py:450-1141``): a virtual N-d
labeled dataset carried as a DataFrame with one row per chunk:

  off_<dim> BIGINT ...   -- element offset of the chunk per dimension
  vars      STRING       -- sorted ','-joined variable subset (NULL = all)
  payload   BINARY       -- codec-encoded NDDataset block

Design (SURVEY.md §1.5): key columns are real Spark columns so Catalyst
prunes/groups/shuffles them natively; array payloads are opaque binary
moved by Arrow into Python. Driver holds the ``Template`` (schema: dim
sizes, var dtypes, coordinates) and the chunk grid; all per-chunk compute
is vectorized NumPy in a fused chain (source → steps → sink) that runs as
ONE ``mapInArrow`` or grouped ``applyInArrow`` per Spark stage.

Scale notes:
- chunk enumeration is ``spark.range(chunk_count)`` — no driver-side key
  materialization at any chunk count (reference needed explicit sharding
  above 200k keys, ``core.py:544-670``);
- rechunk = the reference's split→GroupByKey→consolidate, expressed as a
  split step + ``groupBy(target offsets).applyInArrow``; multistage
  plans from :mod:`xarray_beam_spark.plans.rechunk_plan` bound every
  shuffle group ≤ max_mem;
- reductions pre-aggregate inside each chunk (narrow) before the shuffle,
  exactly like the reference's combiner lifting (``combiners.py:108-147``),
  because a grouped ``applyInArrow`` has no partial aggregation of its
  own; the merge + extract is the grouped source of the reduced Dataset,
  so what follows it (``to_table``, ``to_zarr``) runs in the same pass.
"""

from __future__ import annotations

import functools
import itertools
import math
import operator
import warnings
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator, Mapping, NamedTuple, Sequence

import numpy as np

from xarray_beam_spark._lazy import LazyModule

# Deferred to first use: executor workers fork with numpy warm but
# pyarrow cold, and many tasks (and every driver-side tool that imports
# the package) never touch it (see _lazy.py).
pa = LazyModule("pyarrow", globals(), "pa")
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_beam_spark import core
from xarray_beam_spark.codec import decode_chunk, encode_chunk
from xarray_beam_spark.ndarray_ds import NDDataset, Variable
from xarray_beam_spark.plans import rechunk_plan
from xarray_beam_spark.session import memo

OFF_PREFIX = "off_"

# Max chunk-accumulators one merge task may gather before the reduction
# inserts intermediate tree-merge rounds (reference MultiStageMean fanout,
# combiners.py:294-394). 1024 payloads × ~KB-MB accumulators keeps a task's
# deserialization bounded while one round covers 1024× fan-in (two cover 1M).
DEFAULT_MERGE_FANIN = 1024


# ---------------------------------------------------------------------------
# Template: the driver-side schema of the virtual dataset
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Template:
    """Schema of the virtual dataset (reference: lazy-template,
    ``zarr.py:106-146``). Coordinates are small and materialized."""

    sizes: dict[str, int]
    var_meta: dict[str, tuple[tuple[str, ...], str]]  # name -> (dims, dtype str)
    coords: dict[str, Variable] = field(default_factory=dict)
    attrs: dict[str, Any] = field(default_factory=dict)

    @staticmethod
    def from_ndds(ds: NDDataset) -> "Template":
        return Template(
            sizes=dict(ds.sizes),
            var_meta={k: (v.dims, v.values.dtype.str) for k, v in ds.data_vars.items()},
            coords=dict(ds.coords),
            attrs=dict(ds.attrs),
        )

    @property
    def var_names(self) -> list[str]:
        return sorted(self.var_meta)

    def itemsize(self, split_vars: bool = False) -> int:
        sizes = [np.dtype(dt).itemsize for _, dt in self.var_meta.values()]
        if not sizes:
            return 0
        return max(sizes) if split_vars else sum(sizes)

    def coords_for_chunk(self, offsets: Mapping[str, int], chunk_sizes: Mapping[str, int]) -> dict[str, Variable]:
        """Slice the template coords down to one chunk's window."""
        out: dict[str, Variable] = {}
        for name, var in self.coords.items():
            sl = tuple(
                slice(offsets.get(d, 0), offsets.get(d, 0) + chunk_sizes.get(d, self.sizes[d]))
                for d in var.dims
            )
            out[name] = Variable(var.dims, var.values[sl])
        return out

    def select_vars(self, names: Iterable[str]) -> "Template":
        names = set(names)
        vm = {k: v for k, v in self.var_meta.items() if k in names}
        used = {d for dims, _ in vm.values() for d in dims}
        return Template(
            sizes={d: s for d, s in self.sizes.items() if d in used},
            var_meta=vm,
            coords={k: v for k, v in self.coords.items() if set(v.dims) <= used},
            attrs=self.attrs,
        )


def off_col(dim: str) -> str:
    return OFF_PREFIX + dim


def chunk_row_schema(dims: Sequence[str]) -> T.StructType:
    fields = [T.StructField(off_col(d), T.LongType(), False) for d in sorted(dims)]
    fields.append(T.StructField("vars", T.StringType(), True))
    fields.append(T.StructField("payload", T.BinaryType(), False))
    return T.StructType(fields)


def _coord_literal_array(spark: SparkSession, vals: np.ndarray, spark_t):
    """The literal coordinate array for from_table's inline index mapping,
    memoized in the session store per coordinate content.

    Building ``F.array(F.lit(v).cast(t), ...)`` element by element costs
    ~4 py4j round trips per element — ~0.35 s of pure driver latency for a
    typical 3-axis grid — and the SAME axes are rebuilt on every
    from_table call (once per fixture chunk-spec per bench run, once per
    streaming micro-batch). A Column is an immutable unresolved-expression
    handle (no data, no session state), so reusing it across plans is
    exactly as safe as writing the same literal twice; the key is the
    dtype + raw bytes of the coordinate values (guide §1.2: cut
    driver↔JVM hops on the construct path)."""
    if vals.dtype.kind == "M":
        # ns-precision datetime64.item() yields an int, which F.lit would
        # misread as epoch SECONDS; µs (Spark's timestamp precision)
        # .item()s to datetime.datetime
        vals = vals.astype("datetime64[us]")
    return memo(
        spark,
        ("coord_literal", vals.dtype.str, vals.tobytes()),
        lambda: F.array(
            *[F.lit(v.item() if hasattr(v, "item") else v).cast(spark_t) for v in vals]
        ),
    )


# ---------------------------------------------------------------------------
# The fused per-chunk chain
# ---------------------------------------------------------------------------
#
# A Dataset is a source plus a tuple of per-chunk steps. The source turns
# the rows of its frame into ``(key, NDDataset)`` pairs, ``key = (offsets
# by dim, vars token)``; each step maps one pair to an iterable of pairs.
# Nothing runs until rows are asked for: ``Dataset.df`` or a sink (to_zarr,
# to_table, the reductions' pre-aggregate) then emits ONE Python node that
# runs the source, every step and the consumer. Spark pipelines a stage's
# narrow nodes, but each Python node is its own JVM → Python → JVM Arrow
# round trip, so without this every map_blocks / split / write would cost
# a round trip plus an encode_chunk and a decode_chunk of every payload.

ChunkPair = tuple[tuple[dict[str, int], "str | None"], NDDataset]
Step = Callable[[tuple[dict[str, int], "str | None"], NDDataset], Iterable[ChunkPair]]


class _Source(NamedTuple):
    """Where a fused chain's pairs come from. ``pairs(batch)`` runs on
    executors, so it must not capture the ``frame``. With ``group_by``
    set, ``frame`` is grouped by those columns and ``pairs(key, table)``
    assembles each group (one ``applyInArrow``); otherwise ``pairs``
    reads the RecordBatches of one ``mapInArrow``."""

    frame: DataFrame
    pairs: Callable[..., Iterator[ChunkPair]]
    group_by: tuple[str, ...] | None = None
    # chunk rows that pass through unchanged when no step follows
    rows: bool = False
    # every writeable data array it yields is private to its chunk
    fresh: bool = False


def _decode_payloads(col: "pa.Array | pa.ChunkedArray") -> Iterator[NDDataset]:
    """Each payload of a binary Arrow column, decoded zero-copy from the
    column's value buffer (read-only views)."""
    for i in range(len(col)):
        yield decode_chunk(memoryview(col[i].as_buffer()))


def _key_offsets(dims: Sequence[str], key: Sequence["pa.Scalar"]) -> dict[str, int]:
    """Offsets by dim from the offset scalars of a grouped source's key."""
    return {d: int(k.as_py()) for d, k in zip(dims, key)}


def _decode_rows(dims: Sequence[str], batch: "pa.RecordBatch") -> Iterator[ChunkPair]:
    """The chunk-row source."""
    offs = [batch.column(off_col(d)).to_numpy() for d in dims]
    kvars = batch.column("vars").to_pylist()
    for i, ds in enumerate(_decode_payloads(batch.column("payload"))):
        yield ({d: int(o[i]) for d, o in zip(dims, offs)}, kvars[i]), ds


def _rows_source(df: DataFrame, dims: Sequence[str]) -> _Source:
    return _Source(df, functools.partial(_decode_rows, list(dims)), rows=True)


def _through(steps: Sequence[Step], key, ds: NDDataset) -> Iterator[ChunkPair]:
    """Run one pair through every step, depth first: a worker holds one
    source chunk plus the pieces of it still in flight."""
    if not steps:
        yield key, ds
        return
    for k, d in steps[0](key, ds):
        yield from _through(steps[1:], k, d)


def _encode_sink(dims: Sequence[str], extra=None):
    """The default consumer: one chunk-row RecordBatch per call, each
    payload encoded once. ``extra = (name, fn(key))`` appends one int64
    column."""
    dims = list(dims)
    names = [off_col(d) for d in dims] + ["vars", "payload"]
    if extra is not None:
        names.append(extra[0])

    def sink(pairs: Iterable[ChunkPair]) -> Iterator["pa.RecordBatch"]:
        cols: list[list] = [[] for _ in names]
        for key, ds in pairs:
            row = [key[0][d] for d in dims] + [key[1], encode_chunk(ds)]
            if extra is not None:
                row.append(extra[1](key))
            for col, value in zip(cols, row):
                col.append(value)
        if cols[-1]:
            types = [pa.int64()] * len(dims) + [pa.string(), pa.binary(), pa.int64()]
            arrays = [pa.array(c, t) for c, t in zip(cols, types)]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return sink


def _own_arrays(ds: NDDataset, trust_writeable: bool) -> NDDataset:
    """``ds`` with arrays user code may mutate in place without touching
    any other chunk. Coordinates are always copied (sources slice them
    from axes shared by every chunk). A data array is copied unless
    ``trust_writeable`` (the chunk comes straight from a ``fresh`` source)
    and it is writeable: the arrays a Zarr read or a consolidate concat
    allocates per chunk. Decoded payloads are read-only views."""

    def own(var: Variable, trust: bool) -> Variable:
        if trust and var.values.flags.writeable:
            return var
        return Variable(var.dims, var.values.copy())

    return NDDataset(
        {k: own(v, trust_writeable) for k, v in ds.data_vars.items()},
        {k: own(v, False) for k, v in ds.coords.items()},
        ds.attrs,
    )


# ---------------------------------------------------------------------------
# Dataset
# ---------------------------------------------------------------------------


class Dataset:
    """A distributed chunked NDDataset (reference ``dataset.py:450-540``)."""

    def __init__(
        self,
        spark: SparkSession,
        df: "DataFrame | _Source",
        template: Template,
        chunks: Mapping[str, int],
        split_vars: bool = False,
        steps: Sequence[Step] = (),
    ):
        """``df`` is a chunk-row DataFrame, or the source of a fused chain
        whose per-chunk ``steps`` run in the same Python pass."""
        self.spark = spark
        self.template = template
        self.chunks = core.normalize_chunks(
            chunks, template.sizes, itemsize=template.itemsize(split_vars)
        )
        self.split_vars = split_vars
        if not isinstance(df, _Source):
            df = _rows_source(df, self.dims)
        self._source = df
        self._steps = tuple(steps)
        # the memoized df, in a cell that metadata-only copies share
        self._df_cell = [df.frame if df.rows and not self._steps else None]
        # Scan-rewrite hook (reference `_whole_dataset_method` fast path,
        # dataset.py:379-394): when this Dataset is still a pristine scan,
        # `_scan` holds a spec with `.reread(spark, chunks, split_vars,
        # rel_window=, var_subset=)` so isel/head/tail/__getitem__/rechunk
        # re-plan the read (reading only what's needed, no shuffle) instead
        # of filtering materialized chunks. Dropped on any transform.
        self._scan = None

    # -- the fused chain ---------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The chunk-row DataFrame (``off_<dim>``, ``vars``, ``payload``).
        Built on first access as one ``mapInArrow`` (one grouped
        ``applyInArrow`` for an assembling source) that runs the source
        and every step and encodes each output chunk once."""
        if self._df_cell[0] is None:
            self._df_cell[0] = self._run(_encode_sink(self.dims), chunk_row_schema(self.dims))
        return self._df_cell[0]

    def _pipeline(self) -> tuple[_Source, tuple[Step, ...]]:
        """The source and steps new work extends. Once ``df`` is persisted,
        ops built on this Dataset read the cached rows instead of running
        its chain again."""
        df = self._df_cell[0]
        if df is not None and df.is_cached and df is not self._source.frame:
            return _rows_source(df, self.dims), ()
        return self._source, self._steps

    def _then(
        self, step: Step | None, template: Template, chunks: Mapping[str, int],
        split_vars: bool | None = None,
    ) -> "Dataset":
        """A Dataset that runs ``step`` (``None``: no per-chunk work, new
        metadata only) after this one's chain, in the same Python pass."""
        src, steps = self._pipeline()
        split = self.split_vars if split_vars is None else split_vars
        if step is None:
            out = Dataset(self.spark, src, template, chunks, split, steps)
            out._df_cell = self._df_cell  # the same rows: one plan
            return out
        return Dataset(self.spark, src, template, chunks, split, steps + (step,))

    def _run(self, sink: Callable[[Iterable[ChunkPair]], Iterator["pa.RecordBatch"]],
             schema: T.StructType) -> DataFrame:
        """The one Python node of this Dataset's stage: source → steps →
        ``sink``. The sink turns the pairs of one source chunk into
        RecordBatches of ``schema``, so output leaves per source chunk."""
        src, steps = self._pipeline()
        pairs = src.pairs
        if src.group_by is None:

            def fused(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
                for batch in batches:
                    for key, ds in pairs(batch):
                        yield from sink(_through(steps, key, ds))

            return src.frame.mapInArrow(fused, schema)
        from pyspark.sql.pandas.types import to_arrow_schema

        empty = to_arrow_schema(schema).empty_table()

        def fused_group(key: tuple, table: "pa.Table") -> "pa.Table":
            out = [b for k, ds in pairs(key, table) for b in sink(_through(steps, k, ds))]
            return pa.Table.from_batches(out) if out else empty

        return src.frame.groupBy(*src.group_by).applyInArrow(fused_group, schema)

    # -- properties --------------------------------------------------------

    @property
    def sizes(self) -> dict[str, int]:
        return dict(self.template.sizes)

    @property
    def dims(self) -> list[str]:
        return sorted(self.template.sizes)

    @property
    def chunk_count(self) -> int:
        n = core.chunk_count(self.chunks, self.template.sizes)
        if self.split_vars:
            n *= max(1, len(self.template.var_meta))
        return n

    @property
    def bytes_per_chunk(self) -> int:
        n = self.template.itemsize(self.split_vars)
        for d, c in self.chunks.items():
            n *= c
        return n

    def __repr__(self) -> str:
        dims = ", ".join(f"{d}={s}/{self.chunks[d]}" for d, s in sorted(self.sizes.items()))
        return (
            f"<xbs.Dataset ({dims}) vars={self.template.var_names} "
            f"chunks={self.chunk_count}x{_human_bytes(self.bytes_per_chunk)} "
            f"split_vars={self.split_vars}>"
        )

    # -- constructors ------------------------------------------------------

    @staticmethod
    def from_numpy(
        spark: SparkSession,
        source: NDDataset,
        chunks: Mapping[str, int] | None = None,
        split_vars: bool = False,
        max_broadcast_bytes: int = 256 * 1024 * 1024,
    ) -> "Dataset":
        """Distribute an in-memory NDDataset (reference ``DatasetToChunks``,
        ``core.py:544-670``): broadcast once, slice per chunk on executors
        via distributed key enumeration over ``spark.range``.

        SIZE CONTRACT: the whole source is a driver-side broadcast — the
        right tool for wrapping a dataset that already fits in memory
        (reference semantics), a scale-killer for anything bigger. Sources
        above ``max_broadcast_bytes`` are rejected; store big data once
        with ``to_zarr``/``setup_zarr`` and read it with ``from_zarr``,
        which streams per-chunk regions instead of shipping the payload."""
        if source.nbytes > max_broadcast_bytes:
            raise ValueError(
                f"from_numpy source is {_human_bytes(source.nbytes)}, over the "
                f"{_human_bytes(max_broadcast_bytes)} broadcast budget — write it to "
                "Zarr (to_zarr) and read with from_zarr instead, or raise "
                "max_broadcast_bytes explicitly if the cluster can take it"
            )
        template = Template.from_ndds(source)
        sizes = dict(source.sizes)
        cchunks = core.normalize_chunks(
            chunks or {}, sizes, itemsize=template.itemsize(split_vars)
        )
        n_chunks = core.chunk_count(cchunks, sizes)
        bc = spark.sparkContext.broadcast(source)
        var_groups: list[str | None] = (
            sorted(source.data_vars) if split_vars else [None]
        )

        def gen(batch: "pa.RecordBatch") -> Iterator[ChunkPair]:
            ds = bc.value
            for i in batch.column("id").to_pylist():
                grid_i, var_i = divmod(i, len(var_groups))
                offsets = core.key_for_index(grid_i, sizes, cchunks)
                slices = {
                    d: slice(o, min(o + cchunks[d], sizes[d]))
                    for d, o in offsets.items()
                }
                chunk = ds.isel(slices)
                vg = var_groups[var_i]
                if vg is not None:
                    chunk = chunk[[vg]]
                yield (offsets, vg), chunk

        total = n_chunks * len(var_groups)
        rng = spark.range(0, total, 1, min(total, _default_parallelism(spark)))
        out = Dataset(spark, _Source(rng, gen), template, cchunks, split_vars)
        out._scan = MemoryScan(source)
        return out

    @staticmethod
    def from_table(
        table: DataFrame,
        dims: Sequence[str],
        coords: Mapping[str, np.ndarray],
        var_cols: Sequence[str] | None = None,
        chunks: Mapping[str, int] | None = None,
        fill_value: float = math.nan,
    ) -> "Dataset":
        """Long/tabular → chunked dense grid (the tabular bridge,
        SURVEY.md §7.7). ``coords`` gives the sorted coordinate values per
        dim (defines grid order and size); table rows are placed at their
        coordinate's index, absent cells become ``fill_value``.

        Scalable path: a per-dim value → index mapping (a literal array,
        or a broadcast join for float and large axes), then a single
        shuffle on chunk offsets. Each chunk is assembled by the grouped
        source of the returned Dataset, so what follows (a reduction's
        pre-aggregate, a Zarr write) runs in the same Python pass.
        """
        spark = table.sparkSession
        dims = list(dims)
        var_cols = list(var_cols or [c for c in table.columns if c not in dims])
        sizes = {d: len(coords[d]) for d in dims}
        cchunks = core.normalize_chunks(chunks or {}, sizes)
        coord_vars = {d: Variable((d,), np.asarray(coords[d])) for d in dims}
        tmpl = Template(
            sizes=sizes,
            var_meta={v: ((*dims,), np.dtype("float64").str) for v in var_cols},
            coords=coord_vars,
        )

        # dim value -> index. Small integer/string/datetime axes inline as
        # a literal-array ``array_position`` projection: semantically the
        # same inner equi-join against the coordinate list (rows whose
        # value is absent get a NULL index and are dropped by the filter,
        # exactly as the inner join dropped them), but with no
        # createDataFrame round trip and no BroadcastExchange per dim —
        # at one from_table per streaming micro-batch those cost ~0.5 s
        # of driver time each. Float axes keep the join path (NaN/-0.0
        # equality must follow join semantics), as do axes too large for
        # a comfortable literal array.
        _INLINE_COORD_MAX = 4096
        out = table

        def _inline_ok(vals: np.ndarray) -> bool:
            return len(vals) <= _INLINE_COORD_MAX and vals.dtype.kind in "iuMUS"

        joined_dims: list[str] = []
        for d in dims:
            vals = np.asarray(coords[d])
            if _inline_ok(vals):
                spark_t = _np_to_spark_type(vals.dtype)
                arr = _coord_literal_array(spark, vals, spark_t)
                # array_position: 1-based; 0 = absent, NULL = NULL value —
                # both must drop, exactly like the inner join they replace
                idx = (F.array_position(arr, F.col(d).cast(spark_t)) - 1).cast("long")
                out = out.withColumn(f"__idx_{d}", idx).where(
                    F.col(f"__idx_{d}") >= 0
                )
            else:
                joined_dims.append(d)
        for d in joined_dims:
            vals = np.asarray(coords[d])
            mapping = spark.createDataFrame(
                pa.table({d: vals, f"__idx_{d}": np.arange(len(vals), dtype=np.int64)})
            )
            out = out.join(F.broadcast(mapping), on=d, how="inner")
        dims_sorted = sorted(dims)
        off_cols = [off_col(d) for d in dims_sorted]
        idx_cols = [f"__idx_{d}" for d in dims]
        for d, c in zip(dims, idx_cols):
            out = out.withColumn(off_col(d), F.col(c) - F.col(c) % F.lit(cchunks[d]))

        # Grid completeness: grouping materializes only cells that HAVE
        # rows, so a sparse table would leave holes in the chunk grid —
        # collect() would silently truncate an axis and rechunk would
        # miss sub-chunks. One marker row per grid cell (row-major over
        # the sorted dims, with null indexes) joins the grouped input, so
        # every cell forms a group and an empty one assembles to a
        # fill_value chunk.
        markers, n_cells = {}, 1
        for d in reversed(dims_sorted):
            count = -(-sizes[d] // cchunks[d])
            markers[off_col(d)] = F.expr(f"(id DIV {n_cells}) % {count} * {cchunks[d]}")
            n_cells *= count
        # size the enumeration to the cell count: spark.range defaults to
        # defaultParallelism partitions, which for a handful of cells is
        # dozens of EMPTY tasks (~64k cells per task keeps the enumeration
        # wide enough at any real grid size)
        n_parts = max(1, min(spark.sparkContext.defaultParallelism, -(-n_cells // 65536)))
        cells = spark.range(0, n_cells, numPartitions=n_parts).select(
            *[markers[c].alias(c) for c in off_cols]
        )
        rows = out.select(*off_cols, *idx_cols, *var_cols).unionByName(
            cells, allowMissingColumns=True
        )
        bc_coords = spark.sparkContext.broadcast({d: np.asarray(coords[d]) for d in dims})

        def assemble(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            offsets = _key_offsets(dims_sorted, key)
            shape = tuple(min(cchunks[d], sizes[d] - offsets[d]) for d in dims)
            arrs = {v: np.full(shape, fill_value, dtype=np.float64) for v in var_cols}
            tbl = tbl.filter(tbl.column(idx_cols[0]).is_valid())  # drop the marker
            idx = tuple(tbl.column(c).to_numpy() - offsets[d] for c, d in zip(idx_cols, dims))
            for v in var_cols:
                arrs[v][idx] = np.asarray(tbl.column(v).to_numpy(), dtype=np.float64)
            cvals = bc_coords.value
            chunk_coords = {
                d: Variable((d,), cvals[d][offsets[d] : offsets[d] + shape[i]])
                for i, d in enumerate(dims)
            }
            yield (offsets, None), NDDataset({v: ((*dims,), arrs[v]) for v in var_cols}, chunk_coords)

        src = _Source(rows, assemble, tuple(off_cols), fresh=True)
        return Dataset(spark, src, tmpl, cchunks, False)

    @staticmethod
    def from_dataframe(
        spark: SparkSession,
        df: DataFrame,
        template: Template,
        chunks: Mapping[str, int],
        split_vars: bool = False,
        validate: bool = True,
    ) -> "Dataset":
        """Wrap an arbitrary chunk-row DataFrame produced by user code
        (reference ``Dataset.from_ptransform``, ``dataset.py:561-622``),
        optionally inserting the per-chunk validation stage."""
        out = Dataset(spark, df, template, chunks, split_vars)
        return out.validate() if validate else out

    def validate(self) -> "Dataset":
        """Insert a narrow per-chunk validation stage (reference
        ``ValidateEachChunk`` ``core.py:809-818`` + the from_ptransform
        validator ``dataset.py:236-332``): offsets on the chunk grid,
        chunk extents matching the grid cell (smaller only at the array
        edge), dims/dtypes consistent with the template, and var subsets
        consistent with ``split_vars``. Raises inside the executor on the
        first violation, failing the job with a precise message."""
        tmpl = self.template
        sizes = dict(tmpl.sizes)
        chunks = dict(self.chunks)
        split_vars = self.split_vars
        var_meta = dict(tmpl.var_meta)

        def check(key, ds: NDDataset) -> Iterator[ChunkPair]:
            offs, vtoken = key
            for d, off in offs.items():
                if d in ds.sizes:
                    if off % chunks[d] != 0:
                        raise ValueError(
                            f"chunk offset {off} along {d!r} is not a "
                            f"multiple of chunk size {chunks[d]}"
                        )
                    expect = min(chunks[d], sizes[d] - off)
                    if ds.sizes[d] != expect:
                        raise ValueError(
                            f"chunk at {offs} has size {ds.sizes[d]} along "
                            f"{d!r}; grid expects {expect}"
                        )
            if split_vars and vtoken is None:
                raise ValueError(f"split_vars dataset has chunk at {offs} with vars=None")
            for name, var in ds.data_vars.items():
                if name not in var_meta:
                    raise ValueError(f"unexpected variable {name!r} at {offs}")
                want_dims, want_dtype = var_meta[name]
                if var.dims != tuple(want_dims):
                    raise ValueError(
                        f"variable {name!r} dims {var.dims} != template {want_dims}"
                    )
                if var.values.dtype.str != want_dtype:
                    raise ValueError(
                        f"variable {name!r} dtype {var.values.dtype.str} != "
                        f"template {want_dtype}"
                    )
            yield key, ds

        return self._then(check, tmpl, chunks)

    def pipe(self, func: Callable, *args, **kwargs):
        """Method-chaining helper (reference ``dataset.py:1139-1141``)."""
        return func(self, *args, **kwargs)

    # -- arithmetic (xarray ergonomics) ---------------------------------
    #
    # The reference reaches elementwise math through ``beam.Map(lambda
    # k, v: v + 1)`` / co-reads; xarray users write ``ds1 - ds2`` and
    # ``ds * 2``. Scalar operands are a narrow map_blocks (no shuffle);
    # Dataset operands go through zip_map's chunk-grid equi-join.

    def _arith(self, other, op, reflected: bool = False):
        if isinstance(other, Dataset):
            if reflected:
                return other._arith(self, op)
            return self.zip_map(other, lambda a, b: _nd_binop(a, b, op))
        fn = (lambda arr: op(other, arr)) if reflected else (lambda arr: op(arr, other))
        return self.map_blocks(lambda ds: ds.map(fn))

    # numpy must defer ndarray <op> Dataset to our reflected methods
    # instead of coercing the Dataset into a 0-d object array (xarray
    # does the same opt-out)
    __array_ufunc__ = None

    def __add__(self, other):
        return self._arith(other, operator.add)

    def __radd__(self, other):
        return self._arith(other, operator.add, reflected=True)

    def __sub__(self, other):
        return self._arith(other, operator.sub)

    def __rsub__(self, other):
        return self._arith(other, operator.sub, reflected=True)

    def __mul__(self, other):
        return self._arith(other, operator.mul)

    def __rmul__(self, other):
        return self._arith(other, operator.mul, reflected=True)

    def __truediv__(self, other):
        return self._arith(other, operator.truediv)

    def __rtruediv__(self, other):
        return self._arith(other, operator.truediv, reflected=True)

    def __neg__(self):
        return self.map_blocks(lambda ds: ds.map(lambda a: -a))

    def __abs__(self):
        return self.map_blocks(lambda ds: ds.map(np.abs))

    def clip(self, min=None, max=None) -> "Dataset":
        """Elementwise clamp (xarray ``clip``); NaN passes through."""
        return self.map_blocks(lambda ds: ds.map(lambda a: np.clip(a, min, max)))

    def round(self, decimals: int = 0) -> "Dataset":
        """Elementwise round-half-to-even (numpy/xarray semantics)."""
        return self.map_blocks(lambda ds: ds.map(lambda a: np.round(a, decimals)))

    def expand_dims(self, **dim_sizes: int) -> "Dataset":
        """Add new leading dims of the given sizes by broadcasting every
        chunk (new dims are unchunked)."""
        tmpl = self.template
        clash = sorted(set(dim_sizes) & set(tmpl.sizes))
        if clash:
            # {**dim_sizes, **sizes} would keep the OLD size while the
            # var dims tuple gained a duplicate name — corrupt template,
            # desynced offsets downstream (xarray raises here too)
            raise ValueError(f"dimensions already exist: {clash}")
        new_tmpl = Template(
            sizes={**dim_sizes, **tmpl.sizes},
            var_meta={
                v: (tuple(dim_sizes) + dims, dt) for v, (dims, dt) in tmpl.var_meta.items()
            },
            coords=tmpl.coords,
            attrs=tmpl.attrs,
        )
        new_chunks = {**dim_sizes, **self.chunks}
        return self.map_blocks(
            lambda ds: ds.expand_dims(dim_sizes), template=new_tmpl, chunks=new_chunks
        )

    def squeeze(self, dim: str | None = None) -> "Dataset":
        """Drop size-1 dimensions (xarray ``ds.squeeze`` — the inverse of
        :meth:`expand_dims`). ``dim=None`` drops every size-1 dim; naming
        a dim with size > 1 raises. Narrow (template surgery + per-chunk
        ``np.squeeze``); aux coords spanning a squeezed dim lose that
        axis, the dim's own index coord is dropped."""
        sizes = self.sizes
        if dim is None:
            drop = {d for d, s in sizes.items() if s == 1}
        else:
            if dim not in sizes:
                raise KeyError(f"no dimension {dim!r}")
            if sizes[dim] != 1:
                raise ValueError(f"cannot squeeze {dim!r} of size {sizes[dim]}")
            drop = {dim}
        if not drop:
            return self
        tmpl = self.template
        out_coords = {}
        for name, c in tmpl.coords.items():
            if name in drop:
                continue
            if set(c.dims) & drop:
                ax = tuple(i for i, d in enumerate(c.dims) if d in drop)
                out_coords[name] = Variable(
                    tuple(d for d in c.dims if d not in drop),
                    np.squeeze(c.values, axis=ax),
                )
            else:
                out_coords[name] = c
        out_tmpl = Template(
            sizes={d: s for d, s in tmpl.sizes.items() if d not in drop},
            var_meta={
                v: (tuple(d for d in dims_v if d not in drop), dt)
                for v, (dims_v, dt) in tmpl.var_meta.items()
            },
            coords=out_coords,
            attrs=tmpl.attrs,
        )
        out_chunks = {d: c for d, c in self.chunks.items() if d not in drop}

        def f(ds: NDDataset) -> NDDataset:
            out_vars = {}
            for v, var in ds.data_vars.items():
                ax = tuple(i for i, d in enumerate(var.dims) if d in drop)
                out_vars[v] = Variable(
                    tuple(d for d in var.dims if d not in drop),
                    np.squeeze(var.values, axis=ax) if ax else var.values,
                )
            coords = {}
            for name, c in ds.coords.items():
                if name in drop:
                    continue
                if set(c.dims) & drop:
                    cax = tuple(i for i, d in enumerate(c.dims) if d in drop)
                    coords[name] = Variable(
                        tuple(d for d in c.dims if d not in drop),
                        np.squeeze(c.values, axis=cax),
                    )
                else:
                    coords[name] = c
            return NDDataset(out_vars, coords, dict(ds.attrs))

        return self.map_blocks(f, template=out_tmpl, chunks=out_chunks)

    # -- conversion --------------------------------------------------------

    def to_table(self, dropna: bool = True) -> DataFrame:
        """Chunked grid → long format: one row per grid cell with dim
        coordinate columns + one column per variable. Narrow: the explode
        ends this Dataset's fused chain."""
        if self.split_vars:
            return self.consolidate_variables().to_table(dropna=dropna)
        tmpl = self.template
        dims = self.dims
        var_names = tmpl.var_names
        schema = table_schema(tmpl, dims)

        names = [f.name for f in schema.fields]
        pa_types = [_spark_to_arrow_type(f.dataType) for f in schema.fields]

        # Arrow, not pandas: column arrays go numpy → Arrow directly (one
        # cast per column) instead of through a pandas frame — measured
        # ~1.4x on wide explodes, and no object churn for strings.
        def explode(pairs: Iterable[ChunkPair]) -> Iterator["pa.RecordBatch"]:
            for _key, ds in pairs:
                out = explode_chunk_batch(ds, dims, var_names, dropna, names, pa_types)
                if out is not None:
                    yield out

        return self._run(explode, schema)

    # Zarr IO lives in sources/zarr_io.py, which REPLACES these two
    # delegators with the real functions when it is imported (keeping
    # that module the single home of the write/read logic). The
    # delegators exist because the package __init__ re-exports lazily
    # (PEP 562, see _lazy.py): code that imported only this module must
    # still find to_zarr/from_zarr on the class.
    def to_zarr(self, *args, **kwargs):
        from xarray_beam_spark.sources import zarr_io

        return zarr_io.to_zarr(self, *args, **kwargs)

    @staticmethod
    def from_zarr(*args, **kwargs):
        from xarray_beam_spark.sources import zarr_io

        return zarr_io.from_zarr(*args, **kwargs)

    def collect(self) -> NDDataset:
        """Assemble the full dataset on the driver (reference
        ``collect_with_direct_runner``, ``dataset.py:868-878``)."""
        rows = self.df.collect()
        dims_sorted = sorted(self.sizes)
        merged: dict[tuple[int, ...], list[NDDataset]] = {}
        for row in rows:
            idx = tuple(
                row[off_col(d)] // self.chunks[d] for d in dims_sorted
            )
            merged.setdefault(idx, []).append(decode_chunk(row["payload"]))
        parts = {idx: NDDataset.merge(chunks) for idx, chunks in merged.items()}
        out = NDDataset.block(parts, dims_sorted)
        # grid-completeness guard: NDDataset.block concatenates whatever
        # cells exist, so a missing chunk row (sparse producer, foreign
        # DataFrame) would silently TRUNCATE an axis instead of erroring
        for d, want in self.template.sizes.items():
            got = out.sizes.get(d, want)
            if got != want:
                raise ValueError(
                    f"collect(): assembled size {got} != template size "
                    f"{want} along {d!r} — the dataset is missing chunk "
                    "rows (incomplete grid)"
                )
        # global attrs live on the TEMPLATE (chunk payloads of store reads
        # carry none): merge them in, chunk-level attrs winning on clash
        if self.template.attrs:
            out = NDDataset(
                dict(out.data_vars),
                dict(out.coords),
                {**self.template.attrs, **out.attrs},
            )
        return out

    # -- per-chunk compute -------------------------------------------------

    def map_blocks(
        self,
        func: Callable[[NDDataset], NDDataset],
        template: Template | None = None,
        chunks: Mapping[str, int] | None = None,
    ) -> "Dataset":
        """Apply ``func`` to every chunk (reference ``dataset.py:880-964``).

        Schema inference: ``func`` is applied on the driver to a zero-filled
        chunk-shaped dummy built from the template (the reference applies
        it to a lazy dask template; we pay one chunk-sized driver compute
        instead). Pass ``template``/``chunks`` explicitly when ``func``
        changes dimension sizes in a way inference gets wrong.
        """
        if template is None:
            dummy_in = _dummy_chunk(self.template, self.chunks)
            dummy_out = func(dummy_in)
            old_vars: set = set(dummy_in.data_vars)
            new_vars: set = set(dummy_out.data_vars)
        else:
            old_vars = set(self.template.var_meta)
            new_vars = set(template.var_meta)
        if self.split_vars and new_vars != old_vars:
            # each row carries ONE var name in its vars column; a func
            # that renames/re-keys variables would silently desync it
            # (reference dataset.py map_blocks split-vars contract)
            raise ValueError(
                "cannot use map_blocks on a dataset with split_vars=True "
                "if the transformation returns a different set of "
                f"variables.\nOld split variables: {old_vars}\n"
                f"New split variables: {new_vars}"
            )
        if template is None:
            template, inferred_chunks = _infer_result_meta(
                self.template, self.chunks, dummy_in, dummy_out
            )
            # explicit chunks win over inference (reference map_blocks
            # signature: template and chunks are independent overrides)
            chunks = inferred_chunks if chunks is None else chunks
        if chunks is None:
            # defaulting to the source chunks: drop dims the (explicit)
            # template no longer has, or normalize_chunks rejects them
            # before the friendly multi-chunk guard below can run
            chunks = {d: c for d, c in self.chunks.items() if d in template.sizes}
        new_chunks = core.normalize_chunks(chunks, template.sizes)
        # Per-chunk maps cannot change the chunk GRID: every source chunk
        # yields exactly one output chunk, so a multi-chunk dim must
        # survive into the result, per-dim chunk counts must agree, and a
        # func-ADDED dim must be single-chunk (every output row writes
        # offset 0 along it) — otherwise output offsets would
        # collide/overlap and the failure surfaces only at collect/write
        # time (reference dataset_test.py:1087-1110 pins the messages).
        for d, size in self.sizes.items():
            n_in = -(-size // self.chunks[d])
            if d not in template.sizes:
                if n_in > 1:
                    raise ValueError(
                        f"dimension {d!r} has multiple chunks on the source "
                        "dataset, and therefore must be included in the "
                        "result of map_blocks, but is not in the new "
                        f"template: {sorted(template.sizes)}"
                    )
                continue
            n_out = -(-template.sizes[d] // new_chunks[d])
            if n_in != n_out:
                raise ValueError(
                    f"dimension {d!r} has {n_in} chunks on the source "
                    f"dataset and {n_out} in the result of map_blocks"
                )
        for d in template.sizes:
            if d not in self.sizes and new_chunks[d] < template.sizes[d]:
                raise ValueError(
                    f"new dimension {d!r} from map_blocks must be a single "
                    f"chunk (every chunk writes offset 0 along it), got "
                    f"chunk size {new_chunks[d]} for dimension size "
                    f"{template.sizes[d]}"
                )
        out_dims = sorted(template.sizes)
        in_chunks = self.chunks
        from xarray_beam_spark.observability import get_counters

        _c = get_counters(self.spark)
        acc_in, acc_in_b, acc_out_b = (
            _c.acc("map_blocks.inputs"),
            _c.acc("map_blocks.input_bytes"),
            _c.acc("map_blocks.output_bytes"),
        )
        # func is USER code and may mutate in place: it gets arrays no
        # other chunk sees (see _own_arrays for what is already private)
        src, steps = self._pipeline()
        first = src.fresh and not steps

        def step(key, ds: NDDataset) -> Iterator[ChunkPair]:
            offs, kvars = key
            ds = _own_arrays(ds, trust_writeable=first)
            acc_in.add(1)
            acc_in_b.add(ds.nbytes)
            res = func(ds)
            acc_out_b.add(res.nbytes)
            # scale offsets by chunk index (reference dataset.py:335-358);
            # a func-added dim sits at offset 0
            new_offs = {
                d: offs[d] // in_chunks[d] * new_chunks[d] if d in in_chunks else 0
                for d in out_dims
            }
            yield (new_offs, kvars), res

        return self._then(step, template, new_chunks)

    # -- projections / indexing -------------------------------------------

    def __getitem__(self, names) -> "Dataset":
        if isinstance(names, str):
            names = [names]
        missing = [n for n in names if n not in self.template.var_meta]
        if missing:
            # Template.select_vars just filters — without this a typo'd
            # name yields an empty/partial dataset whose error surfaces
            # only at collect() (xarray raises KeyError immediately)
            raise KeyError(
                f"no such data variables: {missing} "
                f"(have {sorted(self.template.var_meta)})"
            )
        tmpl = self.template.select_vars(names)
        if self._scan is not None:
            # projection pushdown into the scan: unread variables are
            # never fetched (true column pruning at the store)
            return self._scan.reread(
                self.spark,
                chunks={d: self.chunks[d] for d in tmpl.sizes},
                split_vars=self.split_vars,
                var_subset=list(names),
            )
        if self.split_vars:
            df = self.df.filter(F.col("vars").isin(list(names)))
            df = df.select(*[off_col(d) for d in sorted(tmpl.sizes)], "vars", "payload")
            return Dataset(self.spark, df, tmpl, {d: self.chunks[d] for d in tmpl.sizes}, True)
        sel = list(names)
        out = self.map_blocks(lambda ds: ds[sel], template=tmpl, chunks={d: self.chunks[d] for d in tmpl.sizes})
        return out

    def isel(self, indexers: Mapping[str, slice] | None = None, **kw: slice) -> "Dataset":
        """Contiguous integer-window selection per dim (xarray ``isel``
        with step-1 slices; reference does this via ``map_blocks`` with no
        pruning — here Catalyst prunes non-overlapping chunks via the
        offset predicate before anything is read or computed).

        Boundary chunks are trimmed and offsets rebased in a narrow map;
        when the window start is not chunk-aligned, one narrow split + one
        consolidate shuffle restore the regular grid.
        """
        idx = {**(indexers or {}), **kw}
        sizes = self.sizes
        windows: dict[str, tuple[int, int]] = {}
        gathers: dict[str, np.ndarray] = {}
        for d, sl in list(idx.items()):
            if d not in sizes:
                raise KeyError(f"no dimension {d!r}")
            if isinstance(sl, (list, tuple, np.ndarray)):
                # fancy integer indexer (xarray outer indexing): a
                # contiguous ascending run is just a window; anything else
                # gathers via take() after the windows prune
                positions = np.asarray(sl, dtype=np.int64)
                if positions.ndim != 1 or positions.size == 0:
                    raise ValueError(
                        f"isel indexer for {d!r} must be a non-empty 1-D "
                        f"integer sequence, got {sl!r}"
                    )
                if np.all(np.diff(positions) == 1):
                    idx[d] = sl = slice(int(positions[0]), int(positions[-1]) + 1)
                else:
                    del idx[d]
                    gathers[d] = positions
                    continue
            if not isinstance(sl, slice) or (sl.step not in (None, 1)):
                raise ValueError(f"isel supports contiguous step-1 slices, got {sl!r} for {d!r}")
            start, stop, _ = sl.indices(sizes[d])
            if stop <= start:
                raise ValueError(f"empty selection for dim {d!r}: {sl!r}")
            windows[d] = (start, stop)

        if gathers:
            out = self.isel(idx) if idx else self
            for d, positions in gathers.items():
                out = out.take(d, positions)
            return out

        new_sizes = {d: windows.get(d, (0, s))[1] - windows.get(d, (0, s))[0] for d, s in sizes.items()}
        if self._scan is not None:
            # scan rewrite: re-plan the read over the window only
            return self._scan.reread(
                self.spark,
                chunks={d: min(self.chunks[d], new_sizes[d]) for d in new_sizes},
                split_vars=self.split_vars,
                rel_window=dict(windows),
            )
        tmpl = Template(
            sizes=new_sizes,
            var_meta=self.template.var_meta,
            coords={
                k: Variable(
                    v.dims,
                    v.values[
                        tuple(
                            slice(windows.get(d, (0, None))[0], windows.get(d, (None, None))[1])
                            for d in v.dims
                        )
                    ],
                )
                for k, v in self.template.coords.items()
            },
            attrs=self.template.attrs,
        )
        all_dims = self.dims
        win = dict(windows)
        grid = dict(self.chunks)
        base = self
        src, steps = self._pipeline()
        if src.rows and not steps:
            # plain chunk rows: Catalyst prunes them before any decode
            cond = F.lit(True)
            for d, (start, stop) in windows.items():
                cond = cond & (F.col(off_col(d)) + F.lit(grid[d]) > start) & (
                    F.col(off_col(d)) < stop
                )
            base = Dataset(self.spark, src.frame.filter(cond), self.template, grid, self.split_vars)

        def trim(key, ds: NDDataset) -> Iterator[ChunkPair]:
            offs, kvars = key
            if not all(offs[d] + grid[d] > start and offs[d] < stop for d, (start, stop) in win.items()):
                return  # the chunk lies outside the window
            sl = {}
            new_offs = {}
            sizes = ds.sizes
            for d in all_dims:
                off = offs[d]
                start, stop = win.get(d, (0, None))
                if d in sizes:
                    lo = max(0, start - off)
                    hi = sizes[d] if stop is None else min(sizes[d], stop - off)
                    if (lo, hi) != (0, sizes[d]):
                        sl[d] = slice(lo, hi)
                new_offs[d] = max(0, off - start)
            yield (new_offs, kvars), ds.isel(sl) if sl else ds

        chunks = {d: min(self.chunks[d], new_sizes[d]) for d in new_sizes}
        out = base._then(trim, tmpl, chunks)
        if all(start % self.chunks[d] == 0 for d, (start, _) in windows.items()):
            return out  # start is chunk-aligned: offsets stayed regular
        # realign the irregular boundary chunks to the regular grid:
        # narrow split + one consolidate shuffle
        return out.split_chunks(chunks).consolidate_chunks(chunks)

    def sel(
        self,
        indexers: Mapping[str, Any] | None = None,
        method: str | None = None,
        **kw: Any,
    ) -> "Dataset":
        """Label-based contiguous selection: coordinate values (or label
        slices) are translated to integer windows on the driver via the
        template's coordinate arrays, then delegated to :meth:`isel` (so
        the scan rewrite / chunk pruning applies). Labels follow xarray
        semantics: slices are inclusive of both endpoints; ``method``
        ('nearest' / 'ffill' / 'bfill', xarray's inexact-lookup modes)
        applies to point labels and label lists, never to slices. A LIST
        of labels gathers in the given order via :meth:`take` (xarray's
        outer indexing; one shuffle per listed dim)."""
        idx = {**(indexers or {}), **kw}
        windows: dict[str, slice] = {}
        gathers: dict[str, np.ndarray] = {}
        for d, sel in idx.items():
            coord = self.template.coords.get(d)
            if coord is None:
                raise KeyError(f"dim {d!r} has no coordinate for label-based selection")
            vals = coord.values

            def lookup(label, d=d, vals=vals):
                target = np.asarray(label, vals.dtype)
                # exact match by equality scan, not searchsorted: the
                # binary search assumes a sorted axis, so on an unsorted
                # coordinate it would mislocate existing labels (spurious
                # KeyError, or the wrong occurrence among duplicates —
                # first occurrence wins here). Coords are driver-side
                # metadata arrays, so the O(n) scan is cheap.
                hits = np.nonzero(vals == target)[0]
                exact = hits.size > 0
                if exact:
                    return int(hits[0])
                if method is None:
                    raise KeyError(f"label {label!r} not found in coordinate {d!r}")
                pos = int(np.searchsorted(vals, target, "left"))
                if not exact:
                    if len(vals) > 1 and not np.all(vals[1:] >= vals[:-1]):
                        raise ValueError(
                            f"sel(method={method!r}) on {d!r} requires a "
                            "monotonically non-decreasing coordinate"
                        )
                    if method == "ffill":
                        pos = pos - 1
                    elif method == "bfill":
                        pass  # pos already points at the next label
                    elif method == "nearest":
                        if pos == 0:
                            pass
                        elif pos >= len(vals):
                            pos = len(vals) - 1
                        else:
                            before, after = vals[pos - 1], vals[pos]
                            # strict <: exact midpoints resolve to the HIGHER
                            # label, matching pandas/xarray's nearest indexer
                            # on monotonic-increasing indexes
                            if (target - before) < (after - target):
                                pos = pos - 1
                    else:
                        raise ValueError(
                            f"sel method must be None/'nearest'/'ffill'/'bfill', "
                            f"got {method!r}"
                        )
                    if pos < 0 or pos >= len(vals):
                        raise KeyError(
                            f"label {label!r} outside coordinate {d!r} with "
                            f"method={method!r}"
                        )
                return pos

            if isinstance(sel, slice):
                if sel.step is not None:
                    raise ValueError(f"sel slices must have step=None, got {sel!r}")
                # searchsorted silently returns wrong windows on unsorted
                # coords (point lookups fail loudly below; slices would not).
                if len(vals) > 1 and not np.all(vals[1:] >= vals[:-1]):
                    raise ValueError(
                        f"sel slice on {d!r} requires a monotonically "
                        "non-decreasing coordinate"
                    )
                lo = 0 if sel.start is None else int(np.searchsorted(vals, np.asarray(sel.start, vals.dtype), "left"))
                hi = len(vals) if sel.stop is None else int(np.searchsorted(vals, np.asarray(sel.stop, vals.dtype), "right"))
                windows[d] = slice(lo, hi)
            elif isinstance(sel, (list, tuple, np.ndarray)):
                positions = np.array([lookup(x) for x in np.asarray(sel)], dtype=np.int64)
                if positions.size and np.all(np.diff(positions) == 1):
                    windows[d] = slice(int(positions[0]), int(positions[-1]) + 1)
                else:
                    gathers[d] = positions
            else:
                pos = lookup(sel)
                windows[d] = slice(pos, pos + 1)
        out = self.isel(windows) if windows else self
        for d, positions in gathers.items():
            out = out.take(d, positions)
        return out

    def coarsen(self, factors: Mapping[str, int], op: str = "mean", skipna: bool = True) -> "Dataset":
        """Block-aggregate downsampling (xarray ``coarsen``; the reference
        does this via rechunk + map_blocks, ``docs/high-level.ipynb``
        Example 2): every ``factors[d]``-sized block along ``d`` reduces to
        one element.

        Plan: dims whose chunk size is divisible by the factor coarsen in
        place (narrow); otherwise one rechunk round aligns them first.
        Coordinates take the first value of each block.
        """
        if op not in ("mean", "sum", "min", "max"):
            raise ValueError(f"unsupported coarsen op {op!r}")
        sizes = self.sizes
        for d, f in factors.items():
            if d not in sizes:
                raise KeyError(f"no dimension {d!r}")
            if sizes[d] % f != 0:
                raise ValueError(f"size {sizes[d]} of dim {d!r} not divisible by factor {f}")
        work = self
        fixed = {
            d: (self.chunks[d] if self.chunks[d] % f == 0 else f * max(1, self.chunks[d] // f))
            for d, f in factors.items()
        }
        if any(self.chunks[d] % f != 0 for d, f in factors.items()):
            work = self.rechunk({**self.chunks, **fixed})
        tmpl = work.template
        out_sizes = {d: (s // factors.get(d, 1)) for d, s in sizes.items()}
        out_chunks = {d: max(1, work.chunks[d] // factors.get(d, 1)) for d in sizes}
        out_coords = {}
        for k, c in tmpl.coords.items():
            sl = tuple(slice(None, None, factors.get(d, 1)) for d in c.dims)
            out_coords[k] = Variable(c.dims, c.values[sl])
        out_vm = {
            v: (dims, dt if op in ("min", "max") else np.dtype("float64").str)
            for v, (dims, dt) in tmpl.var_meta.items()
        }
        out_tmpl = Template(sizes=out_sizes, var_meta=out_vm, coords=out_coords, attrs=tmpl.attrs)
        fac = dict(factors)
        red = {
            "mean": (np.nanmean, np.mean),
            "sum": (np.nansum, np.sum),
            "min": (np.nanmin, np.min),
            "max": (np.nanmax, np.max),
        }[op]

        def block_reduce(ds: NDDataset) -> NDDataset:
            out_vars = {}
            for v, var in ds.data_vars.items():
                a = var.values
                newshape: list[int] = []
                red_axes: list[int] = []
                for ax, d in enumerate(var.dims):
                    f = fac.get(d, 1)
                    newshape.extend([a.shape[ax] // f, f])
                    red_axes.append(2 * ax + 1)
                a = a.reshape(newshape)
                isf = np.issubdtype(var.values.dtype, np.floating)
                fn = red[0] if (skipna and isf) else red[1]
                if op in ("mean", "sum"):
                    a = a.astype(np.float64, copy=False)
                with np.errstate(all="ignore"):
                    out = fn(a, axis=tuple(red_axes))
                out_vars[v] = Variable(var.dims, np.asarray(out))
            coords = {
                k: Variable(c.dims, c.values[tuple(slice(None, None, fac.get(d, 1)) for d in c.dims)])
                for k, c in ds.coords.items()
            }
            return NDDataset(out_vars, coords, ds.attrs)

        return work.map_blocks(block_reduce, template=out_tmpl, chunks=out_chunks)

    def head(self, **counts: int) -> "Dataset":
        """First N elements per dim (reference ``dataset.py:1105-1133``).
        Chunk pruning is a Catalyst filter on offset columns — only the
        chunks overlapping the head window are read/computed."""
        return self.isel({d: slice(0, n) for d, n in counts.items()})

    def tail(self, **counts: int) -> "Dataset":
        """Last N elements per dim (reference ``dataset.py:1105-1133``)."""
        sizes = self.sizes
        return self.isel({d: slice(max(0, sizes[d] - n), sizes[d]) for d, n in counts.items()})

    def transpose(self, *order: str) -> "Dataset":
        order = order or tuple(reversed(self.dims))
        return self.map_blocks(
            lambda ds: ds.transpose(*order), template=self.template, chunks=self.chunks
        )

    def stack(self, new_dim: str, dims: Sequence[str]) -> "Dataset":
        """Merge ``dims`` (in order) into one trailing dimension
        ``new_dim`` (xarray ``ds.stack``; positional index, row-major) —
        the flatten step for feature-matrix exports. All stacked dims
        except the first must be single-chunk so every chunk's stacked
        slab is contiguous in the flattened index space (the dask rule);
        they are rechunked automatically when not. The payload rewrite is
        narrow; offsets map exactly: ``off_z = off_first * prod(tail)``."""
        dims = list(dims)
        if len(dims) < 2:
            raise ValueError("stack needs >= 2 dims")
        for d in dims:
            if d not in self.sizes:
                raise KeyError(f"no dimension {d!r}")
        if new_dim in self.sizes:
            raise ValueError(f"dimension {new_dim!r} already exists")
        base = self.consolidate_variables() if self.split_vars else self
        need = {d: -1 for d in dims[1:] if base.chunks[d] != base.sizes[d]}
        if need:
            # merge with the CURRENT chunks: rechunk()/normalize_chunks
            # treat absent dims as one whole-dim chunk, so a partial
            # mapping would silently consolidate the first stacked dim
            # and every non-stacked dim into single chunks (OOM at scale)
            base = base.rechunk({**base.chunks, **need})
        dset = set(dims)
        tmpl = base.template
        for v, (dims_v, _) in tmpl.var_meta.items():
            if not dset <= set(dims_v):
                raise ValueError(f"variable {v!r} lacks stacked dims {dims}")
        tail = _prod([base.sizes[d] for d in dims[1:]])
        z_size = base.sizes[dims[0]] * tail
        z_chunk = base.chunks[dims[0]] * tail
        out_vm = {}
        for v, (dims_v, dt) in tmpl.var_meta.items():
            others_v = tuple(d for d in dims_v if d not in dset)
            out_vm[v] = (others_v + (new_dim,), dt)
        # MultiIndex-style product coords (xarray ``stack`` keeps each
        # stacked dim's index coordinate as a (new_dim,)-shaped coord with
        # its values expanded over the C-order product) — the positional
        # inverse that lets ``unstack`` restore labels exactly.
        stacked_coords: dict[str, Variable] = {}
        for j, d in enumerate(dims):
            c = tmpl.coords.get(d)
            if c is None or c.dims != (d,):
                continue
            reps_inner = _prod([base.sizes[d2] for d2 in dims[j + 1 :]])
            reps_outer = _prod([base.sizes[d2] for d2 in dims[:j]])
            stacked_coords[d] = Variable(
                (new_dim,), np.tile(np.repeat(c.values, reps_inner), reps_outer)
            )
        out_tmpl = Template(
            sizes={
                **{d: s for d, s in base.sizes.items() if d not in dset},
                new_dim: z_size,
            },
            var_meta=out_vm,
            coords={
                **{k: c for k, c in tmpl.coords.items() if not (set(c.dims) & dset)},
                **stacked_coords,
            },
            attrs=tmpl.attrs,
        )
        out_chunks = {
            **{d: base.chunks[d] for d in base.dims if d not in dset},
            new_dim: z_chunk,
        }
        out_dims = sorted(out_tmpl.sizes)
        d0 = dims[0]

        def step(key, ds: NDDataset) -> Iterator[ChunkPair]:
            offs, kvars = key
            out_vars: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                others_v = [d for d in var.dims if d not in dset]
                perm = others_v + dims
                arr = np.transpose(var.values, [var.dims.index(d) for d in perm])
                out_vars[v] = Variable(
                    tuple(others_v) + (new_dim,),
                    arr.reshape(arr.shape[: len(others_v)] + (-1,)),
                )
            coords = {k: c for k, c in ds.coords.items() if not (set(c.dims) & dset)}
            # per-chunk slab of the product coords: d0's local values
            # expand over the full tail, tail dims tile over the local d0
            # length
            for j, d in enumerate(dims):
                c = ds.coords.get(d)
                if c is None or c.dims != (d,):
                    continue
                reps_inner = _prod([ds.sizes[d2] for d2 in dims[j + 1 :]])
                reps_outer = _prod([ds.sizes[d2] for d2 in dims[:j]])
                coords[d] = Variable(
                    (new_dim,), np.tile(np.repeat(c.values, reps_inner), reps_outer)
                )
            new_offs = {d: offs[d] for d in out_dims if d != new_dim}
            new_offs[new_dim] = offs[d0] * tail
            yield (new_offs, kvars), NDDataset(out_vars, coords, ds.attrs)

        return base._then(step, out_tmpl, out_chunks)

    def unstack(
        self, dim: str, sizes: Mapping[str, int], coords: Mapping[str, np.ndarray] | None = None
    ) -> "Dataset":
        """Split ``dim`` back into the ordered ``sizes`` dims (inverse of
        :meth:`stack`; row-major). The chunk along ``dim`` must cover whole
        rows of the trailing dims — rechunked automatically to a multiple
        when not. ``coords`` optionally restores per-dim coordinates."""
        if dim not in self.sizes:
            raise KeyError(f"no dimension {dim!r}")
        new_names = list(sizes)
        if len(new_names) < 2:
            raise ValueError("unstack needs >= 2 target dims")
        tail = _prod([sizes[d] for d in new_names[1:]])
        total = _prod(list(sizes.values()))
        if total != self.sizes[dim]:
            raise ValueError(
                f"sizes product {total} != size of {dim!r} ({self.sizes[dim]})"
            )
        base = self.consolidate_variables() if self.split_vars else self
        if base.chunks[dim] % tail != 0:
            mult = max(1, base.chunks[dim] // tail) * tail
            # merge with the CURRENT chunks — a bare {dim: mult} would
            # rechunk every OTHER dim to one whole-dim chunk (see stack)
            base = base.rechunk({**base.chunks, dim: int(mult)})
        tmpl = base.template
        for v, (dims_v, _) in tmpl.var_meta.items():
            if dim not in dims_v:
                raise ValueError(f"variable {v!r} lacks dim {dim!r}")
        coord_vars = {
            d: Variable((d,), np.asarray(vals)) for d, vals in (coords or {}).items()
        }
        out_vm = {
            v: (
                tuple(d for d in dims_v if d != dim) + tuple(new_names),
                dt,
            )
            for v, (dims_v, dt) in tmpl.var_meta.items()
        }
        out_tmpl = Template(
            sizes={
                **{d: s for d, s in base.sizes.items() if d != dim},
                **{d: int(s) for d, s in sizes.items()},
            },
            var_meta=out_vm,
            coords={
                **{k: c for k, c in tmpl.coords.items() if dim not in c.dims},
                **coord_vars,
            },
            attrs=tmpl.attrs,
        )
        out_chunks = {
            **{d: base.chunks[d] for d in base.dims if d != dim},
            new_names[0]: base.chunks[dim] // tail,
            **{d: int(sizes[d]) for d in new_names[1:]},
        }
        out_dims = sorted(out_tmpl.sizes)
        tail_shape = tuple(int(sizes[d]) for d in new_names[1:])
        bc_coords = self.spark.sparkContext.broadcast(
            {d: np.asarray(vals) for d, vals in (coords or {}).items()}
        )

        def step(key, ds: NDDataset) -> Iterator[ChunkPair]:
            offs, kvars = key
            cvals = bc_coords.value
            out_vars: dict[str, Variable] = {}
            k_rows = ds.sizes[dim] // tail
            for v, var in ds.data_vars.items():
                ax = var.dims.index(dim)
                others_v = [d for d in var.dims if d != dim]
                arr = np.moveaxis(var.values, ax, -1)
                arr = arr.reshape(arr.shape[:-1] + (k_rows,) + tail_shape)
                out_vars[v] = Variable(tuple(others_v) + tuple(new_names), arr)
            off0 = offs[dim] // tail
            coords_out = {k2: c for k2, c in ds.coords.items() if dim not in c.dims}
            for i, d in enumerate(new_names):
                if d in cvals:
                    vals = cvals[d][off0 : off0 + k_rows] if i == 0 else cvals[d]
                    coords_out[d] = Variable((d,), vals)
            new_offs = {d: offs[d] for d in out_dims if d not in sizes}
            new_offs[new_names[0]] = off0
            new_offs.update({d: 0 for d in new_names[1:]})
            yield (new_offs, kvars), NDDataset(out_vars, coords_out, ds.attrs)

        return base._then(step, out_tmpl, out_chunks)

    def fillna(self, value: float) -> "Dataset":
        """Replace NaN holes with ``value`` (xarray ``Dataset.fillna`` with
        a scalar): embarrassingly parallel map_blocks, no shuffle."""
        return self.map_blocks(
            lambda ds: ds.fillna(value), template=self.template, chunks=self.chunks
        )

    def drop_vars(self, names: str | Sequence[str]) -> "Dataset":
        """Drop variables (xarray ``drop_vars``) — complement of
        ``__getitem__``'s projection, same pushdown paths."""
        drop = {names} if isinstance(names, str) else set(names)
        keep = [v for v in self.template.var_names if v not in drop]
        missing = drop - set(self.template.var_names)
        if missing:
            raise KeyError(f"no variables {sorted(missing)}")
        return self[keep]

    def rename(self, mapping: Mapping[str, str]) -> "Dataset":
        """Rename variables (xarray ``rename`` for data_vars). Pure
        metadata on the template plus a narrow per-chunk relabel — chunk
        grid, offsets, and payload buffers are untouched."""
        for old in mapping:
            if old not in self.template.var_meta:
                raise KeyError(f"no variable {old!r}")
        if self.split_vars:
            raise NotImplementedError("rename on split_vars datasets: consolidate first")

        def relabel(ds: NDDataset) -> NDDataset:
            out = {mapping.get(v, v): var for v, var in ds.data_vars.items()}
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        tmpl = self.template
        new_meta = {mapping.get(v, v): m for v, m in tmpl.var_meta.items()}
        if len(new_meta) != len(tmpl.var_meta):
            raise ValueError("rename collides variable names")
        out_tmpl = Template(
            sizes=dict(tmpl.sizes), var_meta=new_meta, coords=dict(tmpl.coords), attrs=tmpl.attrs
        )
        return self.map_blocks(relabel, template=out_tmpl, chunks=self.chunks)

    def astype(self, dtype) -> "Dataset":
        """Cast every variable (xarray ``astype``) — narrow map_blocks."""
        dt = np.dtype(dtype)
        tmpl = self.template
        out_tmpl = Template(
            sizes=dict(tmpl.sizes),
            var_meta={v: (dims_v, dt.str) for v, (dims_v, _) in tmpl.var_meta.items()},
            coords=dict(tmpl.coords),
            attrs=tmpl.attrs,
        )
        return self.map_blocks(
            lambda ds: ds.map(lambda a: a.astype(dt)), template=out_tmpl, chunks=self.chunks
        )

    def assign_attrs(self, **attrs) -> "Dataset":
        """Attach dataset attrs (xarray ``assign_attrs``) — driver-side
        template metadata only; no job runs."""
        tmpl = self.template
        out_tmpl = Template(
            sizes=dict(tmpl.sizes),
            var_meta=dict(tmpl.var_meta),
            coords=dict(tmpl.coords),
            attrs={**tmpl.attrs, **attrs},
        )
        return self._then(None, out_tmpl, dict(self.chunks))

    def weighted_mean(self, dim: str, weights: np.ndarray) -> "Dataset":
        """Weighted mean over ``dim`` (xarray ``ds.weighted(w).mean(dim)``):
        ``Σ wᵢxᵢ / Σ wᵢ`` over non-NaN cells.

        ``weights`` is a 1-D array aligned with the template coordinate of
        ``dim``. Shape: one narrow map_blocks multiplies values and the
        NaN-mask by the per-position weight (weights located by coordinate
        lookup, so any chunking works), then the standard pre-aggregated
        ``sum`` reduction (tree-merged at high fan-in) and a final narrow
        divide — the same single shuffle as an unweighted mean.
        """
        if dim not in self.template.coords:
            raise KeyError(f"weighted_mean needs a coordinate for {dim!r}")
        coord_vals = np.asarray(self.template.coords[dim].values)
        if len(coord_vals) > 1 and not np.all(coord_vals[:-1] <= coord_vals[1:]):
            raise ValueError(f"coordinate {dim!r} must be sorted for weight lookup")
        w_full = np.asarray(weights, dtype=np.float64)
        if w_full.shape != (self.sizes[dim],):
            raise ValueError(
                f"weights shape {w_full.shape} != ({self.sizes[dim]},) for dim {dim!r}"
            )
        var_names = list(self.template.var_names)
        for v, (dims_v, _) in self.template.var_meta.items():
            if dim not in dims_v:
                raise ValueError(f"variable {v!r} has no dim {dim!r}")

        def apply_w(ds: NDDataset) -> NDDataset:
            pos = np.searchsorted(coord_vals, np.asarray(ds.coords[dim].values))
            w = w_full[pos]
            out: dict[str, Variable] = {}
            for v in var_names:
                var = ds.data_vars[v]
                ax = var.dims.index(dim)
                shape = [1] * var.values.ndim
                shape[ax] = len(w)
                wb = w.reshape(shape)
                vals = np.asarray(var.values, dtype=np.float64)
                mask = ~np.isnan(vals)
                out[f"{v}__wsum"] = Variable(var.dims, np.where(mask, vals * wb, np.nan))
                out[f"{v}__wden"] = Variable(
                    var.dims, np.where(mask, np.broadcast_to(wb, vals.shape), np.nan)
                )
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        summed = self.map_blocks(apply_w).sum(dim, skipna=True)

        def finalize(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v in var_names:
                num = ds.data_vars[f"{v}__wsum"]
                den = ds.data_vars[f"{v}__wden"].values
                with np.errstate(all="ignore"):
                    res = num.values / den
                out[v] = Variable(num.dims, np.where(den == 0, np.nan, res))
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return summed.map_blocks(finalize)

    def diff(self, dim: str, n: int = 1) -> "Dataset":
        """Lag difference along ``dim`` (``x[i] - x[i-n]``; the first ``n``
        positions become NaN — SQL ``LAG`` semantics, so the chunk grid is
        preserved; xarray's ``diff`` instead shortens the dim).

        Scale shape — HALO EXCHANGE, not series gathering: every chunk
        donates its trailing ``n``-wide sliver to its successor, then one
        offsets-grouped shuffle co-locates each chunk with its halo (groups
        of ≤ 2 rows). Memory per task stays one chunk + one sliver at ANY
        series length, where the rechunk-contiguous pattern (used for
        median/quantile, which truly need the whole series) would gather
        entire series into single tasks. The reference reaches this op via
        rechunk-then-map (docs pattern); the halo formulation is what
        survives a 100 TB time axis.
        """
        if n < 1:
            raise ValueError("diff requires n >= 1")

        def lag(ext: np.ndarray, axis: int) -> np.ndarray:
            out = np.full(ext.shape, np.nan)
            head = [slice(None)] * ext.ndim
            head[axis] = slice(n, None)
            tail = [slice(None)] * ext.ndim
            tail[axis] = slice(None, ext.shape[axis] - n)
            out[tuple(head)] = ext[tuple(head)] - ext[tuple(tail)]
            return out

        return self._left_halo_map(dim, n, lag, "diff")

    def roll(self, dim: str, n: int, roll_coords: bool = True) -> "Dataset":
        """Circular shift along ``dim`` by ``n`` positions (xarray
        ``ds.roll``): ``out[i] = x[(i - n) mod size]``. With
        ``roll_coords=True`` (xarray's historical default) the dim's
        coordinates roll with the data; with ``False`` data moves under
        fixed coordinates (the phase-shift use case).

        Same rechunk-contiguous shape as :meth:`ffill`/:meth:`rank` — one
        shuffle (elided when the dim is already whole), then a narrow
        ``np.roll`` per chunk; other dims stay chunked, so per-task memory
        is one series-slab, the same envelope as median/quantile. The
        result leaves ``dim`` single-chunk; rechunk after if a finer grid
        is needed."""
        size = self.sizes[dim]
        if size == 0:
            return self
        k = int(n) % size
        if k == 0:
            return self
        base = self.consolidate_variables() if self.split_vars else self
        r = base._gather_dim(dim)
        tmpl = r.template

        def _roll_coord(c: Variable) -> Variable:
            ax = c.dims.index(dim)
            return Variable(c.dims, np.roll(c.values, k, axis=ax))

        out_coords = {
            name: (_roll_coord(c) if roll_coords and dim in c.dims else c)
            for name, c in tmpl.coords.items()
        }
        out_tmpl = Template(
            sizes=dict(tmpl.sizes),
            var_meta=dict(tmpl.var_meta),
            coords=out_coords,
            attrs=tmpl.attrs,
        )

        def roll_block(ds: NDDataset) -> NDDataset:
            out_vars = {
                v: (
                    Variable(var.dims, np.roll(var.values, k, axis=var.dims.index(dim)))
                    if dim in var.dims
                    else var
                )
                for v, var in ds.data_vars.items()
            }
            coords = {
                name: (
                    Variable(c.dims, np.roll(c.values, k, axis=c.dims.index(dim)))
                    if roll_coords and dim in c.dims
                    else c
                )
                for name, c in ds.coords.items()
            }
            return NDDataset(out_vars, coords, dict(ds.attrs))

        return r.map_blocks(roll_block, template=out_tmpl, chunks=dict(r.chunks))

    def take(self, dim: str, indices) -> "Dataset":
        """Fancy positional selection along one dim (xarray ``isel`` with
        an integer array — outer indexing): arbitrary order, repeats
        allowed, result length = ``len(indices)``.

        Plan: the same rechunk-contiguous shape as :meth:`sortby` — one
        shuffle makes ``dim`` whole per chunk, then the gather is a
        narrow ``np.take`` per block and the result is re-chunked to the
        selection length. Driver holds only the (metadata-sized) index
        array. For a contiguous ascending selection use :meth:`isel`,
        which prunes chunks instead of shuffling."""
        positions = np.asarray(indices, dtype=np.int64)
        if positions.ndim != 1 or positions.size == 0:
            raise ValueError(
                f"take needs a non-empty 1-D integer sequence, got {indices!r}"
            )
        size = self.sizes.get(dim)
        if size is None:
            raise KeyError(f"no dimension {dim!r}")
        if positions.min() < 0 or positions.max() >= size:
            raise IndexError(
                f"take indices for {dim!r} out of range [0, {size}): "
                f"[{positions.min()}, {positions.max()}]"
            )
        base = self.consolidate_variables() if self.split_vars else self
        r = base._gather_dim(dim)
        tmpl = r.template
        n_new = int(positions.size)

        def _take_arr(c: Variable) -> Variable:
            ax = c.dims.index(dim)
            return Variable(c.dims, np.take(c.values, positions, axis=ax))

        out_tmpl = Template(
            sizes={**dict(tmpl.sizes), dim: n_new},
            var_meta=dict(tmpl.var_meta),
            coords={
                name: (_take_arr(c) if dim in c.dims else c)
                for name, c in tmpl.coords.items()
            },
            attrs=tmpl.attrs,
        )
        new_chunks = {**dict(r.chunks), dim: n_new}

        def take_block(ds: NDDataset) -> NDDataset:
            out_vars = {
                v: (_take_arr(var) if dim in var.dims else var)
                for v, var in ds.data_vars.items()
            }
            coords = {
                name: (_take_arr(c) if dim in c.dims else c)
                for name, c in ds.coords.items()
            }
            return NDDataset(out_vars, coords, dict(ds.attrs))

        return r.map_blocks(take_block, template=out_tmpl, chunks=new_chunks)

    def thin(self, indexers: Mapping[str, int] | None = None, **kw: int) -> "Dataset":
        """Every ``step``-th element along each given dim (xarray
        ``Dataset.thin``) — the quick-look downsample. Rides
        :meth:`take`'s gather (one shuffle per thinned dim); for
        block-aggregate downsampling use :meth:`coarsen` instead."""
        idx = {**(indexers or {}), **kw}
        out = self
        for d, step in idx.items():
            if not isinstance(step, int) or step <= 0:
                raise ValueError(f"thin step for {d!r} must be a positive int, got {step!r}")
            size = out.sizes.get(d)
            if size is None:
                raise KeyError(f"no dimension {d!r}")
            if step > 1:
                out = out.take(d, np.arange(0, size, step))
        return out

    def sortby(self, dim: str, ascending: bool = True) -> "Dataset":
        """Reorder ``dim`` so its coordinate is sorted (xarray
        ``ds.sortby``) — the fix-up after a :func:`concat` of
        out-of-order parts or an unordered ingest. The permutation is a
        stable argsort of the (driver-side, metadata-sized) coordinate,
        broadcast into a narrow ``np.take`` per chunk after the same
        rechunk-contiguous shuffle as :meth:`roll`/:meth:`rank` — one
        Exchange, elided when the dim is already whole and a no-op when
        the coordinate is already sorted."""
        coord = self.template.coords.get(dim)
        if coord is None:
            raise ValueError(f"sortby needs a coordinate on {dim!r}")
        vals = np.asarray(coord.values)
        if vals.ndim != 1:
            raise ValueError(f"sortby needs a 1-D coordinate on {dim!r}")
        perm = np.argsort(vals, kind="stable")
        if not ascending:
            perm = perm[::-1].copy()
        if (perm == np.arange(len(perm))).all():
            return self
        base = self.consolidate_variables() if self.split_vars else self
        r = base._gather_dim(dim)
        tmpl = r.template

        def _take(c: Variable) -> Variable:
            ax = c.dims.index(dim)
            return Variable(c.dims, np.take(c.values, perm, axis=ax))

        out_coords = {
            name: (_take(c) if dim in c.dims else c)
            for name, c in tmpl.coords.items()
        }
        out_tmpl = Template(
            sizes=dict(tmpl.sizes),
            var_meta=dict(tmpl.var_meta),
            coords=out_coords,
            attrs=tmpl.attrs,
        )

        def sort_block(ds: NDDataset) -> NDDataset:
            out_vars = {
                v: (
                    Variable(var.dims, np.take(var.values, perm, axis=var.dims.index(dim)))
                    if dim in var.dims
                    else var
                )
                for v, var in ds.data_vars.items()
            }
            coords = {
                name: (
                    Variable(c.dims, np.take(c.values, perm, axis=c.dims.index(dim)))
                    if dim in c.dims
                    else c
                )
                for name, c in ds.coords.items()
            }
            return NDDataset(out_vars, coords, dict(ds.attrs))

        return r.map_blocks(sort_block, template=out_tmpl, chunks=dict(r.chunks))

    def shift(self, dim: str, n: int = 1) -> "Dataset":
        """Shift values along ``dim`` by ``n`` (``out[i] = x[i-n]`` —
        xarray ``Dataset.shift`` semantics: NaN head for positive ``n``,
        NaN tail for negative). Positive shifts ride the same cheap
        left-halo exchange as :meth:`diff`; negative shifts fall back to
        the rechunk-contiguous shape (:meth:`roll`'s one-shuffle
        envelope), since the halo machinery is leading-edge only."""
        if n == 0:
            return self
        if n < 0:
            k = -n
            base = self.consolidate_variables() if self.split_vars else self
            r = base._gather_dim(dim)

            def lead_block(ds: NDDataset) -> NDDataset:
                out_vars = {}
                for v, var in ds.data_vars.items():
                    if dim not in var.dims:
                        out_vars[v] = var
                        continue
                    ax = var.dims.index(dim)
                    out = np.full(var.values.shape, np.nan)
                    m = var.values.shape[ax]
                    if k < m:
                        head = [slice(None)] * out.ndim
                        head[ax] = slice(None, m - k)
                        tail = [slice(None)] * out.ndim
                        tail[ax] = slice(k, None)
                        out[tuple(head)] = var.values[tuple(tail)]
                    out_vars[v] = Variable(var.dims, out)
                return NDDataset(out_vars, dict(ds.coords), dict(ds.attrs))

            float_meta = {
                v: (dims, "<f8" if dim in dims else dt)
                for v, (dims, dt) in r.template.var_meta.items()
            }
            out_tmpl = Template(
                sizes=dict(r.template.sizes),
                var_meta=float_meta,
                coords=dict(r.template.coords),
                attrs=r.template.attrs,
            )
            return r.map_blocks(lead_block, template=out_tmpl, chunks=dict(r.chunks))

        def kernel(ext: np.ndarray, axis: int) -> np.ndarray:
            out = np.full(ext.shape, np.nan)
            head = [slice(None)] * ext.ndim
            head[axis] = slice(n, None)
            tail = [slice(None)] * ext.ndim
            tail[axis] = slice(None, ext.shape[axis] - n)
            out[tuple(head)] = ext[tuple(tail)]
            return out

        return self._left_halo_map(dim, n, kernel, "shift")

    def rolling_reduce(self, dim: str, window: int, op: str = "mean") -> "Dataset":
        """Trailing rolling-window reduction along ``dim`` (window ``[i -
        window + 1, i]``, partial at the head, NaN cells skipped — SQL
        ``AGG(...) OVER (ORDER BY dim ROWS window-1 PRECEDING)`` semantics
        with NULLs ignored; all-missing windows stay NaN).

        Same halo-exchange plan as :meth:`diff` with a ``window - 1`` halo:
        bounded per-task memory at any series length.
        """
        if op not in ("mean", "sum", "min", "max"):
            raise ValueError(f"unsupported rolling op {op!r}")
        if window < 1:
            raise ValueError("rolling_reduce requires window >= 1")

        def kernel(ext: np.ndarray, axis: int) -> np.ndarray:
            # NaN-pad so every output position sees a full-width view (the
            # pad covers the global head; interior halos arrive real).
            fill_shape = list(ext.shape)
            fill_shape[axis] = window - 1
            padded = np.concatenate(
                [np.full(fill_shape, np.nan), ext], axis=axis
            )
            sw = np.lib.stride_tricks.sliding_window_view(padded, window, axis=axis)
            with np.errstate(all="ignore"):
                cnt = (~np.isnan(sw)).sum(axis=-1)
                if op == "mean":
                    out = np.nansum(sw, axis=-1) / np.where(cnt == 0, np.nan, cnt)
                elif op == "sum":
                    out = np.where(cnt == 0, np.nan, np.nansum(sw, axis=-1))
                else:
                    with warnings.catch_warnings():
                        warnings.simplefilter("ignore")
                        out = (np.nanmin if op == "min" else np.nanmax)(sw, axis=-1)
            return out

        return self._left_halo_map(dim, window - 1, kernel, f"rolling_{op}")

    def _left_halo_map(
        self,
        dim: str,
        halo: int,
        kernel: Callable[[np.ndarray, int], np.ndarray],
        op_name: str,
    ) -> "Dataset":
        """Shared halo-exchange plumbing for window ops along ``dim``.

        ``kernel(ext, axis) -> ext-shaped float64`` runs on each chunk's
        values EXTENDED by its predecessor's ``halo``-wide sliver (absent
        for the first chunk); the pad positions are sliced off afterwards,
        so the kernel sees global context but the grid is preserved.
        """
        if self.split_vars:
            return self.consolidate_variables()._left_halo_map(dim, halo, kernel, op_name)
        sizes = self.sizes
        if dim not in sizes:
            raise ValueError(f"no dimension {dim!r} in {sorted(sizes)}")
        if halo > self.chunks[dim] and self.chunks[dim] < sizes[dim]:
            # halo wider than a chunk: make dim contiguous first
            return self._gather_dim(dim)._left_halo_map(
                dim, halo, kernel, op_name
            )
        dims = self.dims
        chunk_d = self.chunks[dim]
        schema = chunk_row_schema(dims)
        halo_schema = T.StructType(
            list(schema.fields) + [T.StructField("__halo", T.LongType(), False)]
        )
        size_d = sizes[dim]
        halo_sink = _encode_sink(dims, extra=("__halo", lambda key: key[2]))

        def emit(pairs: Iterable[ChunkPair]) -> Iterator["pa.RecordBatch"]:
            # each chunk, plus its trailing sliver keyed as the halo of
            # the next chunk along dim
            rows = []
            for (offs, kvars), ds in pairs:
                rows.append(((offs, kvars, 0), ds))
                off = offs[dim]
                if halo > 0 and off + chunk_d < size_d:
                    sliver = ds.isel({dim: slice(-halo, None)})
                    rows.append((({**offs, dim: off + chunk_d}, kvars, 1), sliver))
            return halo_sink(rows)

        def assemble(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            main = sliver = None
            halos = tbl.column("__halo").to_pylist()
            for is_halo, ds in zip(halos, _decode_payloads(tbl.column("payload"))):
                if is_halo:
                    sliver = ds
                else:
                    main = ds
            if main is None:
                raise ValueError(f"{op_name} group {key} has a halo but no chunk")
            out_vars: dict[str, Variable] = {}
            for v, var in main.data_vars.items():
                if dim not in var.dims:
                    out_vars[v] = var
                    continue
                axis = var.dims.index(dim)
                arr = var.values.astype(np.float64, copy=False)
                if sliver is not None:
                    ext = np.concatenate([sliver.data_vars[v].values, arr], axis=axis)
                    pad = sliver.sizes[dim]
                else:
                    ext, pad = arr, 0
                res = kernel(ext, axis)
                if pad:
                    keep = [slice(None)] * res.ndim
                    keep[axis] = slice(pad, None)
                    res = res[tuple(keep)]
                out_vars[v] = Variable(var.dims, res)
            offs = _key_offsets(dims, key[1:])
            yield (offs, key[0].as_py()), NDDataset(out_vars, dict(main.coords), dict(main.attrs))

        with_halo = self._run(emit, halo_schema)
        offc = [off_col(d) for d in dims]
        src = _Source(with_halo, assemble, ("vars", *offc))
        var_meta = {
            v: (vd, np.dtype(np.float64).str if dim in vd else dt)
            for v, (vd, dt) in self.template.var_meta.items()
        }
        tmpl = Template(
            sizes=dict(self.template.sizes),
            var_meta=var_meta,
            coords=dict(self.template.coords),
            attrs=dict(self.template.attrs),
        )
        return Dataset(self.spark, src, tmpl, self.chunks, self.split_vars)

    def merge(self, other: "Dataset") -> "Dataset":
        """Variable union with another Dataset on the same grid — xarray
        ``xr.merge([a, b])`` for grid-identical inputs, and the natural
        follow-up to the reference's multi-store co-read (``core.py:
        419-460``: read two stores, work on both variable sets). One
        chunk-grid equi-join (via :meth:`zip_map`); conflicting variable
        names raise instead of silently preferring a side."""
        dup = sorted(set(self.template.var_meta) & set(other.template.var_meta))
        if dup:
            raise ValueError(
                f"merge conflict: variables {dup} exist in both datasets "
                "(rename one side first)"
            )
        return self.zip_map(other, lambda a, b: NDDataset.merge([a, b]))

    def zip_map(
        self,
        other: "Dataset",
        func: Callable[[NDDataset, NDDataset], NDDataset],
        template: Template | None = None,
    ) -> "Dataset":
        """Pairwise combine with another Dataset on the same chunk grid —
        the reference's multi-dataset co-read (``DatasetToChunks([ds1,
        ds2])`` zip-join by grid position, ``core.py:419-460``), expressed
        as a chunk-grid equi-join on the offset columns + per-pair
        ``func(chunk_a, chunk_b)``.

        Catalyst picks broadcast vs sort-merge for the offset join; at
        equal chunking no data moves beyond the join shuffle (and
        co-partitioned inputs reuse their exchange under AQE).
        """
        if self.split_vars or other.split_vars:
            return self.consolidate_variables().zip_map(
                other.consolidate_variables(), func, template
            )
        if self.sizes != other.sizes or self.chunks != other.chunks:
            raise ValueError(
                f"zip_map requires identical grids: {self.sizes}/{self.chunks} "
                f"vs {other.sizes}/{other.chunks} (rechunk first)"
            )
        if template is None:
            da = _dummy_chunk(self.template, self.chunks)
            db = _dummy_chunk(other.template, other.chunks)
            out_dummy = func(da, db)
            template, _ = _infer_result_meta(self.template, self.chunks, da, out_dummy)
        dims = self.dims
        offc = [off_col(d) for d in dims]
        a = self.df.select(*offc, F.col("payload").alias("__pa"))
        b = other.df.select(*offc, F.col("payload").alias("__pb"))
        joined = a.join(b, on=offc, how="inner")

        def combine(batch: "pa.RecordBatch") -> Iterator[ChunkPair]:
            offs = [batch.column(c).to_numpy() for c in offc]
            sides = zip(_decode_payloads(batch.column("__pa")), _decode_payloads(batch.column("__pb")))
            for i, (a, b) in enumerate(sides):
                yield ({d: int(o[i]) for d, o in zip(dims, offs)}, None), func(a, b)

        return Dataset(self.spark, _Source(joined, combine), template, self.chunks, False)

    # -- split / consolidate (reference rechunk.py) ------------------------

    def split_variables(self) -> "Dataset":
        """One chunk row per data variable (reference ``rechunk.py:457-489``).
        Narrow: a step of the fused chain."""
        if self.split_vars:
            return self
        var_names = self.template.var_names

        def split(key, ds: NDDataset) -> Iterator[ChunkPair]:
            for v in var_names:
                yield (key[0], v), ds[[v]]

        return self._then(split, self.template, self.chunks, True)

    def consolidate_variables(self) -> "Dataset":
        """Merge var-split rows at identical offsets (reference
        ``rechunk.py:200-238``): groupBy offsets + NDDataset.merge."""
        if not self.split_vars:
            return self
        dims = self.dims

        def merge(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            parts = list(_decode_payloads(tbl.column("payload")))
            yield (_key_offsets(dims, key), None), NDDataset.merge(parts)

        group_by = tuple(off_col(d) for d in dims)
        src = _Source(self.df, merge, group_by)
        return Dataset(self.spark, src, self.template, self.chunks, False)

    def split_chunks(self, target_chunks: Mapping[str, int]) -> "Dataset":
        """Narrow split of each chunk to align to ``target_chunks``'s grid
        (reference ``rechunk.py:400-454``). No shuffle.

        An explicit numeric target splits at THAT grid's boundaries (even
        a coarser one adds cuts where current chunks straddle its cells —
        the rechunk-stage contract: rows tile the target cells, metadata
        is the target grid). A dim given as ``-1`` or absent keeps its
        CURRENT chunking untouched, rows AND metadata (the reference's
        "keep whole" convention; defaulting those dims to the full dim
        size would claim a coarser grid than the rows have and corrupt
        grid-keyed collect/consolidation downstream)."""
        sizes = self.sizes
        cur = self.chunks
        spec = dict(target_chunks) if isinstance(target_chunks, Mapping) else target_chunks
        if isinstance(spec, Mapping):
            # keep-current dims (None or -1, explicit or via ...) are
            # stripped BEFORE the joint normalize — normalize_chunks
            # rejects None, and -1 would resolve to the full dim size
            numeric = {k: v for k, v in spec.items() if v not in (None, -1)}
            tgt = dict(core.normalize_chunks(numeric, sizes))
            default = spec.get(..., None)  # absent dims keep current
            for d in sizes:
                if spec.get(d, default) in (None, -1):
                    tgt[d] = int(cur.get(d, sizes[d]))
        elif spec in (None, -1):  # scalar: split nothing
            tgt = {d: int(cur.get(d, sizes[d])) for d in sizes}
        else:
            tgt = dict(core.normalize_chunks(spec, sizes))
        target = {d: tgt[d] for d in self.dims}
        from xarray_beam_spark.observability import get_counters

        acc_pieces = get_counters(self.spark).acc("split.pieces")

        def step(key, ds: NDDataset) -> Iterator[ChunkPair]:
            for offs, sub in _split_pieces(key[0], ds, target):
                acc_pieces.add(1)
                yield (offs, key[1]), sub

        return self._then(step, self.template, tgt)

    def consolidate_fully(self) -> "Dataset":
        """Merge + concat everything into one chunk (reference
        ``consolidate_fully``, ``rechunk.py:241-289``): one group, one
        shuffle. Use only when the whole dataset fits one task."""
        out = self.consolidate_variables() if self.split_vars else self
        return out.consolidate_chunks({d: s for d, s in out.sizes.items()})

    def consolidate_chunks(self, target_chunks: Mapping[str, int]) -> "Dataset":
        """Shuffle sub-chunks to their target grid cell and assemble
        (reference ``rechunk.py:85-197,309-336``): groupBy rounded offsets
        + applyInArrow block assembly. This is the engine's one wide op.

        Arrow-native on purpose: chunk rows are few but payloads are tens
        of MB, and a pandas grouped map would copy every payload twice
        more (Arrow → pandas object cells, pandas → Arrow on return). Here
        the payloads are decoded zero-copy straight from the Arrow value
        buffers (:func:`_decode_payloads`). The assemble is the source of
        a new fused chain: later steps and the sink (a Zarr write, say)
        run in the same grouped pass."""
        sizes = self.sizes
        tgt = core.normalize_chunks(target_chunks, sizes)
        dims = self.dims
        from xarray_beam_spark.observability import get_counters

        acc_groups = get_counters(self.spark).acc("consolidate.groups")

        rounded = self.df
        for d in dims:
            rounded = rounded.withColumn(
                f"__tgt_{d}", F.col(off_col(d)) - (F.col(off_col(d)) % F.lit(tgt[d]))
            )

        def assemble(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            # key = (vars, tgt offsets...) — group also by vars so
            # var-split datasets consolidate per variable.
            kvars = key[0].as_py()
            koffs = _key_offsets(dims, key[1:])
            off_arrs = {d: tbl.column(off_col(d)).to_numpy() for d in dims}
            parts: dict[tuple[int, ...], NDDataset] = {}
            for i, ds in enumerate(_decode_payloads(tbl.column("payload"))):
                ds_sizes = ds.sizes
                # index by raw relative offset; the dense remap below
                # handles any (even irregular) sub-grid
                idx = tuple(
                    (int(off_arrs[d][i]) - koffs[d]) if d in ds_sizes else 0
                    for d in dims
                )
                parts[idx] = ds
            # Re-index grid positions densely per dim; validate the grid is
            # complete before assembling (reference rechunk.py:85-163 —
            # a missing sub-chunk must fail loudly, not mis-concatenate).
            uniq = [sorted({i[k] for i in parts}) for k in range(len(dims))]
            expected = 1
            for u in uniq:
                expected *= len(u)
            if len(parts) != expected:
                raise ValueError(
                    f"consolidate group at {koffs} (vars={kvars}) is missing "
                    f"sub-chunks: got {len(parts)} of {expected} grid cells"
                )
            remap = {
                idx: tuple(uniq[k].index(idx[k]) for k in range(len(dims)))
                for idx in parts
            }
            dense = {remap[idx]: ds for idx, ds in parts.items()}
            merged = NDDataset.block(dense, dims)
            for d, got_size in merged.sizes.items():
                want = min(tgt[d], sizes[d] - koffs[d])
                if got_size != want:
                    raise ValueError(
                        f"consolidate group at {koffs} (vars={kvars}) assembled "
                        f"{got_size} elements along {d!r}, expected {want} — "
                        f"missing or overlapping sub-chunks"
                    )
            acc_groups.add(1)
            yield (koffs, kvars), merged

        group_by = ("vars", *[f"__tgt_{d}" for d in dims])
        src = _Source(rounded, assemble, group_by, fresh=True)
        return Dataset(self.spark, src, self.template, tgt, self.split_vars)

    def rechunk(
        self,
        target_chunks: Mapping[str, int],
        max_mem: int = rechunk_plan.DEFAULT_MAX_MEM,
        min_mem: int | None = None,
    ) -> "Dataset":
        """Multistage rechunk (reference ``rechunk.py:520-605`` +
        ``dataset.py:968-1038``): plan stages, then per stage an optional
        narrow split and an optional shuffle consolidate, with elision when
        divisibility allows.

        ``min_mem`` (reference ``rechunk.py:562-563``): floor on
        intermediate chunk payload bytes — defaults to ``max_mem // 100``
        inside the planner, which rejects ladders passing through tinier
        chunks (IO ops stay efficient at scale)."""
        sizes = self.sizes
        tgt = core.normalize_chunks(
            target_chunks, sizes, itemsize=self.template.itemsize(self.split_vars)
        )
        if tgt == self.chunks:
            return self
        if self._scan is not None:
            # rechunk fast path (reference dataset.py:1010-1019, made
            # fully general): a pristine scan is simply re-read at the
            # target grid — zero shuffles at any chunk ratio, since the
            # read stage assembles arbitrary regions from store chunks.
            return self._scan.reread(
                self.spark, chunks=tgt, split_vars=self.split_vars
            )
        stages = rechunk_plan.plan_stages(
            sizes, self.chunks, tgt, self.template.itemsize(self.split_vars),
            max_mem, min_mem,
        )
        out = self
        for frm, to in zip(stages, stages[1:]):
            # Split at TARGET grid boundaries only (the refinement of the
            # two grids): every piece still lands in exactly one target
            # cell, but pieces stay as large as possible — splitting to
            # the uniform gcd grid would e.g. cut (30,·,·)→(1953,·,·)
            # moves into gcd=3 slivers, 10x the shuffle records for the
            # same bytes. Piece count now equals the planner's lcm region
            # model (stage_io_ops), so plan cost and execution agree.
            split_needed = rechunk_plan.needs_split(frm, to)
            consolidate_needed = rechunk_plan.needs_consolidate(frm, to)
            if split_needed:
                out = out.split_chunks(to)
            if consolidate_needed:
                out = out.consolidate_chunks(to)
            else:
                out = out._then(None, out.template, to)
        return out

    def _gather_dim(
        self, dim: str, max_mem: int = rechunk_plan.DEFAULT_MAX_MEM
    ) -> "Dataset":
        """Rechunk so ``dim`` spans ONE whole chunk while every other dim
        keeps its current chunking — the shared shuffle shape of the
        order-dependent per-series ops (cumulative / ffill / rank / roll /
        sortby / take / shift / interp / integrate / differentiate).

        Memory guard: the gathered chunk is ``sizes[dim] * prod(other
        chunk extents) * itemsize`` bytes; when that exceeds ``max_mem``
        the other dims are auto-split (largest chunk halved first) until
        every post-gather chunk fits — so a whole-dim gather along the BIG
        dim of a 100 TB grid lands as many memory-bounded series-slabs
        instead of one OOM-ing reducer. Raises with the remedy when even
        1-element chunks on every other dim cannot fit.
        """
        sizes = self.sizes
        if dim not in sizes:
            raise KeyError(f"no dimension {dim!r} in {sorted(sizes)}")
        tgt = rechunk_plan.gather_dim_chunks(
            sizes,
            self.chunks,
            dim,
            max(1, self.template.itemsize(self.split_vars)),
            max_mem,
        )
        return self.rechunk(tgt, max_mem=max_mem)

    # -- aggregations ------------------------------------------------------

    def mean(self, dim: str | Sequence[str], skipna: bool = True) -> "Dataset":
        return self._agg("mean", dim, skipna)

    def sum(self, dim: str | Sequence[str], skipna: bool = True) -> "Dataset":
        return self._agg("sum", dim, skipna)

    def min(self, dim: str | Sequence[str], skipna: bool = True) -> "Dataset":
        return self._agg("min", dim, skipna)

    def max(self, dim: str | Sequence[str], skipna: bool = True) -> "Dataset":
        return self._agg("max", dim, skipna)

    def cumulative(self, dim: str, op: str = "sum") -> "Dataset":
        """Running reduction along ``dim`` (``cumsum``-family; SQL window
        semantics: NaN cells contribute nothing and stay NaN). The dim is
        rechunked contiguous (one shuffle, elided when already whole),
        then each series scans inside its chunk — the pattern the
        reference documents for order-dependent per-series ops."""
        fns = {"sum": np.nancumsum, "prod": np.nancumprod}
        if op not in fns:
            raise ValueError(f"cumulative op must be one of {sorted(fns)}")
        scan_fn = fns[op]
        r = self._gather_dim(dim)

        def scan(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                mask = np.isnan(vals)
                run = scan_fn(vals, axis=ax)
                run[mask] = np.nan
                out[v] = Variable(var.dims, run)
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return r.map_blocks(scan)

    def differentiate(self, dim: str, datetime_unit: str | None = None) -> "Dataset":
        """Derivative along ``dim``'s coordinate with second-order central
        differences, first-order one-sided at the edges — xarray
        ``ds.differentiate(coord, edge_order=1)``, which is ``np.gradient``
        against the coordinate values. Datetime coordinates need
        ``datetime_unit`` (e.g. ``"s"``, ``"h"``), like xarray.

        Same order-dependent-series shape as :meth:`cumulative`: rechunk
        the dim contiguous (one shuffle, elided when already whole), then
        one vectorized ``np.gradient`` per series-slab; other dims stay
        chunked, so per-task memory is one slab at any grid size."""
        if dim not in self.template.coords:
            raise ValueError(f"differentiate needs a coordinate on {dim!r}")
        cvals = np.asarray(self.template.coords[dim].values)
        if cvals.dtype.kind == "M":
            if datetime_unit is None:
                raise ValueError(
                    f"{dim!r} is a datetime coordinate; pass datetime_unit "
                    "(e.g. 's') like xarray's differentiate"
                )
            cnum = (
                cvals.astype("datetime64[ns]").astype(np.int64).astype(np.float64)
                / np.timedelta64(1, datetime_unit).astype("timedelta64[ns]").astype(np.int64)
            )
        else:
            cnum = cvals.astype(np.float64)
        r = self._gather_dim(dim)

        def grad(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                if dim not in var.dims:
                    out[v] = var
                    continue
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                out[v] = Variable(var.dims, np.gradient(vals, cnum, axis=ax, edge_order=1))
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return r.map_blocks(grad)

    def integrate(self, dim: str, datetime_unit: str | None = None) -> "Dataset":
        """Trapezoidal-rule integral along ``dim``'s coordinate (xarray
        ``ds.integrate``); the dim is reduced away. NaN propagates like
        xarray/numpy — ``fillna`` first to integrate sparse grids.

        Rechunk-contiguous + one ``np.trapezoid`` per series-slab; the
        reduction is block-local after the single shuffle (trapezoids over
        adjacent sub-intervals add exactly, so a halo formulation could
        split ultra-long axes — not needed while one series-slab fits a
        task, the same envelope as median/quantile)."""
        if dim not in self.template.coords:
            raise ValueError(f"integrate needs a coordinate on {dim!r}")
        cvals = np.asarray(self.template.coords[dim].values)
        if cvals.dtype.kind == "M":
            if datetime_unit is None:
                raise ValueError(
                    f"{dim!r} is a datetime coordinate; pass datetime_unit "
                    "(e.g. 's') like xarray's integrate"
                )
            cnum = (
                cvals.astype("datetime64[ns]").astype(np.int64).astype(np.float64)
                / np.timedelta64(1, datetime_unit).astype("timedelta64[ns]").astype(np.int64)
            )
        else:
            cnum = cvals.astype(np.float64)
        r = self._gather_dim(dim)
        trapz = getattr(np, "trapezoid", None) or np.trapz

        def integ(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                if dim not in var.dims:
                    out[v] = var
                    continue
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                dims = tuple(d for d in var.dims if d != dim)
                out[v] = Variable(dims, trapz(vals, cnum, axis=ax))
            coords = {k: c for k, c in ds.coords.items() if dim not in c.dims}
            return NDDataset(out, coords, dict(ds.attrs))

        # explicit output meta: inference can't describe a result whose
        # last dim integrates away (0-d chunks)
        out_sizes = {d: s for d, s in r.sizes.items() if d != dim}
        out_meta = {
            v: (tuple(dd for dd in dims if dd != dim), "<f8" if dim in dims else dt)
            for v, (dims, dt) in r.template.var_meta.items()
        }
        out_coords = {
            k: c for k, c in r.template.coords.items() if dim not in c.dims
        }
        out_tmpl = Template(
            sizes=out_sizes, var_meta=out_meta, coords=out_coords,
            attrs=r.template.attrs,
        )
        out_chunks = {d: c for d, c in r.chunks.items() if d != dim}
        return r.map_blocks(integ, template=out_tmpl, chunks=out_chunks)

    def ffill(self, dim: str, limit: int | None = None) -> "Dataset":
        """Forward-fill NaN along ``dim`` (xarray ``ds.ffill``): each NaN
        takes the most recent non-NaN value, optionally at most ``limit``
        steps away. Same order-dependent-scan shape as :meth:`cumulative`:
        rechunk the dim contiguous (one shuffle, elided when already
        whole), then an index-propagation fill per series — no Python
        loop over elements."""
        return self._fill(dim, limit, reverse=False)

    def bfill(self, dim: str, limit: int | None = None) -> "Dataset":
        """Backward-fill NaN along ``dim`` (xarray ``ds.bfill``)."""
        return self._fill(dim, limit, reverse=True)

    def _fill(self, dim: str, limit: int | None, reverse: bool) -> "Dataset":
        if limit is not None and limit < 0:
            raise ValueError(f"limit must be >= 0, got {limit}")
        r = self._gather_dim(dim)

        def fill(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                moved = np.moveaxis(vals, ax, 0)
                if reverse:
                    moved = moved[::-1]
                shp = moved.shape
                flatv = moved.reshape(shp[0], -1)
                valid = ~np.isnan(flatv)
                # index of the most recent valid step, propagated forward
                idx = np.where(valid, np.arange(shp[0])[:, None], 0)
                np.maximum.accumulate(idx, axis=0, out=idx)
                filled = np.take_along_axis(flatv, idx, axis=0)
                # positions before the first valid step stay NaN
                seen = np.logical_or.accumulate(valid, axis=0)
                filled[~seen] = np.nan
                if limit is not None:
                    dist = np.arange(shp[0])[:, None] - idx
                    filled[(dist > limit) & ~valid] = np.nan
                filled = filled.reshape(shp)
                if reverse:
                    filled = filled[::-1]
                out[v] = Variable(var.dims, np.moveaxis(filled, 0, ax))
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return r.map_blocks(fill)

    def interpolate_na(self, dim: str) -> "Dataset":
        """Linear interpolation of interior NaN runs along ``dim``
        (xarray ``ds.interpolate_na(dim, method="linear",
        use_coordinate=False)`` — index-based distances). Leading and
        trailing NaNs stay NaN. Same rechunk-contiguous scan shape as
        :meth:`ffill`; the fill is
        ``prev + (next - prev) * ((i - pi) / (ni - pi))`` evaluated in
        float64 with exactly that expression tree, so results are
        bit-identical to any engine computing the same formula."""
        r = self._gather_dim(dim)

        def interp(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                moved = np.moveaxis(vals, ax, 0)
                shp = moved.shape
                flatv = moved.reshape(shp[0], -1).copy()
                n = shp[0]
                valid = ~np.isnan(flatv)
                steps = np.arange(n, dtype=np.int64)[:, None]
                pidx = np.where(valid, steps, -1)
                np.maximum.accumulate(pidx, axis=0, out=pidx)
                rrev = np.where(valid[::-1], steps, -1)
                np.maximum.accumulate(rrev, axis=0, out=rrev)
                nidx = (n - 1) - rrev[::-1]
                has_next = rrev[::-1] >= 0
                interior = (~valid) & (pidx >= 0) & has_next
                pv = np.take_along_axis(flatv, np.clip(pidx, 0, n - 1), axis=0)
                nv = np.take_along_axis(flatv, np.clip(nidx, 0, n - 1), axis=0)
                with np.errstate(invalid="ignore", divide="ignore"):
                    frac = (steps - pidx).astype(np.float64) / (
                        nidx - pidx
                    ).astype(np.float64)
                    fill_vals = pv + (nv - pv) * frac
                flatv[interior] = fill_vals[interior]
                out[v] = Variable(var.dims, np.moveaxis(flatv.reshape(shp), 0, ax))
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return r.map_blocks(interp)

    def interp(self, dim: str, new_coords: np.ndarray) -> "Dataset":
        """Linear interpolation onto NEW coordinate values along ``dim``
        (xarray ``ds.interp(dim=new_coords)`` — regridding). Points outside
        the source coordinate range become NaN; exact coordinate hits
        reproduce the source value bit-for-bit (weight 0).

        Requires a monotonically increasing index coordinate on ``dim``
        (numeric or datetime64). Auxiliary coordinates that depend on
        ``dim`` are dropped (they have no values at the new points).

        Plan: bracketing indices and weights are computed driver-side from
        the template coordinate (bounded metadata, like the anomaly gate's
        climatology side-input) and broadcast; the dim is rechunked
        contiguous (one shuffle, elided when already whole), then a narrow
        gather evaluates ``lo + (hi - lo) * w`` in float64 with exactly
        that expression tree — oracle-matchable like
        :meth:`interpolate_na`. Datetime/integer coordinate distances are
        differenced in int64 before the float divide, so weights stay
        exact far from the epoch."""
        if dim not in self.sizes:
            raise KeyError(f"no dimension {dim!r}")
        tmpl = self.template
        if dim not in tmpl.coords or tmpl.coords[dim].dims != (dim,):
            raise ValueError(f"interp needs a 1-D index coordinate on {dim!r}")
        old_vals = tmpl.coords[dim].values
        new_vals = np.asarray(new_coords)
        if old_vals.dtype.kind == "M" or new_vals.dtype.kind == "M":
            if old_vals.dtype.kind != "M" or new_vals.dtype.kind != "M":
                raise TypeError("datetime coordinate requires datetime new_coords")
            unit = np.datetime_data(old_vals.dtype)[0]
            x_old = old_vals.astype(f"datetime64[{unit}]").view("int64")
            x_new = new_vals.astype(f"datetime64[{unit}]").view("int64")
        elif old_vals.dtype.kind in "iu" and new_vals.dtype.kind in "iu":
            x_old = old_vals.astype(np.int64)
            x_new = new_vals.astype(np.int64)
        else:
            x_old = old_vals.astype(np.float64)
            x_new = new_vals.astype(np.float64)
        if len(x_old) < 1 or np.any(np.diff(x_old) <= 0):
            raise ValueError(f"coordinate on {dim!r} must be strictly increasing")
        n = len(x_old)
        j = np.searchsorted(x_old, x_new, side="left")
        exact = (j < n) & (x_old[np.clip(j, 0, n - 1)] == x_new)
        lo = np.clip(np.where(exact, j, j - 1), 0, n - 1)
        hi = np.clip(np.where(exact, j, j), 0, n - 1)
        oob = (x_new < x_old[0]) | (x_new > x_old[-1])
        den = x_old[hi] - x_old[lo]
        num = x_new - x_old[lo]
        with np.errstate(invalid="ignore", divide="ignore"):
            w = np.where(den == 0, 0.0, num.astype(np.float64) / den.astype(np.float64))

        base = self.consolidate_variables() if self.split_vars else self
        r = base._gather_dim(dim)
        bc = self.spark.sparkContext.broadcast(
            (lo.astype(np.int64), hi.astype(np.int64), w, oob, new_vals)
        )
        n_new = len(new_vals)

        out_vm = {
            v: (dims_v, np.dtype("float64").str)
            for v, (dims_v, _) in tmpl.var_meta.items()
            if dim in dims_v
        }
        for v, (dims_v, dt) in tmpl.var_meta.items():
            if dim not in dims_v:
                out_vm[v] = (dims_v, dt)
        out_tmpl = Template(
            sizes={**{d: s for d, s in tmpl.sizes.items() if d != dim}, dim: n_new},
            var_meta=out_vm,
            coords={
                **{k: c for k, c in tmpl.coords.items() if dim not in c.dims},
                dim: Variable((dim,), new_vals),
            },
            attrs=tmpl.attrs,
        )

        def regrid(ds: NDDataset) -> NDDataset:
            blo, bhi, bw, boob, bnew = bc.value
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                if dim not in var.dims:
                    out[v] = var
                    continue
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                a_lo = np.take(vals, blo, axis=ax)
                a_hi = np.take(vals, bhi, axis=ax)
                shape = [1] * vals.ndim
                shape[ax] = len(bw)
                wv = bw.reshape(shape)
                res = a_lo + (a_hi - a_lo) * wv
                if boob.any():
                    mask = boob.reshape(shape)
                    res = np.where(mask, np.nan, res)
                out[v] = Variable(var.dims, res)
            coords = {k: c for k, c in ds.coords.items() if dim not in c.dims}
            coords[dim] = Variable((dim,), bnew)
            return NDDataset(out, coords, dict(ds.attrs))

        out = r.map_blocks(regrid, template=out_tmpl, chunks={**{d: r.chunks[d] for d in r.dims if d != dim}, dim: n_new})
        return out

    def rank(self, dim: str, method: str = "average") -> "Dataset":
        """Rank values along ``dim`` per series (xarray ``ds.rank``).

        ``method``: ``average`` (xarray/bottleneck default), ``min``
        (SQL ``RANK()``), ``max``, or ``dense`` (SQL ``DENSE_RANK()``).
        NaN ranks as NaN and is excluded from other values' ranks, like
        pandas. Same rechunk-contiguous shape as :meth:`cumulative`;
        per-series ``sort`` + ``searchsorted`` (O(n log n)), no Python
        loop over elements — only over series within a chunk."""
        if method not in ("average", "min", "max", "dense"):
            raise ValueError(f"unknown rank method {method!r}")
        r = self._gather_dim(dim)

        def rank_block(ds: NDDataset) -> NDDataset:
            out: dict[str, Variable] = {}
            for v, var in ds.data_vars.items():
                ax = var.dims.index(dim)
                vals = np.asarray(var.values, dtype=np.float64)
                moved = np.moveaxis(vals, ax, 0)
                shp = moved.shape
                flat = moved.reshape(shp[0], -1)
                res = np.full_like(flat, np.nan)
                for j in range(flat.shape[1]):
                    col = flat[:, j]
                    ok = ~np.isnan(col)
                    if not ok.any():
                        continue
                    present = col[ok]
                    sv = np.sort(present)
                    lo = np.searchsorted(sv, present, side="left")
                    if method == "min":
                        rk = lo + 1.0
                    elif method == "max":
                        rk = np.searchsorted(sv, present, side="right").astype(
                            np.float64
                        )
                    elif method == "average":
                        hi = np.searchsorted(sv, present, side="right")
                        rk = (lo + 1.0 + hi) / 2.0
                    else:  # dense
                        uniq = np.unique(present)
                        rk = np.searchsorted(uniq, present, side="left") + 1.0
                    res[ok, j] = rk
                out[v] = Variable(var.dims, np.moveaxis(res.reshape(shp), 0, ax))
            return NDDataset(out, dict(ds.coords), dict(ds.attrs))

        return r.map_blocks(rank_block)

    def argmin(self, dim: str) -> "Dataset":
        """Global element index of the minimum along ``dim`` (xarray
        ``argmin``; first occurrence on ties, so the answer is independent
        of chunking). Same single-shuffle pre-aggregated plan as ``min`` —
        the accumulator carries (value, index) pairs. All-NaN series
        yield NaN. skipna=True semantics only."""
        if not isinstance(dim, str):
            raise TypeError("argmin reduces exactly one dim")
        return self._agg("argmin", dim, True)

    def trend(self, dim: str, skipna: bool = True) -> "Dataset":
        """OLS slope of each series over its global element index along
        ``dim`` (``xarray.polyfit(deg=1)``'s degree-1 coefficient with
        index coordinates) — e.g. the per-cell linear trend of a
        climatology. Accumulators (n, Σy, Σiy, Σi, Σi²) ride the same
        narrow pre-aggregate + tree-merge path as mean/std; NaN cells drop
        out per-cell when ``skipna``. Series with <2 present points
        finalize to NaN."""
        if not isinstance(dim, str):
            raise TypeError("trend reduces exactly one dim")
        return self._agg("trend", dim, skipna)

    def argmax(self, dim: str) -> "Dataset":
        """Global element index of the maximum along ``dim`` (see
        :meth:`argmin`)."""
        if not isinstance(dim, str):
            raise TypeError("argmax reduces exactly one dim")
        return self._agg("argmax", dim, True)

    def count(self, dim: str | Sequence[str]) -> "Dataset":
        """Number of non-NaN elements over dims (xarray ``count``)."""
        return self._agg("count", dim, skipna=True)

    def median(self, dim: str, skipna: bool = True) -> "Dataset":
        """Median over a dim — the reference's documented pattern for
        non-decomposable aggregations (``docs/aggregation.ipynb`` "custom
        aggregations"): rechunk the dim contiguous, then reduce per chunk.
        One shuffle iff the dim is currently chunked."""
        return self.reduce_contiguous(
            dim,
            lambda ds, d: ds.map(lambda a: a.astype(np.float64, copy=False)).median(
                d, skipna=skipna
            ),
        )

    def quantile(self, q: float, dim: str, skipna: bool = True) -> "Dataset":
        """Linearly-interpolated quantile over a dim (rechunk-contiguous
        pattern, see :meth:`median`)."""
        return self.reduce_contiguous(
            dim,
            lambda ds, d: ds.map(lambda a: a.astype(np.float64, copy=False)).quantile(
                q, d, skipna=skipna
            ),
        )

    def reduce_contiguous(
        self, dim: str, reducer: Callable[[NDDataset, str], NDDataset]
    ) -> "Dataset":
        """Apply a whole-dim (non-decomposable) reduction: make ``dim``
        contiguous within every chunk, then reduce it away per chunk."""
        self._reduced_dims(dim)
        work = self if self.chunks[dim] == self.sizes[dim] else self.rechunk(
            {**self.chunks, dim: -1}
        )
        tmpl = work.template
        out_tmpl = Template(
            sizes={d: s for d, s in tmpl.sizes.items() if d != dim},
            var_meta={
                v: (tuple(x for x in dims if x != dim), np.dtype("float64").str)
                for v, (dims, _) in tmpl.var_meta.items()
            },
            coords={k: c for k, c in tmpl.coords.items() if dim not in c.dims},
            attrs=tmpl.attrs,
        )
        out_chunks = {d: c for d, c in work.chunks.items() if d != dim}
        return work.map_blocks(
            lambda ds: reducer(ds, dim), template=out_tmpl, chunks=out_chunks
        )

    def std(self, dim: str | Sequence[str], skipna: bool = True, ddof: int = 0) -> "Dataset":
        return self._agg("std", dim, skipna, ddof=ddof)

    def var(self, dim: str | Sequence[str], skipna: bool = True, ddof: int = 0) -> "Dataset":
        return self._agg("var", dim, skipna, ddof=ddof)

    def corr(self, var_a: str, var_b: str, dim: str, skipna: bool = True) -> "Dataset":
        """Pearson correlation of two variables along ``dim`` per remaining
        cell (xarray ``xr.corr`` over one dim) — e.g. a teleconnection /
        co-variation map. Accumulators (n, Σx, Σy, Σxy, Σx², Σy²) ride the
        same narrow pre-aggregate + tree-merge path as mean/std; cells
        where either side is NaN drop out pairwise when ``skipna``.
        Output: one variable named ``corr``."""
        for v in (var_a, var_b):
            if v not in self.template.var_meta:
                raise KeyError(f"no variable {v!r}")
        da, db = self.template.var_meta[var_a][0], self.template.var_meta[var_b][0]
        if da != db:
            raise ValueError(f"corr vars must share dims: {da} != {db}")
        if dim not in da:
            raise KeyError(f"variables lack dim {dim!r}")
        return self._agg("corr", dim, skipna, var_pair=(var_a, var_b))

    def _reduced_dims(self, dim: str | Sequence[str]) -> list[str]:
        """The dims a reduction removes, each checked to exist."""
        red_dims = [dim] if isinstance(dim, str) else list(dim)
        for d in red_dims:
            if d not in self.sizes:
                raise KeyError(f"no dimension {d!r}")
        return red_dims

    def _agg(
        self,
        op: str,
        dim: str | Sequence[str],
        skipna: bool,
        ddof: int = 0,
        var_pair: tuple[str, str] | None = None,
    ) -> "Dataset":
        """Distributed reduction over dims: :func:`_pre_aggregate` is the
        per-chunk add step (the combiner lift, reference
        ``combiners.py:37-147``); :meth:`_tree_reduce` merges and extracts
        with the op's ``("dim", op)`` entry of ``_COMBINERS``."""
        red_dims = self._reduced_dims(dim)
        if self.split_vars:
            return self.consolidate_variables()._agg(op, red_dims, skipna, ddof, var_pair)
        vm = self.template.var_meta
        var_names = list(var_pair) if op == "corr" else self.template.var_names
        out_vars = {}
        for v, (dims_v, dt) in ({"corr": vm[var_pair[0]]} if op == "corr" else vm).items():
            if op == "count":
                dt = np.dtype("int64").str
            elif op not in ("min", "max"):
                dt = np.dtype("float64").str
            out_vars[v] = (dims_v, dt)
        return self._tree_reduce(
            red_dims,
            lambda ds, offs: _pre_aggregate(ds, var_names, red_dims, op, skipna, offs),
            _COMBINERS["dim", f"nan{op}" if skipna and op in ("min", "max") else op],
            _XArgs(op, ddof=ddof),
            out_vars,
        )

    def groupby_reduce(
        self,
        dim: str,
        by: "np.ndarray | Mapping[str, np.ndarray]",
        op: str = "mean",
        new_dim: str = "group",
        skipna: bool = True,
        q: float = 0.5,
    ) -> "Dataset":
        """Group elements along ``dim`` by a per-element key and reduce —
        the climatology pattern (reference ``examples/era5_climatology.py``:
        ``SplitChunks({'time':1}) → rekey → Mean.PerKey``).

        ``by``: array of group keys, one per element of ``dim`` (computed
        driver-side from a coordinate, e.g. month-of-timestamp). The result
        replaces ``dim`` with ``new_dim`` indexed by the sorted unique keys.

        Multi-key: pass ``by`` as a mapping ``{name: key_array, ...}`` —
        e.g. ``{"month": months, "hour": hours}`` — and ``dim`` is replaced
        by one output dimension per key (sorted unique values as coords),
        the month × hour climatology in ONE pass. Internally the keys fuse
        into a single dense composite label (``np.ravel_multi_index`` over
        the full product, so empty combinations surface as NaN/empty cells),
        the one-shuffle single-key machinery runs unchanged, and a narrow
        :meth:`unstack` splits the composite axis back out. The reference
        reaches the same result only by composing two rekey+reduce passes
        (two shuffles); this stays at one.

        Spark plan: the add step computes the full per-group partial
        accumulator per chunk in one narrow stage — vectorized
        ``np.add.at`` over the dense (group, ...) accumulator, the combiner
        lift of ``Mean.PerKey`` (``combiners.py:168-187``) — then
        :meth:`_tree_reduce` merges and extracts on the remaining offsets.
        Group count is small (months, hours, weekdays), so the dense
        accumulator is cheap and no per-element re-keying or
        SplitChunks-to-size-1 is ever materialized.
        """
        if op not in ("mean", "sum", "min", "max", "std", "var", "median", "quantile"):
            raise ValueError(f"unsupported groupby op {op!r}")
        if op == "median":
            if q != 0.5:
                raise ValueError("op='median' fixes q=0.5; use op='quantile' to set q")
            op = "quantile"
        if op == "quantile":
            q = float(q)
            if not 0.0 <= q <= 1.0:
                raise ValueError(f"q must be in [0, 1], got {q}")
        self._reduced_dims(dim)
        if self.split_vars:
            return self.consolidate_variables().groupby_reduce(
                dim, by, op, new_dim, skipna, q=q
            )
        sizes = self.sizes
        multi: tuple[list[str], list[np.ndarray], list[int]] | None = None
        if isinstance(by, Mapping):
            key_names = list(by)
            if len(key_names) == 1:
                # degenerate single-key mapping: plain path, named dim
                (kn,) = key_names
                return self.groupby_reduce(dim, np.asarray(by[kn]), op, kn, skipna, q=q)
            for kn in key_names:
                if kn in sizes and kn != dim:
                    raise ValueError(f"key dim {kn!r} already exists")
                if len(by[kn]) != sizes[dim]:
                    raise ValueError(
                        f"key {kn!r} has {len(by[kn])} entries, dim {dim!r} "
                        f"has {sizes[dim]}"
                    )
            pairs = [np.unique(np.asarray(a), return_inverse=True) for a in by.values()]
            key_uniqs = [u for u, _ in pairs]
            key_ns = [len(u) for u in key_uniqs]
            inverse = np.ravel_multi_index(
                tuple(i.astype(np.int64).ravel() for _, i in pairs), key_ns
            )
            uniq = np.arange(_prod(key_ns), dtype=np.int64)
            multi = (key_names, key_uniqs, key_ns)
            new_dim = "__xbs_comp"
        else:
            if len(by) != sizes[dim]:
                raise ValueError(f"`by` has {len(by)} entries, dim {dim!r} has {sizes[dim]}")
            uniq, inverse = np.unique(np.asarray(by), return_inverse=True)
        for v, (dims_v, _) in self.template.var_meta.items():
            if dim not in dims_v:
                raise ValueError(f"variable {v!r} lacks dim {dim!r}")
        n_groups = len(uniq)
        bc_labels = self.spark.sparkContext.broadcast(inverse.astype(np.int64))
        new_coord = Variable((new_dim,), uniq)
        var_names = self.template.var_names

        def add(ds: NDDataset, offs: dict[str, int]) -> NDDataset:
            labels = bc_labels.value[offs[dim] : offs[dim] + ds.sizes[dim]]
            acc: dict[str, Variable] = {}
            for v in var_names:
                var = ds.data_vars[v]
                af = np.moveaxis(var.values, var.dims.index(dim), 0).astype(np.float64, copy=False)
                rest = tuple(d for d in var.dims if d != dim)
                if op == "quantile":
                    # gather, not a moment accumulator: one ragged slab per
                    # group (its own dim name, so sizes may differ). Memory
                    # at the final merge = one group's full slab — the same
                    # envelope as the rechunk-contiguous median path.
                    for gi in range(n_groups):
                        acc[f"{v}__g{gi}"] = Variable((f"__q{gi}",) + rest, af[labels == gi])
                    continue
                gdims = (new_dim,) + rest
                nanm = np.isnan(af) if skipna else None
                cnt = np.zeros((n_groups,) + af.shape[1:], np.int64)
                np.add.at(
                    cnt,
                    labels,
                    (~nanm).astype(np.int64) if nanm is not None else np.ones(af.shape, np.int64),
                )
                # the contributing-element count also tells min/max "group
                # empty" (the ±inf init survives) from legitimate ±inf data
                acc[f"{v}__cnt"] = Variable(gdims, cnt)
                if op in ("min", "max"):
                    init = np.inf if op == "min" else -np.inf
                    m = np.full(cnt.shape, init, np.float64)
                    filled = np.where(nanm, init, af) if nanm is not None else af
                    (np.minimum if op == "min" else np.maximum).at(m, labels, filled)
                    acc[f"{v}__{op}"] = Variable(gdims, m)
                    continue
                filled0 = np.where(nanm, 0.0, af) if nanm is not None else af
                s = np.zeros(cnt.shape, np.float64)
                np.add.at(s, labels, filled0)
                acc[f"{v}__sum"] = Variable(gdims, s)
                if op in ("std", "var"):
                    s2 = np.zeros(cnt.shape, np.float64)
                    np.add.at(s2, labels, filled0 * filled0)
                    acc[f"{v}__ssq"] = Variable(gdims, s2)
            kept = {k: c for k, c in ds.coords.items() if dim not in c.dims}
            kept[new_dim] = new_coord
            return NDDataset(acc, kept, ds.attrs)

        out_vars = {
            v: (dims_v, dt if op in ("min", "max") else np.dtype("float64").str)
            for v, (dims_v, dt) in self.template.var_meta.items()
        }
        out = self._tree_reduce(
            [dim], add, _COMBINERS["group", op], _XArgs(op, q=q, skipna=skipna), out_vars, new_coord
        )
        if multi is not None:
            key_names, key_uniqs, key_ns = multi
            # composite axis is single-chunk and C-ordered over the full
            # key product, so the unstack is a narrow exact reshape
            out = out.unstack(
                new_dim,
                sizes=dict(zip(key_names, key_ns)),
                coords=dict(zip(key_names, key_uniqs)),
            )
        return out

    def histogram(self, dim: str, edges: np.ndarray, new_dim: str = "bin") -> "Dataset":
        """Per-cell value histogram along ``dim``: replaces ``dim`` with
        ``new_dim`` (one coordinate per bin INDEX) holding int64 counts of
        elements falling in ``[edges[i], edges[i+1])``; NaN and
        out-of-range values drop. The distribution-summary reduction
        (value-space, unlike :meth:`groupby_reduce`'s coordinate-space
        labels): the add step counts bins per chunk, and
        :meth:`_tree_reduce` sums the counts. Bin membership via
        ``searchsorted``, so any strictly increasing ``edges`` work
        (uniform or not)."""
        edges = np.asarray(edges, dtype=np.float64)
        # all(diff > 0), not any(diff <= 0): NaN edges compare False
        with np.errstate(invalid="ignore"):
            if edges.ndim != 1 or len(edges) < 2 or not np.all(np.diff(edges) > 0):
                raise ValueError("edges must be a strictly increasing 1-D array")
        self._reduced_dims(dim)
        if self.split_vars:
            return self.consolidate_variables().histogram(dim, edges, new_dim)
        n_bins = len(edges) - 1
        new_coord = Variable((new_dim,), np.arange(n_bins, dtype=np.int64))
        var_names = self.template.var_names

        def add(ds: NDDataset, offs: dict[str, int]) -> NDDataset:
            acc: dict[str, Variable] = {}
            for v in var_names:
                var = ds.data_vars[v]
                a = np.moveaxis(var.values.astype(np.float64, copy=False), var.dims.index(dim), 0)
                idx = np.searchsorted(edges, a, side="right") - 1
                ok = (~np.isnan(a)) & (idx >= 0) & (idx < n_bins)
                counts = np.zeros((n_bins,) + a.shape[1:], np.int64)
                rest_ix = np.indices(a.shape)[1:]
                np.add.at(counts, (idx[ok],) + tuple(ri[ok] for ri in rest_ix), 1)
                acc[f"{v}__bins"] = Variable(
                    (new_dim,) + tuple(d for d in var.dims if d != dim), counts
                )
            kept = {k: c for k, c in ds.coords.items() if dim not in c.dims}
            kept[new_dim] = new_coord
            return NDDataset(acc, kept, ds.attrs)

        out_vars = {
            v: (dims_v, np.dtype("int64").str) for v, (dims_v, _) in self.template.var_meta.items()
        }
        return self._tree_reduce(
            [dim], add, _COMBINERS["bins", "count"], _XArgs("count"), out_vars, new_coord
        )

    def _tree_reduce(
        self,
        red_dims: list[str],
        add: Callable[[NDDataset, dict[str, int]], NDDataset],
        combiner: "_Combiner",
        params: "_XArgs",
        out_vars: dict[str, tuple[tuple[str, ...], str]],
        new_coord: Variable | None = None,
    ) -> "Dataset":
        """The one combiner path behind every grid reduction: the
        reference's CombineFn (add_input / merge_accumulators /
        extract_output, ``combiners.py``) over ``MultiStageMean``'s fanout
        tree (``combiners.py:294-394``).

        The chain's narrow pass ends by turning each chunk into its
        accumulator with ``add(chunk, offsets along red_dims)``. While more than
        ``DEFAULT_MERGE_FANIN`` accumulators would land on one output
        cell, a tree-merge round re-keys them by ``chunk_index // fanin``
        and merges each group with :func:`_merge_partial`, so no task
        gathers more than fanin payloads — at 10⁵ chunks per climatology
        cell, the difference between a working plan and one Python task
        deserializing 10⁵ accumulators. The returned Dataset's grouped
        source (``groupBy`` on the kept offsets) merges once more and runs
        ``combiner.extract`` for each output variable of ``out_vars`` (name
        → the dims of the input it reduces, output dtype), so whatever
        follows runs in that same pass. ``new_coord`` (group and bin
        reductions) is the single-chunk output dim that replaces
        ``red_dims``."""
        tmpl = self.template
        keep_dims = [d for d in self.dims if d not in red_dims]
        out_sizes = {d: s for d, s in tmpl.sizes.items() if d not in red_dims}
        out_coords = {k: c for k, c in tmpl.coords.items() if not set(c.dims) & set(red_dims)}
        out_chunks = {d: self.chunks[d] for d in keep_dims}
        new_dims = list(new_coord.dims) if new_coord is not None else []
        for nd in new_dims:
            out_sizes[nd] = out_chunks[nd] = len(new_coord.values)
            out_coords[nd] = new_coord
        out_vm = {
            v: (tuple(new_dims) + tuple(d for d in dims_v if d not in red_dims), dt)
            for v, (dims_v, dt) in out_vars.items()
        }
        out_tmpl = Template(sizes=out_sizes, var_meta=out_vm, coords=out_coords, attrs=tmpl.attrs)
        schema_mk = T.StructType(
            chunk_row_schema(keep_dims + new_dims).fields + [T.StructField("mkey", T.LongType())]
        )
        offc = [off_col(d) for d in keep_dims]
        # linearized reduced-chunk index → the tree-merge re-key base
        chunks_in = dict(self.chunks)
        strides: dict[str, int] = {}
        fan_in = 1
        for d in red_dims:
            strides[d] = fan_in
            fan_in *= -(-self.sizes[d] // chunks_in[d])

        zero_new = {d: 0 for d in new_dims}
        sink_mk = _encode_sink(sorted(keep_dims + new_dims), extra=("mkey", lambda key: key[2]))

        def pre(pairs: Iterable[ChunkPair]) -> Iterator["pa.RecordBatch"]:
            accs = []
            for (offs, kvars), ds in pairs:
                red = {d: offs[d] for d in red_dims}
                mkey = sum(red[d] // chunks_in[d] * strides[d] for d in red_dims)
                accs.append((({**offs, **zero_new}, kvars, mkey), add(ds, red)))
            return sink_mk(accs)

        def merged(key: tuple, tbl: "pa.Table") -> tuple[dict[str, int], NDDataset]:
            # key = (vars, *offc) or (vars, *offc, mkey)
            acc = _merge_partial(list(_decode_payloads(tbl.column("payload"))), combiner.fields)
            return {**_key_offsets(keep_dims, key[1:]), **zero_new}, acc

        def merge_round(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            offs, acc = merged(key, tbl)
            yield (offs, key[0].as_py(), key[-1].as_py()), acc

        def merge_extract(key: tuple, tbl: "pa.Table") -> Iterator[ChunkPair]:
            offs, acc = merged(key, tbl)
            fields: dict[str, dict[str, np.ndarray]] = {}
            for name, var in acc.data_vars.items():
                owner, f = name.rsplit("__", 1)
                fields.setdefault(owner, {})[f] = var.values
            out = {}
            for v in sorted(out_vm):
                dims_v, dt = out_vm[v]
                res = combiner.extract(fields[v], params._replace(var=v, dtype=dt))
                out[v] = Variable(dims_v, np.asarray(res))
            yield (offs, key[0].as_py()), NDDataset(out, acc.coords, acc.attrs)

        fanin = DEFAULT_MERGE_FANIN
        df = self._run(pre, schema_mk)
        expected = fan_in
        while expected > fanin:
            df = df.withColumn("mkey", F.floor(F.col("mkey") / fanin).cast("long"))
            src = _Source(df, merge_round, ("vars", *offc, "mkey"))
            df = Dataset(self.spark, src, out_tmpl, out_chunks)._run(sink_mk, schema_mk)
            expected = -(-expected // fanin)
        src = _Source(df, merge_extract, ("vars", *offc))
        return Dataset(self.spark, src, out_tmpl, out_chunks)


def concat(datasets: Sequence[Dataset], dim: str) -> Dataset:
    """Concatenate datasets along an existing dimension (xarray
    ``concat(..., dim=)``; the reference reaches this by unioning chunk
    streams with re-keyed offsets, ``core.py:165-183`` key arithmetic).

    Spark shape: a pure ``unionByName`` of the chunk-row DataFrames with
    each input's offset column shifted by the cumulative size of its
    predecessors — zero shuffle, zero payload rewrite (chunk payloads carry
    their own coordinate slices, which are position-independent). Catalyst
    unions scans, so downstream offset-filter pushdown still prunes.

    Every input except the last must have ``sizes[dim]`` divisible by the
    shared chunk size so shifted offsets stay on the uniform chunk grid
    (rechunk first otherwise).
    """
    if not datasets:
        raise ValueError("concat needs at least one dataset")
    first = datasets[0]
    if len(datasets) == 1:
        return first
    c = first.chunks[dim]
    for i, ds in enumerate(datasets):
        if ds.split_vars != first.split_vars:
            raise ValueError("concat: mixed split_vars")
        if ds.template.var_meta != first.template.var_meta:
            raise ValueError("concat: variable schemas differ")
        for d, s in ds.sizes.items():
            if d != dim and s != first.sizes[d]:
                raise ValueError(f"concat: size mismatch on {d!r}: {s} != {first.sizes[d]}")
            if ds.chunks[d] != first.chunks[d]:
                # the final input may be one ragged chunk (normalize_chunks
                # clamps chunk to size); its single offset still lands on
                # the uniform grid. It must be no larger than the shared
                # chunk size c: a bigger single chunk would exceed the
                # declared grid step and downstream offset pruning (which
                # bounds each chunk's extent by off+chunks[dim]) would
                # silently drop its overhanging rows.
                tail_ok = (
                    d == dim
                    and i == len(datasets) - 1
                    and ds.chunks[d] >= ds.sizes[d]
                    and ds.sizes[d] <= c
                )
                if not tail_ok:
                    raise ValueError(f"concat: chunk mismatch on {d!r}")
        if i < len(datasets) - 1 and ds.sizes[dim] % c != 0:
            raise ValueError(
                f"concat: input {i} has sizes[{dim!r}]={ds.sizes[dim]}, not a "
                f"multiple of chunk {c}; rechunk before concat"
            )

    off = off_col(dim)
    dfs, shift = [], 0
    for ds in datasets:
        dfs.append(ds.df.withColumn(off, (F.col(off) + F.lit(shift)).cast("long")))
        shift += ds.sizes[dim]

    out_df = dfs[0]
    for d in dfs[1:]:
        out_df = out_df.unionByName(d)

    tmpl = first.template
    new_sizes = dict(tmpl.sizes)
    new_sizes[dim] = shift
    new_coords: dict[str, Variable] = {}
    for name, coord in tmpl.coords.items():
        if dim in coord.dims:
            ax = coord.dims.index(dim)
            parts = [d.template.coords[name].values for d in datasets]
            new_coords[name] = Variable(coord.dims, np.concatenate(parts, axis=ax))
        else:
            for d in datasets[1:]:
                if not np.array_equal(d.template.coords[name].values, coord.values):
                    raise ValueError(f"concat: coordinate {name!r} differs between inputs")
            new_coords[name] = coord
    out_tmpl = Template(
        sizes=new_sizes, var_meta=dict(tmpl.var_meta), coords=new_coords, attrs=tmpl.attrs
    )
    return Dataset(first.spark, out_df, out_tmpl, dict(first.chunks), first.split_vars)


class MemoryScan:
    """Scan spec for in-memory sources: reread = driver-side slice of the
    source + fresh distribution (mirrors the reference fast path where the
    lazy source dataset itself is indexed, ``dataset.py:379-394``)."""

    def __init__(self, source: NDDataset):
        self.source = source

    def reread(
        self,
        spark: SparkSession,
        chunks: Mapping[str, int],
        split_vars: bool,
        rel_window: Mapping[str, tuple[int, int]] | None = None,
        var_subset: Sequence[str] | None = None,
    ) -> Dataset:
        src = self.source
        if rel_window:
            src = src.isel({d: slice(a, b) for d, (a, b) in rel_window.items()})
        if var_subset is not None:
            src = src[list(var_subset)]
        return Dataset.from_numpy(spark, src, chunks=chunks, split_vars=split_vars)


# ---------------------------------------------------------------------------
# aggregation kernels (pure NumPy, run inside executors)
# ---------------------------------------------------------------------------


def _arg_combine(a: np.ndarray, b: np.ndarray, op: str) -> np.ndarray:
    """Elementwise associative combine for stacked (value, global index)
    arg-extremum accumulators: prefer the better value; NaN (empty) loses
    to any value; ties go to the smaller global index (first-occurrence
    semantics, so the result is chunking-independent)."""
    better = (b[0] < a[0]) if op == "argmin" else (b[0] > a[0])
    better = better | (np.isnan(a[0]) & ~np.isnan(b[0]))
    tie = (b[0] == a[0]) & (b[1] < a[1])
    return np.where(better | tie, b, a)


def _pre_aggregate(
    ds: NDDataset,
    var_names: list[str],
    red_dims: list[str],
    op: str,
    skipna: bool,
    offsets: Mapping[str, int] | None = None,
) -> NDDataset:
    """Per-chunk partial aggregate → accumulator variables: the add step
    of every ``("dim", op)`` entry of ``_COMBINERS``.

    mean/sum/count: (sum, cnt); min/max: (min|max); std/var: (sum, cnt,
    ssq); argmin/argmax: stacked (extremum value, global element index);
    trend and corr: their moment sums.
    Reference: ``combiners.py:37-64`` (_SumAndCount).
    """
    out: dict[str, Variable] = {}
    if op == "corr":
        va, vb = var_names
        A, B = ds.data_vars[va], ds.data_vars[vb]
        axes = tuple(A.dims.index(d) for d in red_dims if d in A.dims)
        new_dims = tuple(d for d in A.dims if d not in red_dims)
        x = A.values.astype(np.float64, copy=False)
        y = B.values.astype(np.float64, copy=False)
        valid = (~np.isnan(x)) & (~np.isnan(y)) if skipna else np.ones(x.shape, bool)
        w = valid.astype(np.float64)
        x0 = np.where(valid, x, 0.0)
        y0 = np.where(valid, y, 0.0)
        for name, arr in (
            ("corr__n", w),
            ("corr__sx", x0),
            ("corr__sy", y0),
            ("corr__sxy", x0 * y0),
            ("corr__sxx", x0 * x0),
            ("corr__syy", y0 * y0),
        ):
            out[name] = Variable(new_dims, np.sum(arr, axis=axes))
        keep = {d for var in out.values() for d in var.dims}
        coords = {k: c for k, c in ds.coords.items() if set(c.dims) <= keep}
        return NDDataset(out, coords, ds.attrs)
    for v in var_names:
        var = ds.data_vars[v]
        axes = tuple(var.dims.index(d) for d in red_dims if d in var.dims)
        new_dims = tuple(d for d in var.dims if d not in red_dims)
        a = var.values
        isf = np.issubdtype(a.dtype, np.floating)
        nan_aware = skipna and isf
        if op in ("argmin", "argmax"):
            d0 = red_dims[0]
            ax = var.dims.index(d0)
            af = a.astype(np.float64, copy=False)
            fill = np.inf if op == "argmin" else -np.inf
            filled = np.where(np.isnan(af), fill, af)
            pick = np.argmin if op == "argmin" else np.argmax
            idx = pick(filled, axis=ax)
            val = np.take_along_axis(filled, np.expand_dims(idx, ax), ax).squeeze(axis=ax)
            empty = np.all(np.isnan(af), axis=ax)
            garg = idx.astype(np.float64) + (offsets or {}).get(d0, 0)
            out[f"{v}__valarg"] = Variable(
                ("__pair",) + new_dims,
                np.stack([np.where(empty, np.nan, val), np.where(empty, np.nan, garg)]),
            )
        elif op == "trend":
            d0 = red_dims[0]
            ax = var.dims.index(d0)
            af = a.astype(np.float64, copy=False)
            off0 = (offsets or {}).get(d0, 0)
            ishape = [1] * af.ndim
            ishape[ax] = af.shape[ax]
            ii = (off0 + np.arange(af.shape[ax], dtype=np.float64)).reshape(ishape)
            valid = ~np.isnan(af) if skipna else np.ones(af.shape, bool)
            w = valid.astype(np.float64)
            y0 = np.where(valid, af, 0.0)
            out[f"{v}__n"] = Variable(new_dims, np.sum(w, axis=ax))
            out[f"{v}__sy"] = Variable(new_dims, np.sum(y0, axis=ax))
            out[f"{v}__siy"] = Variable(new_dims, np.sum(ii * y0, axis=ax))
            out[f"{v}__si"] = Variable(new_dims, np.sum(ii * w, axis=ax))
            out[f"{v}__sii"] = Variable(new_dims, np.sum(ii * ii * w, axis=ax))
        elif op in ("mean", "sum", "std", "var", "count"):
            af = a.astype(np.float64, copy=False)
            s = np.nansum(af, axis=axes) if nan_aware else np.sum(af, axis=axes)
            if nan_aware:
                cnt = np.sum(~np.isnan(af), axis=axes)
            else:
                cnt = np.full(s.shape, _prod(a.shape) // max(1, _prod(s.shape)), dtype=np.int64)
            out[f"{v}__sum"] = Variable(new_dims, np.asarray(s, dtype=np.float64))
            out[f"{v}__cnt"] = Variable(new_dims, np.asarray(cnt, dtype=np.int64))
            if op in ("std", "var"):
                sq = np.nansum(af * af, axis=axes) if nan_aware else np.sum(af * af, axis=axes)
                out[f"{v}__ssq"] = Variable(new_dims, np.asarray(sq, dtype=np.float64))
        elif op in ("min", "max"):
            fn = (np.nanmin if nan_aware else np.min) if op == "min" else (np.nanmax if nan_aware else np.max)
            with np.errstate(all="ignore"):
                m = fn(a, axis=axes)
            out[f"{v}__{op}"] = Variable(new_dims, np.asarray(m))
        else:
            raise ValueError(op)
    keep = {d for var in out.values() for d in var.dims}
    coords = {k: c for k, c in ds.coords.items() if set(c.dims) <= keep}
    return NDDataset(out, coords, ds.attrs)


def _merge_partial(parts: list[NDDataset], merges: Mapping[str, str]) -> NDDataset:
    """The one accumulator merge — ``merge_accumulators`` of the
    reference's CombineFn, run by every tree-merge round and by the final
    round before ``extract``. Each payload variable ``<var>__<field>``
    combines across ``parts`` with the merge its field declares in
    ``merges`` (a ``_Combiner.fields``; ragged slabs ``g0, g1, …`` share
    the entry ``g``). The output has the input's accumulator schema, so
    rounds chain."""
    first = parts[0]
    out: dict[str, Variable] = {}
    for name, var in first.data_vars.items():
        kind = merges[name.rsplit("__", 1)[1].rstrip("0123456789")]
        merged = _MERGES[kind]([p.data_vars[name].values for p in parts])
        out[name] = Variable(var.dims, np.asarray(merged))
    return NDDataset(out, first.coords, first.attrs)


def _fold(fn: Callable) -> Callable[[list[np.ndarray]], np.ndarray]:
    return lambda arrs: functools.reduce(fn, arrs)


# how one accumulator field's partials combine
_MERGES: dict[str, Callable[[list[np.ndarray]], np.ndarray]] = {
    "add": lambda arrs: np.sum(arrs, axis=0),
    "fmin": _fold(np.fmin),
    "fmax": _fold(np.fmax),
    "minimum": _fold(np.minimum),
    "maximum": _fold(np.maximum),
    "argmin": _fold(functools.partial(_arg_combine, op="argmin")),
    "argmax": _fold(functools.partial(_arg_combine, op="argmax")),
    "concat": lambda arrs: np.concatenate(arrs, axis=0),
}


class _XArgs(NamedTuple):
    """What an extract reads besides the merged fields: the op and its
    options, and the output variable's name and dtype."""

    op: str
    ddof: int = 0
    q: float = 0.5
    skipna: bool = True
    var: str = ""
    dtype: str = ""


class _Combiner(NamedTuple):
    """One reduction's accumulator: ``fields`` maps each accumulator field
    to its merge in ``_MERGES``; ``extract`` maps one output variable's
    merged fields to its result (``extract_output``)."""

    fields: Mapping[str, str]
    extract: Callable[[dict[str, np.ndarray], _XArgs], np.ndarray]


def _x_mean(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    with np.errstate(all="ignore"):
        return a["sum"] / a["cnt"]


def _x_var(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    """Variance (``op='var'``) or its root, NaN where count <= ddof.
    Evaluated with exactly this expression tree so SQL oracles writing
    (SUM(x²) - SUM(x)*SUM(x)/n)/n match bit for bit. Clamped at 0:
    catastrophic cancellation (mean >> spread, e.g. Kelvin/epoch data)
    can push the textbook formula fractionally negative; oracles wrap the
    same expression in GREATEST(..., 0)."""
    s, cnt = a["sum"], a["cnt"]
    with np.errstate(all="ignore"):
        res = np.maximum((a["ssq"] - s * s / cnt) / (cnt - p.ddof), 0.0)
        if p.op == "std":
            res = np.sqrt(res)
    return np.where(cnt <= p.ddof, np.nan, res)


def _x_trend(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    n, sy, siy, si, sii = (a[k] for k in ("n", "sy", "siy", "si", "sii"))
    with np.errstate(all="ignore"):
        # OLS slope over the global element index, evaluated with exactly
        # this expression tree so SQL oracles writing
        # (n·Σiy − Σi·Σy)/(n·Σi² − Σi·Σi) match bit-for-bit
        res = (n * siy - si * sy) / (n * sii - si * si)
    return np.where(n >= 2, res, np.nan)


def _x_corr(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    n, sx, sy, sxy, sxx, syy = (a[k] for k in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    with np.errstate(all="ignore"):
        # Pearson r, evaluated with exactly this expression tree so SQL
        # oracles writing (n·Σxy−Σx·Σy)/sqrt((n·Σx²−Σx·Σx)·(n·Σy²−Σy·Σy))
        # match bit-for-bit
        num = n * sxy - sx * sy
        den = np.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        res = num / den
    return np.where((n >= 2) & (den > 0), res, np.nan)


def _x_group_extreme(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    cnt = a["cnt"]
    if not np.issubdtype(np.dtype(p.dtype), np.floating) and np.any(cnt == 0):
        # NaN→int is an undefined numpy cast (INT64_MIN garbage reported
        # as a real minimum): integer variables cannot represent an empty
        # group — loud
        raise ValueError(
            f"groupby_reduce({p.op!r}): variable {p.var!r} has "
            "empty group combinations but an integer dtype "
            "— cast it to float first (NaN marks empties)"
        )
    # empty groups (count 0) → NaN; legitimate ±inf survives
    return np.where(cnt == 0, np.nan, a[p.op]).astype(p.dtype, copy=False)


def _x_group_quantile(a: dict[str, np.ndarray], p: _XArgs) -> np.ndarray:
    """Quantile of each group's gathered slab; an empty group is NaN."""
    res = []
    for gi in range(len(a)):
        vals = a[f"g{gi}"]
        if vals.shape[0] == 0:
            res.append(np.full(vals.shape[1:], np.nan))
        elif p.skipna:
            any_valid = np.any(~np.isnan(vals), axis=0)
            safe = np.where(np.isnan(vals), 0.0, vals)
            # nanquantile warns on all-NaN columns; compute on a safe copy
            # only where nothing is valid
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                qv = np.nanquantile(np.where(any_valid, vals, safe), p.q, axis=0)
            res.append(np.where(any_valid, qv, np.nan))
        else:
            res.append(np.quantile(vals, p.q, axis=0))
    return np.stack(res, axis=0).astype(np.float64)


_SUM_CNT = {"sum": "add", "cnt": "add"}
_MOMENTS = {**_SUM_CNT, "ssq": "add"}

# The accumulator table: (family, op) → fields, their merges and the
# extract. Families: "dim" (Dataset._agg; an all-NaN cell sums to 0),
# "group" (groupby_reduce; an empty group is NaN, min/max start at ±inf
# and count members) and "bins" (histogram).
_COMBINERS: dict[tuple[str, str], _Combiner] = {
    ("dim", "mean"): _Combiner(_SUM_CNT, _x_mean),
    ("dim", "sum"): _Combiner(_SUM_CNT, lambda a, p: a["sum"]),
    ("dim", "count"): _Combiner(_SUM_CNT, lambda a, p: a["cnt"]),
    ("dim", "std"): _Combiner(_MOMENTS, _x_var),
    ("dim", "var"): _Combiner(_MOMENTS, _x_var),
    # skipna=False: minimum/maximum propagate NaN across chunk boundaries
    # (xarray's NaN poisoning); skipna: fmin/fmax ignore the NaN partial
    # of an all-NaN chunk
    ("dim", "min"): _Combiner({"min": "minimum"}, lambda a, p: a["min"]),
    ("dim", "max"): _Combiner({"max": "maximum"}, lambda a, p: a["max"]),
    ("dim", "nanmin"): _Combiner({"min": "fmin"}, lambda a, p: a["min"]),
    ("dim", "nanmax"): _Combiner({"max": "fmax"}, lambda a, p: a["max"]),
    # stacked (extremum value, global element index) → the index (float64;
    # NaN for all-NaN series, dropped by to_table like any empty cell)
    ("dim", "argmin"): _Combiner({"valarg": "argmin"}, lambda a, p: a["valarg"][1]),
    ("dim", "argmax"): _Combiner({"valarg": "argmax"}, lambda a, p: a["valarg"][1]),
    ("dim", "trend"): _Combiner(dict.fromkeys(("n", "sy", "siy", "si", "sii"), "add"), _x_trend),
    ("dim", "corr"): _Combiner(
        dict.fromkeys(("n", "sx", "sy", "sxy", "sxx", "syy"), "add"), _x_corr
    ),
    ("group", "mean"): _Combiner(_SUM_CNT, _x_mean),
    ("group", "sum"): _Combiner(_SUM_CNT, lambda a, p: np.where(a["cnt"] == 0, np.nan, a["sum"])),
    ("group", "std"): _Combiner(_MOMENTS, _x_var),
    ("group", "var"): _Combiner(_MOMENTS, _x_var),
    ("group", "min"): _Combiner({"min": "minimum", "cnt": "add"}, _x_group_extreme),
    ("group", "max"): _Combiner({"max": "maximum", "cnt": "add"}, _x_group_extreme),
    # ragged per-group slabs g0, g1, … gathered for a quantile
    ("group", "quantile"): _Combiner({"g": "concat"}, _x_group_quantile),
    ("bins", "count"): _Combiner({"bins": "add"}, lambda a, p: a["bins"]),
}


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _human_bytes(n: int) -> str:
    """Human-readable byte count (reference repr helper, dataset.py:61-77)."""
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if n < 1000 or unit == "TB":
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.3g}{unit}"
        n /= 1000
    return f"{n}B"


def _prod(shape) -> int:
    n = 1
    for s in shape:
        n *= int(s)
    return n


def _default_parallelism(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism or 8


def _spark_to_arrow_type(dt: T.DataType):
    """Arrow type for a Spark SQL type (the subset _np_to_spark_type
    emits) — pinned explicitly so mapInArrow batches match the declared
    schema bit-for-bit regardless of the source numpy dtype."""
    import pyarrow as pa

    mapping = {
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
        T.TimestampNTZType: pa.timestamp("us"),
    }
    try:
        return mapping[type(dt)]
    except KeyError:
        raise TypeError(f"no arrow mapping for Spark type {dt}") from None


def _np_to_spark_type(dt: np.dtype) -> T.DataType:
    kind = dt.kind
    if kind == "f":
        return T.DoubleType() if dt.itemsize == 8 else T.FloatType()
    if kind in "iu":
        return T.LongType() if dt.itemsize >= 8 else T.IntegerType() if dt.itemsize >= 4 else T.ShortType()
    if kind == "b":
        return T.BooleanType()
    if kind == "M":
        return T.TimestampNTZType()
    if kind in "US":
        return T.StringType()
    raise TypeError(f"unsupported dtype {dt}")


def table_schema(tmpl: Template, dims: Sequence[str]) -> T.StructType:
    """Long-format schema for :meth:`Dataset.to_table`: one column per
    dim coordinate plus one nullable column per variable."""
    fields: list[T.StructField] = []
    for d in dims:
        cv = tmpl.coords.get(d)
        if cv is None:
            fields.append(T.StructField(d, T.LongType(), False))
        else:
            fields.append(
                T.StructField(d, _np_to_spark_type(cv.values.dtype), False)
            )
    for v in tmpl.var_names:
        fields.append(
            T.StructField(v, _np_to_spark_type(np.dtype(tmpl.var_meta[v][1])), True)
        )
    return T.StructType(fields)


def explode_chunk_batch(
    ds: NDDataset,
    dims: Sequence[str],
    var_names: Sequence[str],
    dropna: bool,
    names: Sequence[str],
    pa_types: Sequence[Any],
):
    """One decoded chunk → one long-format RecordBatch, or ``None`` when
    ``dropna`` leaves no rows. Shared by :meth:`Dataset.to_table` and the
    fused single-stage file readers (``sources.netcdf3.read_table``) so
    both legs explode cells with bit-identical semantics."""
    out: dict[str, np.ndarray] = {}
    sizes = ds.sizes
    dshape = [sizes[d] for d in dims]
    grids = np.meshgrid(
        *[
            ds.coords[d].values if d in ds.coords else np.arange(sizes[d])
            for d in dims
        ],
        indexing="ij",
    )
    for d, g in zip(dims, grids):
        out[d] = g.ravel()
    mask = None
    for v in var_names:
        var = ds.data_vars[v]
        arr = var.values
        if var.dims != tuple(dims):
            arr = var.transpose(tuple(dims)).values  # type: ignore[arg-type]
        arr = np.broadcast_to(arr, dshape).ravel()
        out[v] = arr
        if dropna and arr.dtype.kind == "f":
            m = ~np.isnan(arr)
            mask = m if mask is None else (mask | m)
    if dropna and mask is not None:
        if not mask.any():
            return None
        out = {k: a[mask] for k, a in out.items()}
    cols = [
        pa.array(np.ascontiguousarray(out[n]), type=t)
        for n, t in zip(names, pa_types)
    ]
    return pa.RecordBatch.from_arrays(cols, list(names))


def _dummy_chunk(template: Template, chunks: Mapping[str, int]) -> NDDataset:
    sizes = {d: min(chunks.get(d, s), s) for d, s in template.sizes.items()}
    dv = {
        v: Variable(dims, np.zeros([sizes[d] for d in dims], dtype=np.dtype(dt)))
        for v, (dims, dt) in template.var_meta.items()
    }
    # copies: an inferred func may mutate its input, and the slices are
    # views of the template's coordinates
    coords = {
        k: Variable(c.dims, c.values.copy())
        for k, c in template.coords_for_chunk({d: 0 for d in sizes}, sizes).items()
    }
    return NDDataset(dv, coords, template.attrs)


def _infer_result_meta(
    in_tmpl: Template,
    in_chunks: Mapping[str, int],
    dummy_in: NDDataset,
    dummy_out: NDDataset,
) -> tuple[Template, dict[str, int]]:
    """Infer output template + chunks from a dummy application
    (reference ``dataset.py:202-233`` _infer_new_chunks)."""
    out_sizes: dict[str, int] = {}
    out_chunks: dict[str, int] = {}
    for d, s_out in dummy_out.sizes.items():
        if d in dummy_in.sizes and dummy_in.sizes[d] == s_out:
            out_sizes[d] = in_tmpl.sizes.get(d, s_out)
            out_chunks[d] = in_chunks.get(d, s_out)
        elif d in dummy_in.sizes:
            # proportional rescale of the dim
            ratio = s_out / dummy_in.sizes[d]
            total = in_tmpl.sizes.get(d, dummy_in.sizes[d])
            out_sizes[d] = max(1, int(round(total * ratio)))
            out_chunks[d] = max(1, int(round(in_chunks.get(d, total) * ratio)))
        else:
            out_sizes[d] = s_out
            out_chunks[d] = s_out
    vm = {
        v: (var.dims, var.values.dtype.str) for v, var in dummy_out.data_vars.items()
    }
    coords = {
        k: c
        for k, c in in_tmpl.coords.items()
        if set(c.dims) <= set(d for d in out_sizes if out_sizes[d] == in_tmpl.sizes.get(d))
    }
    tmpl = Template(sizes=out_sizes, var_meta=vm, coords=coords, attrs=dummy_out.attrs)
    return tmpl, out_chunks


def _key_of(key) -> core.Key:
    """Coerce a :class:`core.Key` or a plain offsets mapping to a Key."""
    if isinstance(key, core.Key):
        return key
    return core.Key.make(dict(key))


# NDDataset.merge is exact-join / equals-compat / attrs-override by
# construction — exactly the reference's merge defaults. The per-chunk free
# functions accept the reference's kwargs but only these values.
_MERGE_DEFAULTS = {"compat": "equals", "join": "exact", "combine_attrs": "override"}


def _check_merge_kwargs(kwargs, what: str) -> None:
    if kwargs:
        extra = {k: v for k, v in dict(kwargs).items() if _MERGE_DEFAULTS.get(k) != v}
        if extra:
            raise ValueError(
                f"{what}: only the reference defaults {_MERGE_DEFAULTS} are "
                f"supported, got overrides {extra}"
            )


def _assemble_grid(
    inputs: Sequence[tuple[Mapping[str, int], NDDataset]], what: str
) -> tuple[dict[str, int], NDDataset]:
    """Validate ``(offsets, NDDataset)`` pairs tile a dense grid and
    assemble them into their bounding block (consolidation core shared by
    :func:`in_memory_rechunk` and :func:`consolidate_chunks`)."""
    dims = sorted({d for _, ds in inputs for d in ds.sizes})
    base = {d: min(int(off.get(d, 0)) for off, _ in inputs) for d in dims}
    # dense grid positions per dim (consolidate: NDDataset.block)
    uniq = {
        d: sorted({int(off.get(d, 0)) for off, _ in inputs}) for d in dims
    }
    parts = {
        tuple(uniq[d].index(int(off.get(d, 0))) for d in dims): ds
        for off, ds in inputs
    }
    if len(parts) != len(inputs):
        raise ValueError(
            f"{what}: {len(inputs) - len(parts)} input chunk(s) "
            "share the same offsets — duplicate inputs would silently "
            "overwrite each other"
        )
    expected = math.prod(len(u) for u in uniq.values())
    if len(parts) != expected:
        raise ValueError(
            f"{what}: inputs do not tile their bounding box "
            f"(got {len(parts)} of {expected} grid cells)"
        )
    merged = NDDataset.block(parts, dims)
    sizes = merged.sizes
    for d in dims:
        span = max(
            int(off.get(d, 0)) + ds.sizes.get(d, 1) for off, ds in inputs
        ) - base[d]
        if d in sizes and sizes[d] != span:
            raise ValueError(
                f"{what}: inputs do not tile their bounding box "
                f"along {d!r}: assembled {sizes[d]} elements but offsets "
                f"span {span} — gap or overlap between chunks"
            )
    return base, merged


def _split_pieces(
    offsets: Mapping[str, int], dataset: NDDataset, target_chunks: Mapping[str, int]
) -> Iterator[tuple[dict[str, int], NDDataset]]:
    """Cut one chunk at the GLOBAL grid of ``target_chunks``-sized cells
    (a chunk whose offset is not grid-aligned first splits at the next
    grid multiple); dims absent from ``target_chunks`` stay whole. Yields
    ``(offsets, piece)``, each piece keyed by the start of its range."""
    sizes = dataset.sizes
    dims = [d for d in target_chunks if d in sizes]
    spans = [
        list(
            core.chunk_bounds_overlap(
                int(offsets.get(d, 0)),
                int(offsets.get(d, 0)) + sizes[d],
                int(target_chunks[d]),
            )
        )
        for d in dims
    ]
    for bounds in itertools.product(*spans):
        new_off = dict(offsets)
        sel: dict[str, slice] = {}
        for d, (_grid, lo, hi) in zip(dims, bounds):
            start = int(offsets.get(d, 0))
            new_off[d] = lo
            sel[d] = slice(lo - start, hi - start)
        yield new_off, dataset.isel(sel)


def split_chunks(
    key: "core.Key | Mapping[str, int]",
    dataset: NDDataset,
    target_chunks: Mapping[str, int],
) -> Iterator[tuple[core.Key, NDDataset]]:
    """Split one ``(key, chunk)`` pair into chunks of ``target_chunks``
    (reference free function ``rechunk.py:400-429``): splits happen on the
    GLOBAL grid of ``target_chunks``-sized cells, so a chunk whose offset
    is not grid-aligned first splits at the next grid multiple. Dims
    absent from ``target_chunks`` are left whole.

    Pure per-element function, usable inside custom ``mapInArrow`` /
    ``applyInArrow`` stages; the distributed ``Dataset.split_chunks``
    runs the same cut as a step of its fused chain."""
    k = _key_of(key)
    for offs, piece in _split_pieces(k.offsets_dict, dataset, target_chunks):
        yield core.Key.make(offs, k.vars), piece


def split_variables(
    key: "core.Key | Mapping[str, int]", dataset: NDDataset
) -> Iterator[tuple[core.Key, NDDataset]]:
    """Split one ``(key, chunk)`` pair into one pair per data variable
    (reference free function ``rechunk.py:457-470``): each output key
    carries ``vars={name}`` and only the offsets for dims that variable
    (plus its coords) actually uses."""
    k = _key_of(key)
    for name in dataset.data_vars:
        nd = dataset[[name]]
        offs = {d: o for d, o in k.offsets_dict.items() if d in nd.sizes}
        yield core.Key.make(offs, {name}), nd


def consolidate_chunks(
    inputs: Iterable[tuple["core.Key | Mapping[str, int]", NDDataset]],
    combine_kwargs: Mapping[str, Any] | None = None,
) -> Iterator[tuple[core.Key, NDDataset]]:
    """Consolidate chunks across offsets into one pair per variable group
    (reference free function ``rechunk.py:166-197``): inputs are grouped
    by ``key.vars``; each group must tile its bounding box exactly, and
    all groups must cover the same offsets on shared dims."""
    _check_merge_kwargs(combine_kwargs, "consolidate_chunks")
    pairs = [(_key_of(k), ds) for k, ds in inputs]
    keys = [k for k, _ in pairs]
    if len(set(keys)) < len(keys):
        raise ValueError(f"chunk keys are not unique: {keys}")
    groups: dict[frozenset | None, list] = {}
    offsets_by_dim: dict[str, set[int]] = {}
    offsets_by_vars_dim: dict[tuple, set[int]] = {}
    for k, ds in pairs:
        groups.setdefault(k.vars, []).append((k, ds))
        for d, off in k.offsets:
            offsets_by_dim.setdefault(d, set()).add(off)
            offsets_by_vars_dim.setdefault((k.vars, d), set()).add(off)
    for (cur_vars, d), offs in offsets_by_vars_dim.items():
        if offs != offsets_by_dim[d]:
            raise ValueError(
                f"some expected chunks are missing for vars={cur_vars}"
            )
    for cur_vars, grp in groups.items():
        _base, merged = _assemble_grid(
            [(k.offsets_dict, ds) for k, ds in grp], "consolidate_chunks"
        )
        key_dims = {d for k, _ in grp for d in k.offsets_dict}
        out_off = {
            d: min(k.offsets_dict.get(d, 0) for k, _ in grp) for d in key_dims
        }
        yield core.Key.make(out_off, cur_vars), merged


def consolidate_variables(
    inputs: Iterable[tuple["core.Key | Mapping[str, int]", NDDataset]],
    merge_kwargs: Mapping[str, Any] | None = None,
) -> Iterator[tuple[core.Key, NDDataset]]:
    """Consolidate chunks across distinct variables into one pair per
    offsets (reference free function ``rechunk.py:200-238``): inputs with
    identical offsets merge; overlapping variable names are an error."""
    _check_merge_kwargs(merge_kwargs, "consolidate_variables")
    by_off: dict[tuple, list] = {}
    for k, ds in ((_key_of(k), ds) for k, ds in inputs):
        by_off.setdefault(k.offsets, []).append(ds)
    for offsets, chunks in by_off.items():
        all_vars = [set(ds.data_vars) for ds in chunks]
        new_vars = set().union(*all_vars)
        if len(new_vars) != sum(map(len, all_vars)):
            raise ValueError(
                f"cannot merge chunks with overlapping variables: {all_vars}"
            )
        yield core.Key(offsets, frozenset(new_vars)), NDDataset.merge(chunks)


def consolidate_fully(
    inputs: Iterable[tuple["core.Key | Mapping[str, int]", NDDataset]],
    *,
    merge_kwargs: Mapping[str, Any] | None = None,
    combine_kwargs: Mapping[str, Any] | None = None,
) -> tuple[core.Key, NDDataset]:
    """Consolidate chunks via merge + concat into a single pair
    (reference free function ``rechunk.py:241-289``)."""
    _check_merge_kwargs(merge_kwargs, "consolidate_fully")
    concatenated: list[NDDataset] = []
    combined_off: dict[str, int] = {}
    combined_vars: set[str] = set()
    for key, chunk in consolidate_chunks(inputs, combine_kwargs):
        for d, off in key.offsets:
            if d in combined_off and combined_off[d] != off:
                raise ValueError(
                    "consolidating chunks fully failed because chunk "
                    f"{chunk!r} has offsets {key.offsets_dict} that differ "
                    f"from {combined_off}"
                )
            combined_off[d] = off
        concatenated.append(chunk)
        combined_vars.update(chunk.data_vars)
    return (
        core.Key.make(combined_off, frozenset(combined_vars)),
        NDDataset.merge(concatenated),
    )


def in_memory_rechunk(
    inputs: Sequence[tuple["core.Key | Mapping[str, int]", NDDataset]],
    target_chunks: Mapping[str, int],
) -> Iterator[tuple[dict[str, int], NDDataset]]:
    """Rechunk in-memory ``(key_or_offsets, NDDataset)`` pairs:
    consolidate the inputs into their bounding block, then split to
    ``target_chunks`` (reference ``in_memory_rechunk``,
    ``rechunk.py:492-500``; like the reference, ``core.Key`` keys are
    accepted — plain offsets mappings also work).

    Pure driver/executor-agnostic helper — the same consolidate+split
    semantics the distributed ``Dataset.rechunk`` stages execute, usable
    on plain pairs without a SparkSession (e.g. inside a custom grouped
    ``applyInArrow`` stage whose group already holds the needed chunks).
    The inputs must tile their bounding box exactly (the distributed path
    enforces the same completeness rule)."""
    if not inputs:
        return
    inputs = [(_key_of(k).offsets_dict, ds) for k, ds in inputs]
    base, merged = _assemble_grid(inputs, "in_memory_rechunk")
    dims = sorted({d for _, ds in inputs for d in ds.sizes})
    sizes = merged.sizes
    tgt = {d: int(target_chunks.get(d, sizes[d])) for d in dims}
    spans = {
        d: list(core.chunk_bounds_overlap(base[d], base[d] + sizes[d], tgt[d]))
        for d in dims
    }
    for idx in np.ndindex(*[len(spans[d]) for d in dims]):
        sel: dict[str, slice] = {}
        offs: dict[str, int] = {}
        for i, d in enumerate(dims):
            _grid_off, lo, hi = spans[d][idx[i]]
            sel[d] = slice(lo - base[d], hi - base[d])
            offs[d] = lo
        yield offs, merged.isel(sel)


def _nd_binop(x: NDDataset, y: NDDataset, op) -> NDDataset:
    """Variable-wise binary op between two same-grid chunk datasets
    (backs Dataset.__add__ etc. through zip_map); per-variable dim order
    is aligned before the numpy op."""
    if set(x.data_vars) != set(y.data_vars):
        raise ValueError(
            f"arithmetic needs matching variables: {sorted(x.data_vars)} "
            f"vs {sorted(y.data_vars)}"
        )
    dv = {}
    for v, var in x.data_vars.items():
        other = y.data_vars[v]
        if other.dims != var.dims:
            other = other.transpose(var.dims)
        dv[v] = Variable(var.dims, op(var.values, other.values))
    return NDDataset(dv, coords=dict(x.coords), attrs=dict(x.attrs))
