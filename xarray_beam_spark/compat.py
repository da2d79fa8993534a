"""Beam-style migration shims: the reference's public top-level names
(``xarray_beam/__init__.py``, v0.11.5) as PIPEABLE transforms, so an
xarray-beam pipeline ports line by line::

    # reference                              # here
    p | xbeam.DatasetToChunks(ds, chunks)    nd | DatasetToChunks(spark, chunks)
      | xbeam.SplitChunks({'time': 1})         | SplitChunks({'time': 1})
      | xbeam.Mean('time')                     | Mean('time')
      | xbeam.ChunksToZarr(store)              | ChunksToZarr(store)

Beam's ``pcoll | transform`` works here through ``__ror__`` on the
transform (``Dataset`` defines no ``__or__``), and every transform is
also a plain callable (``Rechunk(tc)(ds)``). The reference's free
PTransforms carry pipeline state Beam-side; this engine keeps that state
on the lazy Spark ``Dataset``, so each shim simply delegates to the
corresponding :class:`~xarray_beam_spark.dataset.Dataset` method — the
shims add NO new semantics, only the reference's spelling.

Not shimmed (no faithful equivalent, documented here so the gap is
explicit): ``MeanCombineFn`` (a Beam CombineFn — Spark's combiner
lifting is internal to ``Dataset.mean``) and the per-element
``validate_chunk`` DoFn (its checks run inside ``Dataset.validate``).
``validate_zarr_chunk``/``write_chunk_to_zarr`` ARE provided below as
per-chunk free functions for custom ``mapInArrow`` pipelines.
"""

from __future__ import annotations

from collections.abc import Mapping

from xarray_beam_spark.dataset import Dataset, Template
from xarray_beam_spark.ndarray_ds import NDDataset
from xarray_beam_spark.plans import rechunk_plan


class PTransform:
    """Base shim: supports both ``ds | transform`` (Beam spelling, via
    ``__ror__``) and ``transform(ds)``."""

    def apply(self, ds):
        raise NotImplementedError

    def __call__(self, ds):
        return self.apply(ds)

    def __ror__(self, ds):
        return self.apply(ds)


class DatasetToChunks(PTransform):
    """Reference ``core.py:544-670``: materialize an in-memory dataset as
    a distributed one. Beam finds the pipeline in context; Spark cannot,
    so the session is a constructor arg: ``nd | DatasetToChunks(spark,
    chunks)``."""

    def __init__(self, spark, chunks: Mapping[str, int] | None = None,
                 split_vars: bool = False):
        self.spark, self.chunks, self.split_vars = spark, chunks, split_vars

    def apply(self, nd: NDDataset) -> Dataset:
        if self.chunks is None:
            # Reference behavior (core.py:585-590): with no chunks given it
            # infers dask chunks or raises. NDDataset payloads are plain
            # numpy (never dask), so a silent {} default would produce ONE
            # whole-array chunk — all parallelism lost at scale.
            raise ValueError(
                "chunks must be provided if dataset is not already chunked "
                "(pass chunks={dim: size} — NDDataset carries no dask "
                "chunks to infer from)"
            )
        return Dataset.from_numpy(
            self.spark, nd, chunks=self.chunks, split_vars=self.split_vars
        )


class SplitChunks(PTransform):
    """Reference ``rechunk.py`` ``SplitChunks``."""

    def __init__(self, target_chunks: Mapping[str, int]):
        self.target_chunks = target_chunks

    def apply(self, ds: Dataset) -> Dataset:
        return ds.split_chunks(self.target_chunks)


class ConsolidateChunks(PTransform):
    """Reference ``rechunk.py`` ``ConsolidateChunks``."""

    def __init__(self, target_chunks: Mapping[str, int]):
        self.target_chunks = target_chunks

    def apply(self, ds: Dataset) -> Dataset:
        return ds.consolidate_chunks(self.target_chunks)


class SplitVariables(PTransform):
    def apply(self, ds: Dataset) -> Dataset:
        return ds.split_variables()


class ConsolidateVariables(PTransform):
    def apply(self, ds: Dataset) -> Dataset:
        return ds.consolidate_variables()


class Rechunk(PTransform):
    """Reference ``rechunk.py:520-605``. The reference constructor also
    takes ``dim_sizes``/``source_chunks``/``itemsize`` because a Beam
    PCollection carries no schema; the Spark ``Dataset`` knows its own,
    so only the target grid and the memory envelope remain."""

    def __init__(self, target_chunks: Mapping[str, int],
                 max_mem: int = rechunk_plan.DEFAULT_MAX_MEM,
                 min_mem: int | None = None):
        self.target_chunks, self.max_mem, self.min_mem = target_chunks, max_mem, min_mem

    def apply(self, ds: Dataset) -> Dataset:
        return ds.rechunk(self.target_chunks, max_mem=self.max_mem, min_mem=self.min_mem)


class ValidateEachChunk(PTransform):
    """Reference ``core.py:809-818``."""

    def apply(self, ds: Dataset) -> Dataset:
        return ds.validate()


class Mean(PTransform):
    """Reference ``combiners.py`` ``Mean(dim, skipna=...)``. ``fanout``
    is accepted and ignored: the engine plans multi-stage merge trees
    itself (fan-in > 1024 splits automatically)."""

    def __init__(self, dim, skipna: bool = True, fanout: int | None = None):
        self.dim, self.skipna = dim, skipna
        del fanout  # auto-planned here

    def apply(self, ds: Dataset) -> Dataset:
        return ds.mean(self.dim, skipna=self.skipna)

    @classmethod
    def Globally(cls, skipna: bool = True) -> "PTransform":  # noqa: N802 — reference name
        class _Global(PTransform):
            def apply(self, ds: Dataset) -> Dataset:
                return ds.mean(list(ds.sizes), skipna=skipna)

        return _Global()

    @classmethod
    def PerKey(  # noqa: N802 — reference name
        cls, dim: str, by, new_dim: str = "group", skipna: bool = True
    ) -> "PTransform":
        """Reference ``Mean.PerKey`` averages a KEYED PCollection — the
        climatology step after a re-key (``examples/era5_climatology.py``
        there). The keyed-dataset analog here is
        :meth:`Dataset.groupby_reduce`: ``by`` is the per-element key
        array (or ``{name: array}`` mapping for multi-key) along ``dim``,
        exactly the keys the reference's re-key DoFn would emit."""

        class _PerKey(PTransform):
            def apply(self, ds: Dataset) -> Dataset:
                return ds.groupby_reduce(
                    dim, by, op="mean", new_dim=new_dim, skipna=skipna
                )

        return _PerKey()


class ChunksToZarr(PTransform):
    """Reference ``zarr.py:636-821``. Setup here is synchronous driver
    work derived from the dataset's own template (no side-input barrier
    to pre-compute one for), so an explicit ``template`` does not DRIVE
    the store layout — it is VALIDATED against the dataset's template at
    apply time instead: structural drift (sizes, variables, dims,
    dtypes) raises, attrs drift warns. A silently-ignored template that
    disagreed would write a store the author did not ask for. Terminal:
    returns the write stats."""

    def __init__(self, store: str, template=None,
                 zarr_chunks: Mapping[str, int] | None = None, **kwargs):
        self.template = template
        self.store, self.zarr_chunks, self.kwargs = store, zarr_chunks, kwargs

    def _check_template(self, ds: Dataset) -> None:
        tmpl = self.template
        if tmpl is None:
            return
        if isinstance(tmpl, NDDataset):
            tmpl = Template.from_ndds(tmpl)
        have = ds.template
        if tmpl.sizes != have.sizes or tmpl.var_meta != have.var_meta:
            raise ValueError(
                "ChunksToZarr: the explicit template disagrees with the "
                f"dataset's own template (template sizes={tmpl.sizes} "
                f"vars={tmpl.var_meta}; dataset sizes={have.sizes} "
                f"vars={have.var_meta}). This engine derives the store "
                "layout from the dataset — rechunk/rename the dataset, or "
                "drop the template argument."
            )
        if tmpl.attrs != have.attrs:
            import warnings

            warnings.warn(
                "ChunksToZarr: template attrs differ from the dataset's "
                f"({tmpl.attrs!r} vs {have.attrs!r}); the DATASET attrs are "
                "written",
                stacklevel=3,
            )

    def apply(self, ds: Dataset) -> dict:
        from xarray_beam_spark.sources import zarr_io

        self._check_template(ds)
        return zarr_io.to_zarr(ds, self.store, zarr_chunks=self.zarr_chunks, **self.kwargs)


class DatasetToZarr(ChunksToZarr):
    """Reference ``zarr.py:824-843`` (DatasetToChunks + ChunksToZarr):
    identical to :class:`ChunksToZarr` here, where a Dataset is already
    chunked."""


def open_zarr(path: str) -> tuple[Template, dict[str, int]]:
    """Reference ``zarr.py:71-96`` returns ``(lazy xr.Dataset, chunks)``;
    here the metadata-only handle is the :class:`Template` —
    ``(template, chunks)``. For the data itself use
    :func:`xarray_beam_spark.from_zarr`."""
    from xarray_beam_spark.sources.zarr_io import open_zarr_template

    return open_zarr_template(path)


def make_template(ds: NDDataset) -> Template:
    """Reference ``zarr.py:99-146`` builds a lazily-zeroed template
    dataset; the equivalent metadata-only object here is
    :meth:`Template.from_ndds`."""
    return Template.from_ndds(ds)


# path -> (fingerprint, monotonic time last verified, parsed array metas).
_ARRAYS_META_CACHE: dict[str, tuple[str | None, float, dict]] = {}
# How long a cache hit may go without re-probing the store fingerprint.
# Executors are long-lived: a store recreated or resized (to_zarr
# append_dim) at the same path would otherwise serve stale shapes forever
# — and a stale SMALLER array edge can make alignment validation accept a
# partial-unit interior write that corrupts the resized store. The
# default 0 re-probes on EVERY call: the probe is ONE KB-sized GET of the
# consolidated-metadata document, the same cost class as the parse it
# skips — correctness by default. Raise it (seconds) on provably
# immutable stores to trade a bounded staleness window for fewer
# metadata reads on latency-bound object stores.
META_RECHECK_SECONDS = 0.0


def _meta_fingerprint(store: str) -> str | None:
    """Cheap staleness probe: md5 of the store's consolidated-metadata
    document (ONE small GET — v2 ``.zmetadata`` or v3 root ``zarr.json``
    WITH inline consolidated metadata, both carrying every array's
    shape/chunks). ``None`` when the store has neither (unconsolidated
    foreign store: no cheap probe exists — an UNconsolidated v3 root
    ``zarr.json`` is just the group node and never changes when a child
    array is resized, so hashing it would serve stale shapes forever);
    staleness is then caught by the re-fetch-on-validation-failure path
    in :func:`validate_zarr_chunk`."""
    import hashlib
    import json as _json

    from xarray_beam_spark.sources import stores as _stores

    for key in (".zmetadata", "zarr.json"):
        st, root = _stores.resolve(_stores.join(store, key))
        data = st.get(root)
        if data is None:
            continue
        if key == "zarr.json":
            try:
                if not _json.loads(data.decode()).get("consolidated_metadata"):
                    return None  # group node only: not a staleness probe
            except (ValueError, UnicodeDecodeError):
                return None
        return hashlib.md5(data).hexdigest()
    return None


def _arrays_meta(store: str, refresh: bool = False) -> dict:
    """Per-process store-metadata memo for the per-chunk free functions —
    KB-sized, so a custom pipeline's tasks fetch it once per
    ``META_RECHECK_SECONDS``, not once per chunk. Entries are verified
    against :func:`_meta_fingerprint` so an in-process recreate or resize
    (``to_zarr(append_dim=)``) is picked up within the recheck window;
    ``refresh=True`` forces a full re-fetch (used before raising a
    validation error, so a just-resized store never yields a stale
    rejection — or a stale acceptance)."""
    import time

    probed = False
    fp: str | None = None
    hit = _ARRAYS_META_CACHE.get(store)
    if hit is not None and not refresh:
        old_fp, checked, metas = hit
        if time.monotonic() - checked < META_RECHECK_SECONDS:
            return metas
        fp = _meta_fingerprint(store)
        probed = True
        if fp is not None and fp == old_fp:
            _ARRAYS_META_CACHE[store] = (fp, time.monotonic(), metas)
            return metas
        # changed, or no cheap probe available: fall through to re-open
        # (the probe just taken doubles as the pre-fetch fingerprint —
        # re-probing here would double the metadata GETs per refresh)
    from xarray_beam_spark.sources.zarr_io import open_zarr_meta

    # Fingerprint-then-fetch: take the probe BEFORE reading the metadata.
    # If the store is recreated/resized while we fetch, the cached pair
    # holds the PRE-fetch fingerprint, so the next probe mismatches and
    # re-fetches — caching the post-fetch fingerprint alongside possibly
    # stale metas would make every later probe match and serve stale
    # shapes indefinitely (the corruption path this cache must prevent).
    if not probed:
        fp = _meta_fingerprint(store)
    metas = open_zarr_meta(store)[2]
    _ARRAYS_META_CACHE[store] = (fp, time.monotonic(), metas)
    return metas


def _check_dim_order(v: str, var, meta, store: str) -> None:
    """Same guard the library write path applies (``zarr_io.py``,
    needs_setup=False): on a square grid a transposed chunk passes every
    size/alignment check and lands every value transposed — silent
    corruption — so dim ORDER must match the store, not just dim set."""
    if tuple(var.dims) != tuple(meta.logical_dims):
        raise ValueError(
            f"{v!r}: chunk dims {tuple(var.dims)} != store dims "
            f"{tuple(meta.logical_dims)}; transpose the chunk to the "
            f"store's dim order before writing to {store}"
        )


def _physical_region(meta, offsets: Mapping[str, int], shape: tuple) -> tuple:
    off = tuple(int(offsets.get(d, 0)) for d in meta.logical_dims)
    shape = tuple(shape)
    if meta.wrapped:
        # non-core dtypes are stored as uint8 with a TRAILING itemsize
        # axis (zarrlite: dims + ("__bytes__",)): the physical region is
        # the logical one plus offset 0 / full extent on that last axis
        off += (0,)
        shape += (meta.shape[-1],)
    return off, shape


def validate_zarr_chunk(offsets: Mapping[str, int], chunk: NDDataset, store: str) -> None:
    """Reference ``zarr.py:516-587`` as a per-chunk free function: check
    that every variable's region at ``offsets`` is write-unit-aligned
    (chunk, or shard for sharded v3) and in bounds — the safety rule that
    makes retried/speculative task writes race-free. Raises ``ValueError``
    with the exact violation; returns None when safe. For the built-in
    write path this runs inside ``to_zarr``; call it from custom
    ``mapInArrow`` writers before :func:`write_chunk_to_zarr`."""
    from xarray_beam_spark.sources import zarrlite

    def check(arrays: dict) -> None:
        for v, var in chunk.data_vars.items():
            if v not in arrays:
                raise ValueError(f"variable {v!r} not in store {store}")
            meta = arrays[v]
            _check_dim_order(v, var, meta, store)
            off, shape = _physical_region(meta, offsets, var.values.shape)
            zarrlite.validate_region_alignment(meta, off, shape)

    try:
        check(_arrays_meta(store))
    except ValueError:
        # The store may have been recreated/resized since the memo was
        # taken (long-lived executor): re-fetch once and re-validate
        # before surfacing the error.
        check(_arrays_meta(store, refresh=True))


def write_chunk_to_zarr(offsets: Mapping[str, int], chunk: NDDataset, store: str) -> int:
    """Reference ``zarr.py:590-633`` as a per-chunk free function: region-
    write every variable of ``chunk`` at ``offsets`` (CF-packing applied,
    atomic renames, alignment enforced). Returns compressed bytes written.
    The building block for custom executor-side writers; the library path
    (``to_zarr``) adds per-variable IO threading and write counters on
    top of the same primitives."""
    from xarray_beam_spark.sources import zarrlite
    from xarray_beam_spark.sources.zarr_io import cf_encode

    arrays = _arrays_meta(store)
    total = 0
    for v, var in chunk.data_vars.items():
        if v not in arrays:
            raise ValueError(f"variable {v!r} not in store {store}")
        meta = arrays[v]
        _check_dim_order(v, var, meta, store)
        off = {d: int(offsets.get(d, 0)) for d in meta.logical_dims}
        total += zarrlite.write_region(meta, off, cf_encode(meta, var.values))
    return total
