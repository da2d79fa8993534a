"""Pure-Python NetCDF3 chunk container + file-per-chunk sink/source.

The reference's docs (``docs/read-write.ipynb``) demonstrate "one netCDF
file per chunk" with a custom Beam write DoFn and a matching loader. No
netCDF library exists in this container, so this module implements the
NetCDF *classic* on-disk format from the public spec
(https://docs.unidata.ucar.edu/netcdf-c/current/file_format_specifications.html)
directly: CDF-2 magic (64-bit data offsets), big-endian headers and
payloads, fixed-size dimensions only. Files written here are readable by
any standard netCDF tool (``ncdump``, netCDF-C, xarray's scipy backend —
which is itself a pure-Python classic-format reader of the same spec).

Classic NetCDF3 has no 64-bit integer, string, or datetime types. To
round-trip every NDDataset dtype exactly while staying spec-compliant:

- i1/i2/i4/f4/f8 map to the native external types; bool maps to NC_BYTE.
- 64-bit ints / datetime64 / timedelta64 are stored bit-exactly as an
  int32 array with a trailing ``_xbs_hilo`` dimension of size 2
  (high word, low word) — a valid classic variable any tool can read.
- Unicode / bytes strings use the standard NC_CHAR encoding: UTF-8
  bytes padded to a fixed trailing ``_xbs_chrN`` dimension.

The original numpy dtype is recorded per variable in an ``_xbs_dtype``
attribute and the coord/data split in ``_xbs_group``, so :func:`loads`
reconstructs the exact NDDataset; other tools still see plain,
self-describing arrays.
"""

from __future__ import annotations

import hashlib
import json
import math
import struct
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xarray_beam_spark.dataset import Dataset, Template, _Source
from xarray_beam_spark.ndarray_ds import NDDataset, Variable
from xarray_beam_spark.sources import stores

_MAGIC = b"CDF\x02"  # CDF-2: classic model, 64-bit begin offsets
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
_NC_BYTE, _NC_CHAR, _NC_SHORT, _NC_INT, _NC_FLOAT, _NC_DOUBLE = range(1, 7)
_EXT_DTYPE = {
    _NC_BYTE: ">i1", _NC_CHAR: "S1", _NC_SHORT: ">i2",
    _NC_INT: ">i4", _NC_FLOAT: ">f4", _NC_DOUBLE: ">f8",
}
_EXT_SIZE = {_NC_BYTE: 1, _NC_CHAR: 1, _NC_SHORT: 2, _NC_INT: 4, _NC_FLOAT: 4, _NC_DOUBLE: 8}
_NATIVE_NC = {"i1": _NC_BYTE, "i2": _NC_SHORT, "i4": _NC_INT, "f4": _NC_FLOAT, "f8": _NC_DOUBLE}
_HILO_DIM = "_xbs_hilo"
_DTYPE_ATT, _GROUP_ATT, _ATTRS_ATT = "_xbs_dtype", "_xbs_group", "_xbs_attrs"


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _name(s: str) -> bytes:
    raw = s.encode("utf-8")
    return struct.pack(">i", len(raw)) + _pad4(raw)


def _att(name: str, value: str) -> bytes:
    raw = value.encode("utf-8")
    return _name(name) + struct.pack(">ii", _NC_CHAR, len(raw)) + _pad4(raw)


def _external(name: str, var: Variable) -> tuple[np.ndarray, tuple[str, ...], int]:
    """Convert to a classic-representable (array, dims, nc_type)."""
    est = var.values.size * max(var.values.dtype.itemsize, 1)
    if est >= 2**31:  # checked before materializing: NetCDF3 vsize is int32
        raise ValueError(
            f"variable {name!r} is ~{est} bytes; NetCDF3 vsize is int32 — "
            "write smaller chunks"
        )
    arr = np.ascontiguousarray(var.values)
    kind, size = arr.dtype.kind, arr.dtype.itemsize
    if kind == "b":
        return arr.astype(">i1"), var.dims, _NC_BYTE
    if kind in "iu" and size < 8 or kind == "f":
        tok = f"{'f' if kind == 'f' else 'i'}{size}"
        if kind == "u":  # u1/u2/u4 widen losslessly (f8 is exact below 2**53)
            tok = "i4" if size <= 2 else "f8"
        elif tok == "f2":  # no half type in classic netCDF; f4 is lossless
            tok = "f4"
        nc = _NATIVE_NC[tok]
        return arr.astype(_EXT_DTYPE[nc]), var.dims, nc
    if kind in "iu" and size == 8 or kind in "mM":
        v = arr.view(np.int64)
        hilo = np.empty(arr.shape + (2,), dtype=">i4")
        hilo[..., 0] = (v >> 32).astype(np.int32)
        hilo[..., 1] = (v & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
        return hilo, (*var.dims, _HILO_DIM), _NC_INT
    if kind in "US":
        b = np.char.encode(arr.astype("U"), "utf-8") if kind == "U" else arr.astype("S")
        width = max(1, b.dtype.itemsize)
        chars = np.frombuffer(
            np.ascontiguousarray(b).tobytes(), dtype="S1"
        ).reshape(arr.shape + (width,))
        return chars, (*var.dims, f"_xbs_chr{width}"), _NC_CHAR
    raise TypeError(f"variable {name!r}: dtype {arr.dtype} has no NetCDF3 encoding")


def _internal(raw: np.ndarray, dims: tuple[str, ...], token: str) -> Variable:
    """Invert :func:`_external` using the recorded dtype token."""
    want = np.dtype(token)
    if dims and dims[-1] == _HILO_DIM:
        hilo = raw.astype(np.int64)
        v = (hilo[..., 0] << 32) | (hilo[..., 1] & 0xFFFFFFFF)
        return Variable(dims[:-1], v.view(want))
    if dims and dims[-1].startswith("_xbs_chr"):
        width = raw.shape[-1]
        flat = raw.reshape(-1, width).view(f"S{width}").reshape(raw.shape[:-1])
        if want.kind == "U":
            flat = np.char.decode(flat, "utf-8").astype(want)
        else:
            flat = flat.astype(want)
        return Variable(dims[:-1], flat)
    if want.kind == "b":
        return Variable(dims, raw != 0)
    return Variable(dims, raw.astype(want))


def dumps(ds: NDDataset) -> bytes:
    """Serialize an NDDataset as a NetCDF3 classic (CDF-2) byte string."""
    plan = []  # (name, group, ext_array, ext_dims, nc_type, orig_dtype_token)
    dim_sizes: dict[str, int] = {}
    for group, mapping in (("coord", ds.coords), ("data", ds.data_vars)):
        for name in sorted(mapping):
            var = mapping[name]
            ext, dims, nc = _external(name, var)
            for d, s in zip(dims, ext.shape):
                if dim_sizes.setdefault(d, int(s)) != int(s):
                    raise ValueError(f"dimension {d!r}: conflicting sizes")
            plan.append((name, group, ext, dims, nc, var.values.dtype.str))
    dim_ids = {d: i for i, d in enumerate(dim_sizes)}

    for d, size in dim_sizes.items():
        if size == 0:
            # classic-format dlen 0 marks THE record (unlimited)
            # dimension; writing a fixed size-0 dim that way produces a
            # file real netCDF readers reinterpret or reject, while our
            # own loads() round-trips it — exactly the masked-divergence
            # class. Refuse loudly.
            raise ValueError(
                f"netcdf3: zero-length dimension {d!r} cannot be written "
                "(classic format reads size 0 as the unlimited dimension)"
            )
    head = bytearray()
    head += _MAGIC
    head += struct.pack(">i", 0)  # numrecs: no record variables
    if dim_sizes:
        head += struct.pack(">ii", _NC_DIMENSION, len(dim_sizes))
        for d, s in dim_sizes.items():
            head += _name(d) + struct.pack(">i", s)
    else:
        head += struct.pack(">ii", 0, 0)
    # global attrs: exact round-trip via one JSON attribute
    head += struct.pack(">ii", _NC_ATTRIBUTE, 1)
    head += _att(_ATTRS_ATT, json.dumps(ds.attrs, sort_keys=True, default=str))

    if plan:
        head += struct.pack(">ii", _NC_VARIABLE, len(plan))
    else:
        head += struct.pack(">ii", 0, 0)
    var_heads, sizes = [], []
    for name, group, ext, dims, nc, token in plan:
        vh = bytearray()
        vh += _name(name)
        vh += struct.pack(">i", len(dims))
        for d in dims:
            vh += struct.pack(">i", dim_ids[d])
        vh += struct.pack(">ii", _NC_ATTRIBUTE, 2)
        vh += _att(_DTYPE_ATT, token)
        vh += _att(_GROUP_ATT, group)
        nbytes = ext.size * _EXT_SIZE[nc]
        vsize = nbytes + (-nbytes % 4)
        if vsize >= 2**31:
            raise ValueError(
                f"variable {name!r} is {vsize} bytes; NetCDF3 vsize is int32 — "
                "write smaller chunks"
            )
        vh += struct.pack(">ii", nc, vsize)
        var_heads.append(vh)
        sizes.append(vsize)
    header_len = len(head) + sum(len(vh) + 8 for vh in var_heads)  # +8: int64 begin

    out = bytearray(head)
    begin = header_len
    for vh, vsize in zip(var_heads, sizes):
        out += vh + struct.pack(">q", begin)
        begin += vsize
    for _, _, ext, _, nc, _ in plan:
        out += _pad4(np.ascontiguousarray(ext).tobytes())
    return bytes(out)


class _Reader:
    def __init__(self, buf: bytes):
        self.buf, self.pos = buf, 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def i4(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i8(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def name(self) -> str:
        n = self.i4()
        raw = self.take(n + (-n % 4))[:n]
        return raw.decode("utf-8")

    def atts(self) -> dict[str, str]:
        tag, count = self.i4(), self.i4()
        out: dict[str, str] = {}
        if tag == 0:
            return out
        if tag != _NC_ATTRIBUTE:
            raise ValueError(f"bad attribute list tag {tag:#x}")
        for _ in range(count):
            nm = self.name()
            nc, nelems = self.i4(), self.i4()
            width = _EXT_SIZE.get(nc)
            if width is None:
                raise ValueError(f"bad attribute type {nc}")
            nbytes = nelems * width
            raw = self.take(nbytes + (-nbytes % 4))[:nbytes]
            if nc == _NC_CHAR:
                # the classic spec sets no charset for NC_CHAR attribute
                # text and legacy files commonly carry latin-1 (degree
                # signs in units); latin-1 decodes any byte, so valid
                # foreign files never bounce here
                try:
                    out[nm] = raw.decode("utf-8")
                except UnicodeDecodeError:
                    out[nm] = raw.decode("latin-1")
            else:
                out[nm] = np.frombuffer(raw, dtype=_EXT_DTYPE[nc], count=nelems)
        return out


def loads(buf: bytes) -> NDDataset:
    """Parse NetCDF3 classic bytes (CDF-1 or CDF-2) back to an NDDataset.

    Failure contract (fuzz-tested, matching the image codecs): any
    malformed stream raises ``ValueError``; internal parser errors never
    leak."""
    try:
        return _loads(buf)
    except ValueError:
        # includes UnicodeDecodeError / JSONDecodeError (both subclasses)
        raise
    except (
        struct.error, IndexError, KeyError, TypeError, OverflowError,
        MemoryError,
    ) as e:
        raise ValueError(
            f"netcdf3: corrupt or truncated stream ({type(e).__name__}: {e})"
        ) from e


def _loads(buf: bytes) -> NDDataset:
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a NetCDF3 classic file")
    wide = buf[3] == 2
    r = _Reader(buf)
    r.take(4)
    numrecs = r.i4()
    if numrecs not in (0,):
        raise ValueError("record (unlimited) dimensions are not supported")
    tag, ndims = r.i4(), r.i4()
    dims: list[tuple[str, int]] = []
    if tag == _NC_DIMENSION:
        dims = [(r.name(), r.i4()) for _ in range(ndims)]
    elif tag != 0 or ndims != 0:
        raise ValueError(f"bad dimension list tag {tag:#x}")
    gatts = r.atts()
    if _ATTRS_ATT in gatts:
        attrs = json.loads(gatts[_ATTRS_ATT])
    else:
        # FOREIGN file: keep its global attributes (ndarray scalars to
        # plain lists so the dataset stays JSON-encodable downstream)
        attrs = {
            k: (v.tolist() if hasattr(v, "tolist") else v)
            for k, v in gatts.items()
        }

    tag, nvars = r.i4(), r.i4()
    if tag not in (0, _NC_VARIABLE):
        raise ValueError(f"bad variable list tag {tag:#x}")
    data_vars: dict[str, Variable] = {}
    coords: dict[str, Variable] = {}
    for _ in range(nvars if tag == _NC_VARIABLE else 0):
        nm = r.name()
        vdims = tuple(dims[r.i4()][0] for _ in range(r.i4()))
        vatts = r.atts()
        # foreign per-variable attributes (CF packing: scale_factor /
        # add_offset / _FillValue, plus units etc.) must not be silently
        # dropped — surface them under attrs so callers can apply CF
        # decoding; own files (marked by the internal attrs attribute)
        # carry none and are unaffected
        if _ATTRS_ATT not in gatts:
            foreign_vatts = {
                k: (v.tolist() if hasattr(v, "tolist") else v)
                for k, v in vatts.items()
                if k not in (_DTYPE_ATT, _GROUP_ATT)
            }
            if foreign_vatts:
                attrs.setdefault("variable_attributes", {})[nm] = foreign_vatts
        nc, _vsize = r.i4(), r.i4()
        begin = r.i8() if wide else r.i4()
        shape = tuple(dict(dims)[d] for d in vdims)
        count = int(math.prod(shape)) if shape else 1
        raw = np.frombuffer(buf, dtype=_EXT_DTYPE[nc], count=count, offset=begin)
        raw = raw.reshape(shape)
        token = vatts.get(_DTYPE_ATT, _EXT_DTYPE[nc].lstrip(">"))
        var = _internal(raw, vdims, token)
        if vatts.get(_GROUP_ATT, "data") == "coord":
            coords[nm] = var
        else:
            data_vars[nm] = var
    return NDDataset(
        {k: (v.dims, v.values) for k, v in data_vars.items()},
        {k: (v.dims, v.values) for k, v in coords.items()},
        attrs,
    )


# ---------------------------------------------------------------------------
# File-per-chunk sink/source (reference docs/read-write.ipynb pattern)
# ---------------------------------------------------------------------------
_META_NAME = "_xbs_meta.json"
_TEMPLATE_NAME = "_template.nc"
_WRITE_STATS = T.StructType(
    [
        T.StructField("chunks_written", T.LongType()),
        T.StructField("bytes_written", T.LongType()),
    ]
)


def _chunk_fname(offsets: list[int], vars_token: str | None) -> str:
    stem = "chunk-" + ".".join(str(o) for o in offsets)
    if vars_token:  # split-vars chunks share offsets; disambiguate by token hash
        stem += "-" + hashlib.md5(vars_token.encode()).hexdigest()[:8]
    return stem + ".nc"


def to_netcdf_files(ds: Dataset, path: str) -> dict[str, int]:
    """Write one self-describing ``.nc`` file per chunk (reference
    ``docs/read-write.ipynb`` write pattern), fully distributed.

    Each task writes its chunk rows straight through the Store seam — no
    shuffle, no driver participation beyond two tiny sidecars (the
    virtual-dataset metadata and the template coords, themselves a
    netCDF3 file). Offsets are encoded in file names, exactly like the
    reference's ``key.with_offsets`` naming; each file also embeds its
    own chunk coords so any netCDF tool can open it standalone.
    """
    dims_sorted = ds.dims
    target = path

    def write(pairs) -> Iterator:
        import pyarrow as pa

        store, key = stores.resolve(target)
        n = b = 0
        for (offs, kvars), nd in pairs:
            buf = dumps(nd)
            fname = _chunk_fname([offs[d] for d in dims_sorted], kvars)
            store.put(stores.join(key, "chunks", fname), buf)
            n += 1
            b += len(buf)
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], pa.int64()), pa.array([b], pa.int64())],
            names=_WRITE_STATS.fieldNames(),
        )

    # the write ends the dataset's fused chain
    stats = ds._run(write, _WRITE_STATS).groupBy().sum().collect()[0]
    store, key = stores.resolve(target)
    meta = {
        "sizes": dict(ds.template.sizes),
        "var_meta": {k: [list(d), dt] for k, (d, dt) in ds.template.var_meta.items()},
        "chunks": dict(ds.chunks),
        "split_vars": ds.split_vars,
        "dims": list(dims_sorted),
        "format": "xbs-netcdf3-v1",
    }
    store.put(stores.join(key, _META_NAME), json.dumps(meta, sort_keys=True).encode())
    coords_ds = NDDataset({}, dict(ds.template.coords), dict(ds.template.attrs))
    store.put(stores.join(key, _TEMPLATE_NAME), dumps(coords_ds))
    return {"chunks_written": int(stats[0] or 0), "bytes_written": int(stats[1] or 0)}


def _open_collection(path: str):
    """Driver-side open of a ``to_netcdf_files`` collection: parse the
    two sidecars, rebuild the Template, list the chunk files. Shared by
    the lazy-Dataset and fused-table readers."""
    store, key = stores.resolve(path)
    raw = store.get(stores.join(key, _META_NAME))
    if raw is None:
        raise FileNotFoundError(f"no {_META_NAME} under {path!r}")
    meta = json.loads(raw.decode())
    if meta.get("format") != "xbs-netcdf3-v1":
        raise ValueError(f"unrecognized netcdf collection format: {meta.get('format')!r}")
    coords_raw = store.get(stores.join(key, _TEMPLATE_NAME))
    coords_ds = loads(coords_raw) if coords_raw is not None else NDDataset({}, {})
    template = Template(
        sizes={d: int(s) for d, s in meta["sizes"].items()},
        var_meta={k: (tuple(d), dt) for k, (d, dt) in meta["var_meta"].items()},
        coords=dict(coords_ds.coords),
        attrs=dict(coords_ds.attrs),
    )
    names = [
        f for f in store.list_dir(stores.join(key, "chunks")) if f.endswith(".nc")
    ]
    if not names:
        raise FileNotFoundError(f"no chunk files under {path!r}/chunks")
    return meta, template, names


def from_netcdf_files(
    spark: SparkSession, path: str, validate: bool = False
) -> Dataset:
    """Re-open a ``to_netcdf_files`` collection as a lazy Dataset
    (reference's custom netCDF loader pattern).

    The driver reads only the two sidecars and the file *listing*; the
    per-file parse happens in executors over a parallelized name list, so
    at 100 TB the driver holds one string per chunk and no data.
    """
    meta, template, names = _open_collection(path)
    dims_sorted = tuple(meta["dims"])
    split_vars = bool(meta["split_vars"])
    par = min(len(names), spark.sparkContext.defaultParallelism)
    fdf = spark.createDataFrame([(n,) for n in names], "fname string").repartition(par)
    target = path

    def read(batch) -> Iterator:
        store, key = stores.resolve(target)
        for fname in batch.column("fname").to_pylist():
            buf = store.get(stores.join(key, "chunks", fname))
            if buf is None:
                raise FileNotFoundError(f"chunk file vanished: {fname}")
            nd = loads(buf)
            stem = fname[len("chunk-") : -len(".nc")]
            offs = [int(o) for o in stem.split("-")[0].split(".")]
            kvars = ",".join(sorted(nd.data_vars)) if split_vars else None
            yield (dict(zip(dims_sorted, offs)), kvars), nd

    chunks = {d: int(c) for d, c in meta["chunks"].items()}
    ds = Dataset(spark, _Source(fdf, read), template, chunks, split_vars)
    return ds.validate() if validate else ds


def read_table(spark: SparkSession, path: str, dropna: bool = True) -> DataFrame:
    """Table read: parse each chunk file and explode it to long-format
    rows — ``from_netcdf_files(spark, path).to_table(dropna)``, whose
    fused chain runs the file parse and the explode in ONE Python pass,
    so a chunk never round-trips through the ``encode_chunk`` /
    ``decode_chunk`` payload codec. Split-variable collections add one
    grouped pass (their chunks must be consolidated across files before
    explosion can see every variable)."""
    return from_netcdf_files(spark, path).to_table(dropna=dropna)
