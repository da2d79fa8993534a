"""NDDataset — a minimal xarray.Dataset work-alike on bare NumPy.

The container (xarray, dask, zarr) is not available in this environment, so
the engine carries chunks as this self-contained structure: named
dimensions, 1-D coordinate arrays, and N-d data variables. It implements
exactly the surface the reference's per-chunk compute relies on
(``isel``/``transpose``/reductions/``concat``/``merge``/equality —
SURVEY.md §2.7), with xarray-compatible semantics so the reference's test
oracles translate directly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Mapping, Sequence

import numpy as np


@dataclass(frozen=True)
class Variable:
    dims: tuple[str, ...]
    values: np.ndarray

    def __post_init__(self):
        if len(self.dims) != np.ndim(self.values):
            raise ValueError(f"dims {self.dims} do not match array ndim {np.ndim(self.values)}")

    @property
    def sizes(self) -> dict[str, int]:
        return dict(zip(self.dims, np.shape(self.values)))

    def transpose(self, order: Sequence[str]) -> "Variable":
        kept = [d for d in order if d in self.dims]
        kept += [d for d in self.dims if d not in kept]
        axes = [self.dims.index(d) for d in kept]
        return Variable(tuple(kept), np.transpose(self.values, axes))


def _as_variable(v, name: str) -> Variable:
    if isinstance(v, Variable):
        return v
    if isinstance(v, tuple) and len(v) == 2:
        dims, values = v
        dims = (dims,) if isinstance(dims, str) else tuple(dims)
        return Variable(dims, np.asarray(values))
    arr = np.asarray(v)
    if arr.ndim == 1:
        return Variable((name,), arr)
    raise ValueError(f"cannot infer dims for variable {name!r}; pass (dims, values)")


class NDDataset:
    """Dict-of-arrays dataset with named dims and coords.

    Construction::

        NDDataset(
            data_vars={"foo": (("x", "y"), arr2d)},
            coords={"x": np.arange(8)},
            attrs={"title": "t"},
        )
    """

    __slots__ = ("data_vars", "coords", "attrs")

    def __init__(
        self,
        data_vars: Mapping[str, Any] | None = None,
        coords: Mapping[str, Any] | None = None,
        attrs: Mapping[str, Any] | None = None,
    ):
        self.data_vars: dict[str, Variable] = {
            k: _as_variable(v, k) for k, v in (data_vars or {}).items()
        }
        self.coords: dict[str, Variable] = {
            k: _as_variable(v, k) for k, v in (coords or {}).items()
        }
        self.attrs: dict[str, Any] = dict(attrs or {})
        self._check_sizes()

    # -- schema ------------------------------------------------------------

    def _check_sizes(self) -> None:
        seen: dict[str, int] = {}
        for name, var in {**self.coords, **self.data_vars}.items():
            for d, s in var.sizes.items():
                if seen.setdefault(d, s) != s:
                    raise ValueError(
                        f"conflicting size for dim {d!r}: {seen[d]} vs {s} (variable {name!r})"
                    )

    @property
    def sizes(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for var in {**self.coords, **self.data_vars}.values():
            out.update(var.sizes)
        return out

    @property
    def dims(self) -> tuple[str, ...]:
        return tuple(sorted(self.sizes))

    @property
    def nbytes(self) -> int:
        return sum(v.values.nbytes for v in {**self.coords, **self.data_vars}.values())

    def __contains__(self, name: str) -> bool:
        return name in self.data_vars

    def __getitem__(self, names) -> "NDDataset":
        """Project onto a subset of data variables (keeps relevant coords)."""
        if isinstance(names, str):
            names = [names]
        missing = [n for n in names if n not in self.data_vars]
        if missing:
            raise KeyError(f"no such data variables: {missing}")
        dv = {n: self.data_vars[n] for n in names}
        used_dims = {d for v in dv.values() for d in v.dims}
        cc = {k: v for k, v in self.coords.items() if set(v.dims) <= used_dims}
        return NDDataset(dv, cc, self.attrs)

    def drop_vars(self, names: Iterable[str]) -> "NDDataset":
        names = {names} if isinstance(names, str) else set(names)
        return NDDataset(
            {k: v for k, v in self.data_vars.items() if k not in names},
            {k: v for k, v in self.coords.items() if k not in names},
            self.attrs,
        )

    # -- indexing ----------------------------------------------------------

    def isel(self, indexers: Mapping[str, Any] | None = None, **kw) -> "NDDataset":
        idx = {**(indexers or {}), **kw}
        sizes = self.sizes
        unknown = [d for d in idx if d not in sizes]
        if unknown:
            # xarray raises here too — a typo'd dim name silently
            # returning the full dataset is a wrong answer, not a no-op
            raise ValueError(
                f"isel indexers for nonexistent dimensions: {unknown} "
                f"(dataset dims: {sorted(sizes)})"
            )

        def take(var: Variable) -> Variable:
            # one axis at a time: xarray's OUTER-indexing semantics (an
            # all-at-once numpy key with 2+ arrays would be numpy's
            # diagonal advanced indexing); integer indexers drop the dim
            vals = var.values
            out_dims = list(var.dims)
            for d in var.dims:
                if d not in idx:
                    continue
                sel = idx[d]
                ax = out_dims.index(d)
                if isinstance(sel, slice):
                    vals = vals[(slice(None),) * ax + (sel,)]
                elif isinstance(sel, (int, np.integer)) and not isinstance(sel, bool):
                    vals = np.take(vals, int(sel), axis=ax)
                    out_dims.pop(ax)
                else:
                    arr = np.asarray(sel)
                    if arr.ndim != 1:
                        raise ValueError(
                            f"isel indexer for {d!r} must be an int, slice, "
                            f"or 1-D sequence; got ndim {arr.ndim}"
                        )
                    if arr.dtype == bool:
                        if len(arr) != vals.shape[ax]:
                            raise ValueError(
                                f"boolean indexer for {d!r} has length "
                                f"{len(arr)}, dim has {vals.shape[ax]}"
                            )
                        arr = np.nonzero(arr)[0]
                    vals = np.take(vals, arr, axis=ax)
            return Variable(tuple(out_dims), vals)

        return NDDataset(
            {k: take(v) for k, v in self.data_vars.items()},
            {k: take(v) for k, v in self.coords.items()},
            self.attrs,
        )

    def transpose(self, *order: str) -> "NDDataset":
        order = order or tuple(reversed(self.dims))
        return NDDataset(
            {k: v.transpose(order) for k, v in self.data_vars.items()},
            {k: v.transpose(order) for k, v in self.coords.items()},
            self.attrs,
        )

    # -- compute -----------------------------------------------------------

    def map(self, func: Callable[[np.ndarray], np.ndarray]) -> "NDDataset":
        """Apply an elementwise/shape-preserving function to each data var."""
        return NDDataset(
            {k: Variable(v.dims, np.asarray(func(v.values))) for k, v in self.data_vars.items()},
            self.coords,
            self.attrs,
        )

    def _reduce(
        self,
        np_fn,
        nan_fn,
        dim: str | Sequence[str] | None,
        skipna: bool,
        dtype=None,
        ddof: int | None = None,
    ) -> "NDDataset":
        dims = [dim] if isinstance(dim, str) else (list(dim) if dim is not None else None)
        out_vars: dict[str, Variable] = {}
        for name, var in self.data_vars.items():
            red = [d for d in (dims if dims is not None else var.dims) if d in var.dims]
            axes = tuple(var.dims.index(d) for d in red)
            fn = nan_fn if (skipna and np.issubdtype(var.values.dtype, np.floating)) else np_fn
            kwargs: dict[str, Any] = {}
            if dtype is not None:
                kwargs["dtype"] = dtype
            if ddof is not None:
                kwargs["ddof"] = ddof
            vals = fn(var.values, axis=axes or None, **kwargs) if axes or dims is None else var.values
            if not axes and dims is not None:
                vals = var.values
            new_dims = tuple(d for d in var.dims if d not in red)
            out_vars[name] = Variable(new_dims, np.asarray(vals))
        kept = {d for v in out_vars.values() for d in v.dims}
        coords = {k: v for k, v in self.coords.items() if set(v.dims) <= kept}
        return NDDataset(out_vars, coords, self.attrs)

    def mean(self, dim=None, skipna: bool = True, dtype=None) -> "NDDataset":
        return self._reduce(np.mean, np.nanmean, dim, skipna, dtype)

    def sum(self, dim=None, skipna: bool = True, dtype=None) -> "NDDataset":
        return self._reduce(np.sum, np.nansum, dim, skipna, dtype)

    def min(self, dim=None, skipna: bool = True) -> "NDDataset":
        return self._reduce(np.min, np.nanmin, dim, skipna)

    def max(self, dim=None, skipna: bool = True) -> "NDDataset":
        return self._reduce(np.max, np.nanmax, dim, skipna)

    def std(self, dim=None, skipna: bool = True, ddof: int = 0) -> "NDDataset":
        return self._reduce(np.std, np.nanstd, dim, skipna, ddof=ddof)

    def var(self, dim=None, skipna: bool = True, ddof: int = 0) -> "NDDataset":
        return self._reduce(np.var, np.nanvar, dim, skipna, ddof=ddof)

    def median(self, dim=None, skipna: bool = True) -> "NDDataset":
        return self._reduce(np.median, np.nanmedian, dim, skipna)

    def quantile(self, q: float, dim=None, skipna: bool = True) -> "NDDataset":
        def qfn(a, axis=None):
            return np.quantile(a, q, axis=axis)

        def nanqfn(a, axis=None):
            return np.nanquantile(a, q, axis=axis)

        return self._reduce(qfn, nanqfn, dim, skipna)

    def count(self, dim=None) -> "NDDataset":
        counted = NDDataset(
            {
                k: Variable(v.dims, (~np.isnan(v.values)).astype(np.int64)
                            if np.issubdtype(v.values.dtype, np.floating)
                            else np.ones(np.shape(v.values), np.int64))
                for k, v in self.data_vars.items()
            },
            self.coords,
            self.attrs,
        )
        return counted._reduce(np.sum, np.sum, dim, skipna=False)

    def where(self, cond_fn: Callable[[np.ndarray], np.ndarray], other=np.nan) -> "NDDataset":
        """Elementwise mask (xarray ``Dataset.where``): keep values where
        ``cond_fn(values)`` is True, else ``other``."""
        def mask(a: np.ndarray) -> np.ndarray:
            if not np.issubdtype(a.dtype, np.floating):
                a = a.astype(np.float64)
            return np.where(cond_fn(a), a, other)

        return self.map(mask)

    def fillna(self, value) -> "NDDataset":
        def fill(a: np.ndarray) -> np.ndarray:
            if np.issubdtype(a.dtype, np.floating):
                return np.where(np.isnan(a), np.asarray(value, a.dtype), a)
            return a

        return self.map(fill)

    def expand_dims(self, dim_sizes: Mapping[str, int] | None = None, **kw) -> "NDDataset":
        ds = {**(dim_sizes or {}), **kw}
        out = self
        for d, n in ds.items():
            out = NDDataset(
                {
                    k: Variable((d,) + v.dims, np.broadcast_to(v.values[None, ...], (n,) + v.values.shape).copy())
                    for k, v in out.data_vars.items()
                },
                out.coords,
                out.attrs,
            )
        return out

    def assign_coords(self, coords: Mapping[str, Any] | None = None, **kw) -> "NDDataset":
        new = {**self.coords, **{k: _as_variable(v, k) for k, v in {**(coords or {}), **kw}.items()}}
        return NDDataset(self.data_vars, new, self.attrs)

    # -- combine -----------------------------------------------------------

    @staticmethod
    def concat(datasets: Sequence["NDDataset"], dim: str) -> "NDDataset":
        """Concatenate along an existing dim (xarray.concat semantics for
        shared variables; variables lacking the dim must be identical)."""
        if not datasets:
            raise ValueError("concat of empty list")
        first = datasets[0]
        for d in datasets[1:]:
            # iterate the FIRST dataset's names below — a var present
            # only in a later chunk would silently vanish (and one
            # missing from a later chunk would surface as a bare
            # KeyError); both directions must be loud, the same rule the
            # lacks-the-dim branch applies to VALUES
            if set(d.data_vars) != set(first.data_vars):
                raise ValueError(
                    f"concat along {dim!r}: datasets carry different "
                    f"variables ({sorted(first.data_vars)} vs "
                    f"{sorted(d.data_vars)})"
                )
            if set(d.coords) != set(first.coords):
                raise ValueError(
                    f"concat along {dim!r}: datasets carry different "
                    f"coords ({sorted(first.coords)} vs {sorted(d.coords)})"
                )
        out_vars: dict[str, Variable] = {}
        for name, var in first.data_vars.items():
            if dim in var.dims:
                ax = var.dims.index(dim)
                out_vars[name] = Variable(
                    var.dims, np.concatenate([d.data_vars[name].values for d in datasets], axis=ax)
                )
            else:
                # carrying the first copy forward silently would hide a
                # wrong answer when chunks disagree (reference parity:
                # xarray-beam's combine raises on inconsistent unchunked
                # variables, rechunk_test.py:332-371)
                for d in datasets[1:]:
                    if not _var_equal(var, d.data_vars[name]):
                        raise ValueError(
                            f"combining chunks along {dim!r} failed: "
                            f"variable {name!r} lacks that dim but differs "
                            "between chunks"
                        )
                out_vars[name] = var
        out_coords: dict[str, Variable] = {}
        for name, var in first.coords.items():
            if dim in var.dims:
                ax = var.dims.index(dim)
                out_coords[name] = Variable(
                    var.dims, np.concatenate([d.coords[name].values for d in datasets], axis=ax)
                )
            else:
                for d in datasets[1:]:
                    if not _var_equal(var, d.coords[name]):
                        raise ValueError(
                            f"combining chunks along {dim!r} failed: "
                            f"coord {name!r} lacks that dim but differs "
                            "between chunks"
                        )
                out_coords[name] = var
        return NDDataset(out_vars, out_coords, first.attrs)

    @staticmethod
    def merge(datasets: Sequence["NDDataset"]) -> "NDDataset":
        """Union of variables (xarray.merge): duplicate names must be equal."""
        dv: dict[str, Variable] = {}
        cc: dict[str, Variable] = {}
        attrs: dict[str, Any] = {}
        for ds in datasets:
            for name, var in ds.data_vars.items():
                if name in dv and not _var_equal(dv[name], var):
                    raise ValueError(f"merge conflict on variable {name!r}")
                dv.setdefault(name, var)
            for name, var in ds.coords.items():
                if name in cc and not _var_equal(cc[name], var):
                    raise ValueError(f"merge conflict on coord {name!r}")
                cc.setdefault(name, var)
            attrs.update(ds.attrs)
        return NDDataset(dv, cc, attrs)

    @staticmethod
    def block(parts: Mapping[tuple[int, ...], "NDDataset"], dims: Sequence[str]) -> "NDDataset":
        """Assemble a grid of datasets into one (np.block analogue).

        ``parts`` maps grid indices (one per entry of ``dims``) to chunks.
        Implemented as nested concat, innermost dim first.
        """
        if not parts:
            raise ValueError("block of empty mapping")
        if not dims:
            (only,) = parts.values()
            return only
        head, rest = dims[0], list(dims[1:])
        groups: dict[int, dict[tuple[int, ...], NDDataset]] = {}
        for idx, ds in parts.items():
            groups.setdefault(idx[0], {})[idx[1:]] = ds
        slabs = [NDDataset.block(groups[i], rest) for i in sorted(groups)]
        return NDDataset.concat(slabs, head) if len(slabs) > 1 else slabs[0]

    # -- comparison --------------------------------------------------------

    def equals(self, other: "NDDataset") -> bool:
        return self._cmp(other, check_attrs=False, approx=False)

    def identical(self, other: "NDDataset") -> bool:
        return self._cmp(other, check_attrs=True, approx=False)

    def allclose(self, other: "NDDataset", rtol: float = 1e-5, atol: float = 1e-8) -> bool:
        return self._cmp(other, check_attrs=False, approx=True, rtol=rtol, atol=atol)

    def _cmp(self, other, check_attrs, approx, rtol=1e-5, atol=1e-8) -> bool:
        if set(self.data_vars) != set(other.data_vars) or set(self.coords) != set(other.coords):
            return False
        for mine, theirs in ((self.data_vars, other.data_vars), (self.coords, other.coords)):
            for name, var in mine.items():
                if not _var_equal(var, theirs[name], approx=approx, rtol=rtol, atol=atol):
                    return False
        if check_attrs and self.attrs != other.attrs:
            return False
        return True

    def __repr__(self) -> str:
        dims = ", ".join(f"{d}: {s}" for d, s in sorted(self.sizes.items()))
        dv = ", ".join(f"{k}{v.dims}" for k, v in self.data_vars.items())
        return f"<NDDataset ({dims}) data_vars: {dv}>"


def _var_equal(a: Variable, b: Variable, approx: bool = False, rtol=1e-5, atol=1e-8) -> bool:
    if a.dims != b.dims or a.values.shape != b.values.shape:
        return False
    if a.values.dtype != b.values.dtype and not approx:
        return False
    av, bv = a.values, b.values
    if av.dtype.kind in "fc":
        if approx:
            return bool(np.allclose(av, bv, rtol=rtol, atol=atol, equal_nan=True))
        return bool(np.array_equal(av, bv, equal_nan=True))
    return bool(np.array_equal(av, bv))
