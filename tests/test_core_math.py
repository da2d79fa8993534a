"""Pure-math kernel tests (chunk grids, keys, split bounds, rechunk plans).

Mirrors the reference's test strategy (``core_test.py``,
``rechunker_algorithm_test.py``): exact unit cases + Hypothesis properties.
"""

from __future__ import annotations

import os
import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xarray_beam_spark import core
from xarray_beam_spark.plans import rechunk_plan


def test_key_basics():
    k = core.Key.make({"x": 0, "y": 10}, {"foo"})
    assert k.offsets_dict == {"x": 0, "y": 10}
    assert k.vars == frozenset({"foo"})
    k2 = k.with_offsets(x=5, y=None)
    assert k2.offsets_dict == {"x": 5}
    assert hash(core.Key.make({"x": 0})) == hash(core.Key.make({"x": 0}))


def test_expand_chunks():
    assert core.expand_chunks(3, 10) == (3, 3, 3, 1)
    assert core.expand_chunks(5, 10) == (5, 5)
    assert core.expand_chunks(10, 10) == (10,)
    assert core.expand_chunks(20, 10) == (10,)  # oversized -> single
    with pytest.raises(ValueError):
        core.expand_chunks(0, 10)


def test_normalize_chunks():
    assert core.normalize_chunks({"x": 3}, {"x": 10, "y": 4}) == {"x": 3, "y": 4}
    assert core.normalize_chunks({"x": -1}, {"x": 10}) == {"x": 10}
    assert core.normalize_chunks({"x": 99}, {"x": 10}) == {"x": 10}


def test_normalize_chunks_reference_parity():
    """Reference surface (dataset.py:130-175): scalar, ellipsis, 'auto'."""
    sizes = {"x": 10, "y": 4}
    # bare int applies to every dim
    assert core.normalize_chunks(3, sizes) == {"x": 3, "y": 3}
    # ... = "all other dims"
    assert core.normalize_chunks({"x": 2, ...: 3}, sizes) == {"x": 2, "y": 3}
    assert core.normalize_chunks({...: -1}, sizes) == {"x": 10, "y": 4}
    # 'auto' rejected with the reference's explicit message
    with pytest.raises(ValueError, match="does not support 'auto'"):
        core.normalize_chunks("auto", sizes)
    with pytest.raises(ValueError, match="does not support 'auto'"):
        core.normalize_chunks({"x": "auto"}, sizes)
    # unknown dims fail loudly
    with pytest.raises(ValueError, match="unknown dimensions"):
        core.normalize_chunks({"z": 3}, sizes)
    # distinct byte budgets rejected (reference dataset.py:146-150)
    with pytest.raises(ValueError, match="multiple distinct"):
        core.normalize_chunks({"x": "1MB", "y": "2MB"}, sizes, itemsize=8)


def test_normalize_chunks_joint_byte_budget():
    # one shared budget over two dims: 256 B / 8 B itemsize = 32 elements,
    # waterfilled: y (size 4) saturates, x gets the remaining 32/4 = 8
    sizes = {"x": 100, "y": 4}
    got = core.normalize_chunks({"x": "256B", "y": "256B"}, sizes, itemsize=8)
    assert got == {"x": 8, "y": 4}
    # scalar byte-string = same budget on every dim
    assert core.normalize_chunks("256B", sizes, itemsize=8) == {"x": 8, "y": 4}
    # single byte spec against a fixed dim unchanged (old behavior)
    got = core.normalize_chunks({"x": "64B", "y": 2}, sizes, itemsize=8)
    assert got == {"x": 4, "y": 2}


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_normalize_chunks_properties(data):
    ndim = data.draw(st.integers(1, 4))
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 1000), label=f"size_{d}") for d in dims}
    use_ellipsis = data.draw(st.booleans())
    chunks: dict = {}
    for d in dims:
        kind = data.draw(st.sampled_from(["absent", "int", "minus1", "over"]))
        if kind == "int":
            chunks[d] = data.draw(st.integers(1, sizes[d]), label=f"c_{d}")
        elif kind == "minus1":
            chunks[d] = -1
        elif kind == "over":
            chunks[d] = sizes[d] + data.draw(st.integers(1, 100))
    if use_ellipsis:
        chunks[...] = data.draw(st.sampled_from([-1, 7, 64]))
    out = core.normalize_chunks(chunks, sizes)
    assert set(out) == set(sizes)
    for d in dims:
        assert 1 <= out[d] <= sizes[d]
        spec = chunks.get(d, chunks.get(..., -1) if use_ellipsis else -1)
        if isinstance(spec, int) and 1 <= spec <= sizes[d]:
            assert out[d] == spec
        elif isinstance(spec, int):
            assert out[d] == sizes[d]  # -1 / oversized -> whole dim


@settings(max_examples=100, deadline=None)
@given(data=st.data())
def test_normalize_chunks_byte_budget_property(data):
    """A shared byte budget never over-allocates: the resolved chunk's
    payload is <= target unless the 1-element-per-dim floor forces more."""
    ndim = data.draw(st.integers(1, 3))
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 500), label=f"size_{d}") for d in dims}
    itemsize = data.draw(st.sampled_from([1, 4, 8]))
    target = data.draw(st.sampled_from([64, 4096, 10**6]))
    out = core.normalize_chunks({...: f"{target}B"}, sizes, itemsize=itemsize)
    import math

    payload = math.prod(out.values()) * itemsize
    floor = itemsize  # every dim clamped to >= 1 element
    # escape hatch is ONLY the 1-element-per-dim floor: accepting
    # out[d] == sizes[d] too would let a budget-ignoring regression
    # (returning whole dims) satisfy the property on every example
    assert payload <= max(target, floor) or all(
        out[d] == 1 for d in dims
    ), (out, payload, target)


def test_iter_chunk_keys():
    keys = list(core.iter_chunk_keys({"x": 6, "y": 4}, {"x": 3, "y": 4}))
    assert [k.offsets_dict for k in keys] == [{"x": 0, "y": 0}, {"x": 3, "y": 0}]


def test_key_for_index_roundtrip():
    sizes = {"t": 7, "x": 10, "y": 5}
    chunks = {"t": 2, "x": 3, "y": 5}
    n = core.chunk_count(chunks, sizes)
    got = [core.key_for_index(i, sizes, chunks) for i in range(n)]
    want = [k.offsets_dict for k in core.iter_chunk_keys(sizes, chunks)]
    # canonicalize by ITEMS: key=sorted sorts dict KEYS (a constant for
    # equal-keyed dicts), silently degrading to order-sensitive equality
    canon = lambda d: sorted(d.items())  # noqa: E731
    assert sorted(got, key=canon) == sorted(want, key=canon)
    assert len(got) == len({tuple(sorted(g.items())) for g in got})
    with pytest.raises(IndexError):
        core.key_for_index(n, sizes, chunks)


def test_offsets_to_slices():
    sl = core.offsets_to_slices({"x": 3}, {"x": 3}, {"x": 10, "y": 4})
    assert sl == {"x": slice(3, 6), "y": slice(0, 4)}


def test_chunk_bounds_overlap_unaligned():
    # range [2, 9) on a grid of 4 -> cells 0,4,8
    got = list(core.chunk_bounds_overlap(2, 9, 4))
    assert got == [(0, 2, 4), (4, 4, 8), (8, 8, 9)]


@given(
    size=st.integers(1, 200),
    chunk=st.integers(1, 50),
)
def test_expand_chunks_property(size, chunk):
    parts = core.expand_chunks(chunk, size)
    assert sum(parts) == size
    assert all(p == min(chunk, size) for p in parts[:-1])
    assert parts[-1] <= min(chunk, size)


@given(
    start=st.integers(0, 100),
    length=st.integers(1, 100),
    target=st.integers(1, 30),
)
def test_chunk_bounds_cover_property(start, length, target):
    stop = start + length
    pieces = list(core.chunk_bounds_overlap(start, stop, target))
    # pieces tile [start, stop) exactly
    assert pieces[0][1] == start and pieces[-1][2] == stop
    for (_, _, hi), (_, lo2, _) in zip(pieces, pieces[1:]):
        assert hi == lo2
    for goff, lo, hi in pieces:
        assert goff <= lo < hi <= goff + target


@settings(max_examples=200, deadline=None)
@given(
    ndim=st.integers(1, 3),
    data=st.data(),
)
def test_rechunk_plan_properties(ndim, data):
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 500), label=f"size_{d}") for d in dims}
    src = {d: data.draw(st.integers(1, sizes[d]), label=f"src_{d}") for d in dims}
    tgt = {d: data.draw(st.integers(1, sizes[d]), label=f"tgt_{d}") for d in dims}
    itemsize = data.draw(st.sampled_from([1, 4, 8]))
    max_mem = data.draw(st.sampled_from([10_000, 1_000_000, 2**30]))
    stages = rechunk_plan.plan_stages(sizes, src, tgt, itemsize, max_mem)
    # endpoints preserved (after clipping to sizes)
    assert stages[0] == {d: min(src[d], sizes[d]) for d in dims}
    assert stages[-1] == {d: min(tgt[d], sizes[d]) for d in dims}
    floor = rechunk_plan.stage_gather_bytes(stages[-1], stages[-1], itemsize)
    for a, b in zip(stages, stages[1:]):
        assert a != b
        assert rechunk_plan.stage_gather_bytes(a, b, itemsize) <= max(max_mem, floor)
    assert len(stages) <= rechunk_plan.MAX_STAGES + 1


@given(ndim=st.integers(1, 3), data=st.data())
def test_rechunk_plan_cost_and_min_mem(ndim, data):
    """VERDICT r1 #5 (re-weighted r2): the planner minimizes the
    Spark-shuffle plan cost over the ladder family and honors the
    min_mem intermediate floor."""
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 300), label=f"size_{d}") for d in dims}
    src = {d: data.draw(st.integers(1, sizes[d]), label=f"src_{d}") for d in dims}
    tgt = {d: data.draw(st.integers(1, sizes[d]), label=f"tgt_{d}") for d in dims}
    itemsize = 8
    max_mem = data.draw(st.sampled_from([50_000, 2**30]))
    stages = rechunk_plan.plan_stages(sizes, src, tgt, itemsize, max_mem)
    cost = rechunk_plan.plan_cost(sizes, stages, itemsize)
    # never worse than the direct plan when the direct plan is feasible
    direct = [stages[0], stages[-1]]
    floor = rechunk_plan.stage_gather_bytes(stages[-1], stages[-1], itemsize)
    if direct[0] != direct[-1] and rechunk_plan.stage_gather_bytes(
        *direct, itemsize
    ) <= max(max_mem, floor):
        assert cost <= rechunk_plan.plan_cost(sizes, direct, itemsize) + 1e-9
    # min_mem floor: no intermediate tinier than floor(min_mem, endpoints)
    mem_floor = min(
        max_mem // 100,
        rechunk_plan.chunk_nbytes(stages[0], itemsize),
        rechunk_plan.chunk_nbytes(stages[-1], itemsize),
    )
    for mid in stages[1:-1]:
        assert rechunk_plan.chunk_nbytes(mid, itemsize) >= mem_floor


@settings(max_examples=100, deadline=None)
@given(ndim=st.integers(1, 3), data=st.data())
def test_rechunk_plan_explicit_min_mem(ndim, data):
    """An EXPLICIT min_mem (the reference rechunk.py:562-563 kwarg, now on
    Dataset.rechunk too) is honored alongside max_mem: no intermediate
    chunk payload below min(min_mem, endpoint payloads), no stage gather
    above max(max_mem, irreducible target cost)."""
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 400), label=f"size_{d}") for d in dims}
    src = {d: data.draw(st.integers(1, sizes[d]), label=f"src_{d}") for d in dims}
    tgt = {d: data.draw(st.integers(1, sizes[d]), label=f"tgt_{d}") for d in dims}
    itemsize = 8
    max_mem = data.draw(st.sampled_from([50_000, 1_000_000]))
    min_mem = data.draw(st.sampled_from([0, 1_000, max_mem // 10]))
    stages = rechunk_plan.plan_stages(sizes, src, tgt, itemsize, max_mem, min_mem)
    mem_floor = min(
        min_mem,
        rechunk_plan.chunk_nbytes(stages[0], itemsize),
        rechunk_plan.chunk_nbytes(stages[-1], itemsize),
    )
    gather_floor = rechunk_plan.stage_gather_bytes(stages[-1], stages[-1], itemsize)
    for mid in stages[1:-1]:
        assert rechunk_plan.chunk_nbytes(mid, itemsize) >= mem_floor
    for a, b in zip(stages, stages[1:]):
        assert rechunk_plan.stage_gather_bytes(a, b, itemsize) <= max(
            max_mem, gather_floor
        )


def test_rechunk_plan_io_op_model_exact():
    # 1-D union-grid interval counts, hand-checked
    assert rechunk_plan.stage_io_ops({"t": 12}, {"t": 3}, {"t": 4}) == 6
    assert rechunk_plan.stage_io_ops({"t": 12}, {"t": 4}, {"t": 4}) == 3
    assert rechunk_plan.stage_io_ops({"t": 7}, {"t": 2}, {"t": 3}) == 4 + 3 - 2
    # multistage beats direct on an adversarial pancake→pencil move
    sizes = {"t": 1000, "x": 100}
    plan = rechunk_plan.plan_stages(sizes, {"t": 1, "x": 100}, {"t": 1000, "x": 1}, 8, 80_000)
    assert len(plan) > 2
    assert rechunk_plan.plan_cost(sizes, plan, 8) < rechunk_plan.plan_cost(
        sizes, [plan[0], plan[-1]], 8
    )


def test_rechunk_plan_prefers_direct_shuffle_at_scale():
    """Spark-economics regression (measured in scripts/throughput.py):
    pancakes→pencils on a 2 GB grid has only ~4k elementary regions of
    ~1 MB — one shuffle moves them fine; the old lcm-minimizing objective
    planned 3 extra whole-dataset copies and tripled wall-clock."""
    sizes = {"time": 1953, "y": 512, "x": 512}
    plan = rechunk_plan.plan_stages(
        sizes, {"time": 30, "y": 512, "x": 512}, {"time": 1953, "y": 64, "x": 64}, 4
    )
    assert len(plan) == 2, plan
    # degenerate region explosions still go multistage
    big = {"t": 100_000, "x": 10_000}
    plan2 = rechunk_plan.plan_stages(big, {"t": 1, "x": 10_000}, {"t": 100_000, "x": 1}, 8)
    assert len(plan2) > 2


def test_key_indices_mode():
    """Reference core.py:71-80: indices addressing is a view over offsets."""
    from xarray_beam_spark.core import Key

    k = Key.from_indices({"x": 4, "t": 0}, {"x": 100, "t": 10}, vars={"foo"})
    assert k.offsets_dict == {"x": 400, "t": 0}
    assert k.indices({"x": 100, "t": 10}) == {"x": 4, "t": 0}
    assert k.vars == frozenset({"foo"})
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a multiple"):
        Key.make({"x": 450}).indices({"x": 100})


def test_in_memory_rechunk():
    """Pure consolidate+split over (offsets, NDDataset) pairs (reference
    rechunk.py:492-500 parity)."""
    import numpy as np
    from xarray_beam_spark.dataset import in_memory_rechunk
    from xarray_beam_spark.ndarray_ds import NDDataset

    rng = np.random.default_rng(0)
    full = NDDataset(
        {"v": (("x", "y"), rng.normal(size=(12, 6)))},
        coords={"x": np.arange(12)},
    )
    inputs = [
        ({"x": o, "y": 0}, full.isel({"x": slice(o, o + 3)}))
        for o in range(0, 12, 3)
    ]
    got = list(in_memory_rechunk(inputs, {"x": 4}))
    assert len(got) == 3
    for off, ds in got:
        np.testing.assert_array_equal(
            ds.data_vars["v"].values, full.data_vars["v"].values[off["x"]: off["x"] + 4]
        )
        np.testing.assert_array_equal(
            ds.coords["x"].values, np.arange(off["x"], off["x"] + 4)
        )
    # non-zero base offsets stay on the global target grid
    inputs2 = [({"x": 4 + o}, full.isel({"x": slice(o, o + 2)})) for o in range(0, 8, 2)]
    assert [o["x"] for o, _ in in_memory_rechunk(inputs2, {"x": 4})] == [4, 8]
    # gappy inputs (chunk 0 and 2, no 1) must fail loudly, not mis-concat
    import pytest as _pytest

    gappy = [inputs[0], inputs[2]]
    with _pytest.raises(ValueError, match="do not tile"):
        list(in_memory_rechunk(gappy, {"x": 4}))


def test_in_memory_rechunk_rejects_duplicate_offsets():
    """Duplicate (offsets, chunk) inputs — e.g. a retried upstream task
    emitting twice — must fail loudly, not last-write-wins."""
    import numpy as np
    import pytest as _pytest

    from xarray_beam_spark.dataset import in_memory_rechunk
    from xarray_beam_spark.ndarray_ds import NDDataset

    a = NDDataset({"v": (("x",), np.arange(3.0))})
    b = NDDataset({"v": (("x",), np.full(3, 99.0))})
    c = NDDataset({"v": (("x",), np.arange(3.0))})
    with _pytest.raises(ValueError, match="same offsets"):
        list(in_memory_rechunk([({"x": 0}, a), ({"x": 0}, b), ({"x": 3}, c)], {"x": 3}))


@settings(max_examples=300, deadline=None)
@given(ndim=st.integers(1, 4), data=st.data())
def test_gather_dim_chunks_bounded(ndim, data):
    """VERDICT r7 #1: a whole-dim gather target never exceeds max_mem —
    other dims auto-split until every post-gather chunk fits, or the
    irreducible single-series case raises with the remedy."""
    dims = [f"d{i}" for i in range(ndim)]
    sizes = {d: data.draw(st.integers(1, 10_000), label=f"size_{d}") for d in dims}
    chunks = {d: data.draw(st.integers(1, sizes[d]), label=f"chunk_{d}") for d in dims}
    gdim = data.draw(st.sampled_from(dims))
    itemsize = data.draw(st.sampled_from([1, 4, 8]))
    max_mem = data.draw(st.sampled_from([1_000, 100_000, 2**30]))
    if sizes[gdim] * itemsize > max_mem:
        with pytest.raises(ValueError, match="Raise max_mem"):
            rechunk_plan.gather_dim_chunks(sizes, chunks, gdim, itemsize, max_mem)
        return
    tgt = rechunk_plan.gather_dim_chunks(sizes, chunks, gdim, itemsize, max_mem)
    assert tgt[gdim] == sizes[gdim]  # the gathered dim is whole
    assert rechunk_plan.chunk_nbytes(tgt, itemsize) <= max_mem
    for d in dims:
        assert 1 <= tgt[d] <= sizes[d]
        if d != gdim:  # never GROW another dim's chunks
            assert tgt[d] <= min(chunks[d], sizes[d])
    # no unnecessary splitting: when the unsplit target already fits, keep it
    unsplit = {**{d: min(chunks[d], sizes[d]) for d in dims}, gdim: sizes[gdim]}
    if rechunk_plan.chunk_nbytes(unsplit, itemsize) <= max_mem:
        assert tgt == unsplit


def test_dask_to_xbeam_chunks():
    """Reference core.py:366-383 parity: regular tuples collapse, the
    irregular/oversized-last cases raise the reference's messages."""
    assert core.dask_to_xbeam_chunks({"x": (3, 3, 3, 1)}) == {"x": 3}
    assert core.dask_to_xbeam_chunks({"x": (5,), "y": (4, 4)}) == {"x": 5, "y": 4}
    with pytest.raises(ValueError, match="inconsistent dask chunks"):
        core.dask_to_xbeam_chunks({"x": (3, 4, 3)})
    with pytest.raises(ValueError, match="last chunk 7 is larger than preceding"):
        core.dask_to_xbeam_chunks({"x": (3, 3, 7)})
    with pytest.raises(ValueError, match="empty"):
        core.dask_to_xbeam_chunks({"x": ()})


def test_normalize_chunks_accepts_dask_tuples():
    got = core.normalize_chunks({"x": (3, 3, 3, 1), "y": [4, 4]}, {"x": 10, "y": 8})
    assert got == {"x": 3, "y": 4}
    with pytest.raises(ValueError, match="inconsistent dask chunks"):
        core.normalize_chunks({"x": (3, 4, 3)}, {"x": 10})


class TestPerChunkFreeFunctions:
    """The reference's five per-chunk free functions (rechunk.py:166-289,
    400-470) as pure (Key, NDDataset) helpers."""

    @staticmethod
    def _fixture():
        from xarray_beam_spark.ndarray_ds import NDDataset

        rng = np.random.default_rng(7)
        return NDDataset(
            {
                "a": (("x", "y"), rng.normal(size=(12, 6))),
                "b": (("x",), rng.normal(size=12)),
            },
            coords={"x": np.arange(12), "y": np.arange(6)},
        )

    def test_split_chunks_global_grid(self):
        from xarray_beam_spark import Key, split_chunks

        full = self._fixture()
        # offset 2 is NOT aligned to the target grid of 4: the first split
        # must land at the next multiple (4), reference rechunk.py:374-397.
        got = list(split_chunks(Key.make({"x": 2}), full, {"x": 4}))
        assert [k.offsets_dict["x"] for k, _ in got] == [2, 4, 8, 12]
        assert [ds.sizes["x"] for _, ds in got] == [2, 4, 4, 2]
        # dims absent from target_chunks stay whole
        assert all(ds.sizes["y"] == 6 for _, ds in got)
        # vars restriction is carried through
        got2 = list(split_chunks(Key.make({"x": 0}, {"a"}), full, {"x": 6}))
        assert all(k.vars == frozenset({"a"}) for k, _ in got2)
        # plain offsets mappings are accepted as keys
        got3 = list(split_chunks({"x": 0}, full, {"x": 6}))
        assert [k.offsets_dict["x"] for k, _ in got3] == [0, 6]

    def test_split_chunks_keep_whole_minus_one(self):
        # ADVICE r9: target_chunks={dim: -1} is the reference's "keep
        # whole" convention (_split_chunk_bounds -> [(start, stop)]);
        # it must yield the untouched chunk, never silently zero chunks.
        from xarray_beam_spark import Key, split_chunks

        full = self._fixture()
        got = list(split_chunks(Key.make({"x": 2}), full, {"x": -1}))
        assert len(got) == 1
        k, ds = got[0]
        assert k.offsets_dict["x"] == 2 and ds.sizes["x"] == 12
        np.testing.assert_array_equal(ds.data_vars["a"].values, full.data_vars["a"].values)
        # mixed: -1 on one dim, real split on the other
        got2 = list(split_chunks(Key.make({"x": 0, "y": 0}), full, {"x": -1, "y": 4}))
        assert sorted((k.offsets_dict["x"], k.offsets_dict["y"]) for k, _ in got2) == [
            (0, 0), (0, 4),
        ]
        # other non-positive sizes fail loudly
        with pytest.raises(ValueError, match="positive or -1"):
            list(split_chunks(Key.make({"x": 0}), full, {"x": 0}))

    def test_split_variables(self):
        from xarray_beam_spark import Key, split_variables

        full = self._fixture()
        got = dict(
            (next(iter(k.vars)), (k, ds))
            for k, ds in split_variables(Key.make({"x": 0, "y": 0}), full)
        )
        assert set(got) == {"a", "b"}
        # var "b" has no y dim: its key must not carry a y offset
        assert got["b"][0].offsets_dict == {"x": 0}
        assert got["a"][0].offsets_dict == {"x": 0, "y": 0}
        assert set(got["a"][1].data_vars) == {"a"}

    def test_consolidate_chunks_roundtrip(self):
        from xarray_beam_spark import Key, consolidate_chunks, split_chunks

        full = self._fixture()
        parts = list(split_chunks(Key.make({"x": 0, "y": 0}), full, {"x": 5, "y": 4}))
        assert len(parts) == 6
        (key, merged), = list(consolidate_chunks(parts))
        assert key.offsets_dict == {"x": 0, "y": 0}
        assert merged.equals(full)

    def test_consolidate_chunks_validates(self):
        from xarray_beam_spark import Key, consolidate_chunks, split_chunks

        full = self._fixture()
        parts = list(split_chunks(Key.make({"x": 0, "y": 0}), full, {"x": 4}))
        with pytest.raises(ValueError, match="not unique"):
            list(consolidate_chunks(parts + parts[:1]))
        # two var groups with mismatched offset coverage
        a = [(k.replace_vars({"a"}), ds[["a"]]) for k, ds in parts]
        b = [(k.replace_vars({"b"}), ds[["b"]]) for k, ds in parts[:-1]]
        with pytest.raises(ValueError, match="missing for vars"):
            list(consolidate_chunks(a + b))
        # reference-default combine kwargs accepted, overrides rejected
        list(consolidate_chunks(parts, combine_kwargs={"join": "exact"}))
        with pytest.raises(ValueError, match="reference defaults"):
            list(consolidate_chunks(parts, combine_kwargs={"join": "outer"}))

    def test_consolidate_variables_roundtrip(self):
        from xarray_beam_spark import Key, consolidate_variables, split_variables

        from xarray_beam_spark.ndarray_ds import NDDataset

        rng = np.random.default_rng(3)
        full = NDDataset(
            {
                "a": (("x", "y"), rng.normal(size=(4, 3))),
                "b": (("x", "y"), rng.normal(size=(4, 3))),
            },
            coords={"x": np.arange(4)},
        )
        parts = list(split_variables(Key.make({"x": 0, "y": 0}), full))
        (key, merged), = list(consolidate_variables(parts))
        assert key.vars == frozenset({"a", "b"})
        assert merged.equals(full)
        with pytest.raises(ValueError, match="overlapping variables"):
            list(consolidate_variables(parts + parts[:1]))
        # vars with different dims keep different offset keys and stay in
        # separate groups (reference groups strictly by key.offsets)
        mixed = list(split_variables(Key.make({"x": 0, "y": 0}), self._fixture()))
        assert len(list(consolidate_variables(mixed))) == 2

    def test_consolidate_fully(self):
        from xarray_beam_spark import Key, consolidate_fully, split_chunks, split_variables

        full = self._fixture()
        pairs = [
            p
            for k, ds in split_chunks(Key.make({"x": 0, "y": 0}), full, {"x": 4})
            for p in split_variables(k, ds)
        ]
        key, merged = consolidate_fully(pairs)
        assert key.vars == frozenset({"a", "b"})
        assert key.offsets_dict == {"x": 0, "y": 0}
        assert merged.equals(full)

    def test_in_memory_rechunk_is_consolidate_plus_split(self):
        from xarray_beam_spark import (
            Key,
            consolidate_chunks,
            in_memory_rechunk,
            split_chunks,
        )

        full = self._fixture()
        inputs = [
            ({"x": o, "y": 0}, full.isel({"x": slice(o, o + 3)}))
            for o in range(0, 12, 3)
        ]
        via_free = [
            (k.offsets_dict, ds)
            for ck, cds in consolidate_chunks(
                [(Key.make(o), d) for o, d in inputs]
            )
            for k, ds in split_chunks(ck, cds, {"x": 4, "y": 6})
        ]
        via_imr = list(in_memory_rechunk(inputs, {"x": 4}))
        assert len(via_free) == len(via_imr) == 3
        for (of, df_), (oi, di) in zip(via_free, via_imr):
            assert of == oi
            assert df_.equals(di)


def test_reference_import_parity():
    """Every public name the reference exports (its __init__.py) resolves
    in xarray_beam_spark, except the two documented non-shims."""
    import re
    from pathlib import Path

    import xarray_beam_spark as xbs

    ref = Path("/root/reference/xarray_beam/__init__.py")
    if not ref.exists():
        pytest.skip("reference checkout not present")
    names = set(re.findall(r"\b(\w+) as \1\b", ref.read_text()))
    assert len(names) >= 25  # the v0.11.5 surface
    documented_non_shims = {"MeanCombineFn", "validate_chunk"}
    missing = {
        n for n in names - documented_non_shims if not hasattr(xbs, n)
    }
    assert not missing, f"reference names not importable: {sorted(missing)}"
    for n in documented_non_shims:
        assert not hasattr(xbs, n)  # deliberate: compat.py docstring


def test_chunk_bounds_overlap_minus_one_and_invalid():
    # -1 = keep whole range (reference rechunk.py _split_chunk_bounds)
    assert list(core.chunk_bounds_overlap(2, 9, -1)) == [(2, 2, 9)]
    assert list(core.chunk_bounds_overlap(5, 5, -1)) == []
    with pytest.raises(ValueError):
        list(core.chunk_bounds_overlap(0, 4, 0))
    with pytest.raises(ValueError):
        list(core.chunk_bounds_overlap(0, 4, -2))


@pytest.mark.parametrize(
    "start,stop,multiple,expected",
    [
        # the reference's exact _split_chunk_bounds table
        # (rechunk_test.py:456-471)
        (0, 20, -1, [(0, 20)]),
        (0, 20, 20, [(0, 20)]),
        (0, 20, 100, [(0, 20)]),
        (0, 20, 10, [(0, 10), (10, 20)]),
        (0, 20, 15, [(0, 15), (15, 20)]),
        (0, 10, 3, [(0, 3), (3, 6), (6, 9), (9, 10)]),
        (5, 10, 3, [(5, 6), (6, 9), (9, 10)]),
        (10, 20, 12, [(10, 12), (12, 20)]),
        (10, 20, 100, [(10, 20)]),
    ],
)
def test_split_chunk_bounds_reference_table(start, stop, multiple, expected):
    got = [(lo, hi) for _grid, lo, hi in core.chunk_bounds_overlap(start, stop, multiple)]
    assert got == expected


class TestReferenceRechunkErrorPaths:
    """The reference's consolidate/split error- and edge-path tests
    (rechunk_test.py:287-651) ported against the exported free functions.
    The r9 split_chunks(-1) bug showed the free-function surface can
    drift from the method surface unless the reference's edge cases ride
    along with each export (VERDICT r10 task 7)."""

    @staticmethod
    def _nd(**vars_):
        from xarray_beam_spark.ndarray_ds import NDDataset

        return NDDataset(vars_)

    def test_consolidate_chunks_not_fully_shared_dims(self):
        # rechunk_test.py:287 — var groups on disjoint dims consolidate
        # independently; coverage validation is per (vars, dim)
        from xarray_beam_spark import Key, consolidate_chunks

        out = list(
            consolidate_chunks(
                [
                    (Key.make({"x": 0}, {"foo"}), self._nd(foo=(("x",), np.arange(0, 5)))),
                    (Key.make({"x": 5}, {"foo"}), self._nd(foo=(("x",), np.arange(5, 10)))),
                    (Key.make({"y": 0}, {"bar"}), self._nd(bar=(("y",), np.arange(0, 5)))),
                ]
            )
        )
        got = {tuple(sorted(k.vars)): (k.offsets_dict, ds) for k, ds in out}
        assert set(got) == {("foo",), ("bar",)}
        np.testing.assert_array_equal(
            got[("foo",)][1].data_vars["foo"].values, np.arange(10)
        )
        assert got[("bar",)][0] == {"y": 0}

    def test_consolidate_with_unchunked_vars(self):
        # rechunk_test.py:332 — 0-d vars consistent across chunks ride
        # along; INCONSISTENT ones must raise, never keep-first silently
        from xarray_beam_spark import Key, consolidate_chunks

        a = self._nd(foo=(("x",), np.arange(0, 10)), bar=((), 1))
        b = self._nd(foo=(("x",), np.arange(10, 20)), bar=((), 1))
        ((key, merged),) = list(
            consolidate_chunks([(Key.make({"x": 0}), a), (Key.make({"x": 10}), b)])
        )
        assert merged.data_vars["bar"].values == 1
        assert merged.sizes == {"x": 20}
        b2 = self._nd(foo=(("x",), np.arange(10, 20)), bar=((), 2))
        with pytest.raises(ValueError, match="lacks that dim but differs"):
            list(
                consolidate_chunks([(Key.make({"x": 0}), a), (Key.make({"x": 10}), b2)])
            )

    def test_consolidate_variables_merge_fails(self):
        # rechunk_test.py:435 — same offsets, incompatible dim lengths
        from xarray_beam_spark import Key, consolidate_variables

        with pytest.raises(ValueError, match="conflicting size for dim 'x'"):
            list(
                consolidate_variables(
                    [
                        (Key.make({"x": 0}, {"foo"}), self._nd(foo=(("x",), [1, 2]))),
                        (Key.make({"x": 0}, {"bar"}), self._nd(bar=(("x",), [3, 4, 5]))),
                    ]
                )
            )

    def test_consolidate_fully_overlapping_variables(self):
        # rechunk_test.py:519 — overlapping var names across groups fail
        # in the final merge
        from xarray_beam_spark import Key, consolidate_fully

        with pytest.raises(ValueError, match="merge conflict on variable 'foo'"):
            consolidate_fully(
                [
                    (Key.make({"x": 0}, {"foo"}), self._nd(foo=(("x",), np.arange(0, 5)))),
                    (
                        Key.make({"x": 0}, {"foo", "bar"}),
                        self._nd(
                            foo=(("x",), np.arange(5, 10)),
                            bar=(("x",), np.arange(0, 5)),
                        ),
                    ),
                ]
            )

    def test_consolidate_fully_missing_chunks(self):
        # rechunk_test.py:564
        from xarray_beam_spark import Key, consolidate_fully

        with pytest.raises(ValueError, match="some expected chunks are missing"):
            consolidate_fully(
                [
                    (Key.make({"x": 5}, {"foo"}), self._nd(foo=(("x",), np.arange(5, 10)))),
                    (
                        Key.make({"x": 0}, {"bar", "baz"}),
                        self._nd(
                            bar=(("x",), np.arange(0, 5)),
                            baz=(("x",), np.arange(0, 5)),
                        ),
                    ),
                ]
            )

    def test_consolidate_fully_not_fully_shared_dims(self):
        # rechunk_test.py:538 and :580 — disjoint-dim var groups and
        # unset-vars keys both consolidate into one merged pair
        from xarray_beam_spark import Key, consolidate_fully

        foo0 = self._nd(foo=(("x",), np.arange(0, 5)))
        foo1 = self._nd(foo=(("x",), np.arange(5, 10)))
        bar = self._nd(bar=(("y",), np.arange(0, 2)))
        for foo_vars in ({"foo"}, None):  # explicit vars and unset-vars keys
            key, merged = consolidate_fully(
                [
                    (Key.make({"x": 0}, foo_vars), foo0),
                    (Key.make({"x": 5}, foo_vars), foo1),
                    (Key.make({"y": 2}, {"bar"}), bar),
                ]
            )
            assert key.offsets_dict == {"x": 0, "y": 2}
            assert key.vars == frozenset({"foo", "bar"})
            np.testing.assert_array_equal(
                merged.data_vars["foo"].values, np.arange(10)
            )
            assert merged.sizes == {"x": 10, "y": 2}

    def test_in_memory_rechunk_reference_success(self):
        # rechunk_test.py:600 — exact expected chunks, non-zero origin
        from xarray_beam_spark import Key, in_memory_rechunk

        inputs = [
            (Key.make({"x": 100, "y": 300}), self._nd(foo=(("x", "y"), np.array([[1, 2, 3]])))),
            (Key.make({"x": 101, "y": 300}), self._nd(foo=(("x", "y"), np.array([[4, 5, 6]])))),
        ]
        got = list(in_memory_rechunk(inputs, {"x": 2, "y": 1}))
        expected = [
            ({"x": 100, "y": 300}, np.array([[1], [4]])),
            ({"x": 100, "y": 301}, np.array([[2], [5]])),
            ({"x": 100, "y": 302}, np.array([[3], [6]])),
        ]
        assert len(got) == 3
        for (off, ds), (eoff, evals) in zip(sorted(got, key=lambda p: sorted(p[0].items())), expected):
            assert off == eoff
            np.testing.assert_array_equal(ds.data_vars["foo"].values, evals)

    def test_in_memory_rechunk_not_unique_and_missing(self):
        # rechunk_test.py:629 and :639
        from xarray_beam_spark import Key, in_memory_rechunk

        zeros = self._nd(foo=(("x",), [0]))
        with pytest.raises(ValueError, match="share the same offsets"):
            list(
                in_memory_rechunk(
                    [(Key.make({"x": 0}), zeros), (Key.make({"x": 0}), zeros)],
                    {"x": 2},
                )
            )
        one = self._nd(foo=(("x", "y"), [[0]]))
        # diagonal gap: reference raises "some expected chunks are
        # missing"; ours detects the same failure as a tiling gap
        with pytest.raises(ValueError, match="do not tile their bounding box"):
            list(
                in_memory_rechunk(
                    [
                        (Key.make({"x": 0, "y": 0}), one),
                        (Key.make({"x": 1, "y": 1}), one),
                    ],
                    {"x": 2, "y": 2},
                )
            )


class TestR13ReviewRegressions:
    """Round-13 deep-review fixes for core.py / ndarray_ds.py /
    plans/rechunk_plan.py (never-reviewed modules)."""

    def test_key_tuple_form_canonicalizes(self):
        from xarray_beam_spark.core import Key

        assert Key((("y", 0), ("x", 0))) == Key.make({"x": 0, "y": 0})
        assert hash(Key([("x", 0)])) == hash(Key.make({"x": 0}))
        import numpy as np

        k = Key((("x", np.int64(3)),))
        assert k == Key.make({"x": 3})

    def test_normalize_chunks_unknown_dim_loud_with_ellipsis(self):
        import pytest

        from xarray_beam_spark.core import normalize_chunks

        with pytest.raises(ValueError, match="tyme"):
            normalize_chunks({"x": 5, "tyme": 3, ...: -1}, {"x": 10, "time": 20})
        assert normalize_chunks({"x": 5, ...: -1}, {"x": 10, "time": 20}) == {
            "x": 5,
            "time": 20,
        }

    def test_parse_bytes_tb_and_above(self):
        from xarray_beam_spark.core import parse_bytes

        assert parse_bytes("1TiB") == 2**40
        assert parse_bytes("1PiB") == 2**50
        assert parse_bytes("2PB") == 2 * 10**15

    def test_rechunk_helpers_total_and_consistent(self):
        from xarray_beam_spark.plans.rechunk_plan import (
            needs_consolidate,
            needs_split,
        )

        # dims absent from to_chunks keep their source chunk: no-op
        assert needs_split({"x": 4}, {}) is False
        assert needs_consolidate({"x": 4}, {}) is False
        assert needs_split({"x": 4}, {"x": 6}) is True
        assert needs_split({"x": 4}, {"x": 8}) is False
        assert needs_consolidate({"x": 8}, {"x": 4}) is False
        assert needs_consolidate({"x": 4}, {"x": 8}) is True

    def test_isel_integer_drops_dim_and_outer_indexing(self):
        import numpy as np
        import pytest

        from xarray_beam_spark.ndarray_ds import NDDataset

        nd = NDDataset(
            {"f": (("x", "y"), np.arange(12).reshape(3, 4))},
            coords={"x": np.array([10, 20, 30])},
        )
        got = nd.isel(x=0)
        assert got.data_vars["f"].dims == ("y",)
        assert list(got.data_vars["f"].values) == [0, 1, 2, 3]
        assert got.coords["x"].dims == ()  # coord follows the drop
        # outer (not diagonal) multi-array indexing
        got = nd.isel(x=[0, 2], y=[1, 3])
        assert got.data_vars["f"].values.shape == (2, 2)
        assert got.data_vars["f"].values.tolist() == [[1, 3], [9, 11]]
        # boolean mask
        got = nd.isel(x=np.array([True, False, True]))
        assert got.data_vars["f"].values.shape == (2, 4)
        # unknown dim is loud
        with pytest.raises(ValueError, match="nonexistent"):
            nd.isel(z=0)

    def test_concat_mismatched_vars_loud(self):
        import numpy as np
        import pytest

        from xarray_beam_spark.ndarray_ds import NDDataset

        a = NDDataset({"f": (("x",), np.arange(3))})
        b = NDDataset(
            {"f": (("x",), np.arange(3)), "g": (("x",), np.arange(3))}
        )
        with pytest.raises(ValueError, match="different\\s+variables"):
            NDDataset.concat([a, b], "x")
        with pytest.raises(ValueError, match="different\\s+variables"):
            NDDataset.concat([b, a], "x")


class TestMaterializedCache:
    """_materialized persistent-store publication (r13 review fixes)."""

    def test_build_dir_inside_cache_root(self, tmp_path, monkeypatch):
        """The build dir must live IN the cache root: os.rename across
        filesystems raises EXDEV, so a default-tempdir build would never
        publish when XBS_CACHE_DIR is on another mount (every process
        rebuilding + leaking its build dir)."""
        from xarray_beam_spark import grid_queries as gq

        monkeypatch.setenv("XBS_CACHE_DIR", str(tmp_path / "cache"))
        seen = {}
        import tempfile as _tf

        real = _tf.mkdtemp

        def spy(*a, **kw):
            seen.update(kw)
            return real(*a, **kw)

        monkeypatch.setattr(_tf, "mkdtemp", spy)

        class _SC:
            pass

        class _Spark:
            sparkContext = _SC()  # a fresh fake context: an empty store

        def build(p):
            import pathlib

            pathlib.Path(p, "marker").write_text("x")

        path = gq._materialized(
            _Spark(), str(tmp_path), "exdev_probe", build, persistent=True
        )
        assert seen.get("dir") == str(tmp_path / "cache")
        assert path.startswith(str(tmp_path / "cache"))
        assert os.path.exists(os.path.join(path, "marker"))

    def test_params_participate_in_digest(self, tmp_path, monkeypatch):
        """Changing the build lambda's layout params must invalidate the
        warm cache by itself (no hand-bumped version constant needed)."""
        from xarray_beam_spark import grid_queries as gq

        monkeypatch.setenv("XBS_CACHE_DIR", str(tmp_path / "cache"))

        class _SC:
            pass

        class _Spark:
            def __init__(self):
                self.sparkContext = _SC()  # a fresh fake context: an empty store

        paths = []
        for i, params in enumerate(["chunks=a", "chunks=b"]):
            def build(p, i=i):
                import pathlib

                pathlib.Path(p, "layout").write_text(str(i))

            paths.append(
                gq._materialized(
                    _Spark(), str(tmp_path), "pdig", build,
                    persistent=True, params=params,
                )
            )
        assert paths[0] != paths[1]
        assert open(os.path.join(paths[1], "layout")).read() == "1"
