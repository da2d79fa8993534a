"""NDDataset semantics + codec round-trip tests (numpy oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from xarray_beam_spark.codec import decode_chunk, encode_chunk
from xarray_beam_spark.ndarray_ds import NDDataset, Variable


def make_ds(seed=0):
    rng = np.random.default_rng(seed)
    return NDDataset(
        data_vars={
            "foo": (("t", "x"), rng.normal(size=(6, 4)).astype(np.float32)),
            "bar": (("t", "x"), rng.integers(0, 100, size=(6, 4))),
            "static": (("x",), np.arange(4)),
        },
        coords={
            "t": np.arange("2020-01-01", "2020-01-07", dtype="datetime64[D]").astype("datetime64[ns]"),
            "x": np.linspace(0, 1, 4),
        },
        attrs={"title": "test"},
    )


def test_sizes_and_projection():
    ds = make_ds()
    assert ds.sizes == {"t": 6, "x": 4}
    sub = ds[["foo"]]
    assert set(sub.data_vars) == {"foo"}
    assert set(sub.coords) == {"t", "x"}
    only_x = ds[["static"]]
    assert set(only_x.coords) == {"x"}


def test_isel_transpose():
    ds = make_ds()
    sub = ds.isel({"t": slice(2, 5)})
    assert sub.sizes == {"t": 3, "x": 4}
    np.testing.assert_array_equal(
        sub.data_vars["foo"].values, ds.data_vars["foo"].values[2:5]
    )
    tr = ds.transpose("x", "t")
    assert tr.data_vars["foo"].dims == ("x", "t")
    np.testing.assert_array_equal(tr.data_vars["foo"].values, ds.data_vars["foo"].values.T)


def test_reductions_match_numpy():
    ds = make_ds()
    foo = ds.data_vars["foo"].values
    m = ds.mean("t")
    np.testing.assert_allclose(m.data_vars["foo"].values, np.nanmean(foo, axis=0), rtol=1e-6)
    assert m.data_vars["static"].dims == ("x",)  # untouched: no 't' dim
    s = ds.sum(["t", "x"])
    np.testing.assert_allclose(s.data_vars["foo"].values, np.nansum(foo), rtol=1e-6)
    v = ds.var("t", ddof=1)
    np.testing.assert_allclose(v.data_vars["foo"].values, np.nanvar(foo, axis=0, ddof=1), rtol=1e-5)


def test_reduction_skipna():
    arr = np.array([[1.0, np.nan], [3.0, 4.0]])
    ds = NDDataset({"a": (("x", "y"), arr)})
    np.testing.assert_array_equal(ds.mean("x").data_vars["a"].values, [2.0, 4.0])
    got = ds.mean("x", skipna=False).data_vars["a"].values
    assert got[0] == 2.0 and np.isnan(got[1])
    np.testing.assert_array_equal(ds.count("x").data_vars["a"].values, [2, 1])


def test_concat_merge_block():
    ds = make_ds()
    a = ds.isel({"t": slice(0, 3)})
    b = ds.isel({"t": slice(3, 6)})
    back = NDDataset.concat([a, b], "t")
    assert back.identical(ds)
    merged = NDDataset.merge([ds[["foo"]], ds[["bar", "static"]]])
    assert merged.identical(ds)
    with pytest.raises(ValueError):
        NDDataset.merge([ds[["foo"]], ds[["foo"]].map(lambda x: x + 1)])
    # 2x2 block reassembly
    q = {
        (0, 0): ds.isel({"t": slice(0, 3), "x": slice(0, 2)}),
        (0, 1): ds.isel({"t": slice(0, 3), "x": slice(2, 4)}),
        (1, 0): ds.isel({"t": slice(3, 6), "x": slice(0, 2)}),
        (1, 1): ds.isel({"t": slice(3, 6), "x": slice(2, 4)}),
    }
    assert NDDataset.block(q, ["t", "x"]).identical(ds)


def test_codec_roundtrip():
    ds = make_ds()
    rt = decode_chunk(encode_chunk(ds))
    assert rt.identical(ds)
    assert encode_chunk(rt) == encode_chunk(ds)  # byte-stable


def test_codec_rejects_object():
    ds = NDDataset({"o": (("x",), np.array([object()], dtype=object))})
    with pytest.raises(TypeError):
        encode_chunk(ds)


def test_scalar_variable_roundtrip():
    """0-d variables (a dim fully reduced away, e.g. integrate over the
    only dim) must survive the codec — ascontiguousarray promotes 0-d to
    1-d, so the header records the true shape."""
    import numpy as np

    from xarray_beam_spark.codec import decode_chunk, encode_chunk
    from xarray_beam_spark.ndarray_ds import NDDataset, Variable

    ds = NDDataset({"v": Variable((), np.float64(3.5))}, {}, {"k": 1})
    out = decode_chunk(encode_chunk(ds))
    assert out.data_vars["v"].dims == ()
    assert float(out.data_vars["v"].values) == 3.5


def test_decode_chunk_writability_contract():
    """Default decode is a zero-copy READ-ONLY view (hot path);
    writable=True copies so user code (map_blocks) can mutate in place.
    Truncated payloads raise ValueError, never struct.error."""
    import numpy as np
    import pytest

    from xarray_beam_spark.codec import decode_chunk, encode_chunk
    from xarray_beam_spark.ndarray_ds import NDDataset

    ds = NDDataset({"x": (("t",), np.arange(4.0))}, {"t": np.arange(4)})
    payload = encode_chunk(ds)
    ro = decode_chunk(payload)
    with pytest.raises(ValueError, match="read-only"):
        ro.data_vars["x"].values[0] = 9.0
    rw = decode_chunk(payload, writable=True)
    rw.data_vars["x"].values[0] = 9.0
    assert rw.data_vars["x"].values[0] == 9.0
    with pytest.raises(ValueError, match="truncated|magic"):
        decode_chunk(payload[:5])


# Payloads of the original tobytes()/bytearray encoder. The encoder may
# change how it copies buffers, never the bytes it emits: shuffle files,
# Zarr round trips and retried tasks rely on the layout being stable.
_GOLDEN_HEX = {
    "float32": "58425331d60000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b2278222c202279225d2c20226474797065223a20223c6634222c202267726f7570223a202264617461222c20226e616d65223a202274222c20226e6279746573223a2032342c20227368617065223a205b322c20335d7d2c207b2264696d73223a205b2278225d2c20226474797065223a20223c6938222c202267726f7570223a2022636f6f7264222c20226e616d65223a202278222c20226e6279746573223a2031362c20227368617065223a205b325d7d5d7d000000000000803e0000003f0000403f0000803f0000a03f0a000000000000001400000000000000",
    "int64": "58425331720000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b2278225d2c20226474797065223a20223c6938222c202267726f7570223a202264617461222c20226e616d65223a20226e222c20226e6279746573223a2032342c20227368617065223a205b335d7d5d7dfdffffffffffffff00000000000000000000000000010000",
    "bool": "58425331710000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b2278225d2c20226474797065223a20227c6231222c202267726f7570223a202264617461222c20226e616d65223a20226d222c20226e6279746573223a20332c20227368617065223a205b335d7d5d7d010001",
    "datetime64": "58425331db0000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b2274696d65225d2c20226474797065223a20223c6638222c202267726f7570223a202264617461222c20226e616d65223a202276222c20226e6279746573223a2031362c20227368617065223a205b325d7d2c207b2264696d73223a205b2274696d65225d2c20226474797065223a20223c4d385b6e735d222c202267726f7570223a2022636f6f7264222c20226e616d65223a202274696d65222c20226e6279746573223a2031362c20227368617065223a205b325d7d5d7d000000000000f83f000000000000044000008ab9359ae5150000d94acae8e515",
    "unicode": "58425331cd0000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b226b225d2c20226474797065223a20223c6932222c202267726f7570223a202264617461222c20226e616d65223a202276222c20226e6279746573223a20342c20227368617065223a205b325d7d2c207b2264696d73223a205b226b225d2c20226474797065223a20223c5533222c202267726f7570223a2022636f6f7264222c20226e616d65223a20226b222c20226e6279746573223a2032342c20227368617065223a205b325d7d5d7d01000200610000000000000000000000620000006300000064000000",
    "zero_d": "58425331790000007b226174747273223a207b22756e697473223a20224b227d2c202276617273223a205b7b2264696d73223a205b5d2c20226474797065223a20223c6638222c202267726f7570223a202264617461222c20226e616d65223a202273222c20226e6279746573223a20382c20227368617065223a205b5d7d5d7d0000000000000a40",
    "isel_view": "58425331d60000007b226174747273223a207b7d2c202276617273223a205b7b2264696d73223a205b2278222c202279225d2c20226474797065223a20223c6634222c202267726f7570223a202264617461222c20226e616d65223a202274222c20226e6279746573223a2032342c20227368617065223a205b322c20335d7d2c207b2264696d73223a205b2279225d2c20226474797065223a20223c6938222c202267726f7570223a2022636f6f7264222c20226e616d65223a202279222c20226e6279746573223a2032342c20227368617065223a205b335d7d5d7d0000c0400000e04000000041000030410000404100005041010000000000000002000000000000000300000000000000",
}


def _golden_inputs():
    import numpy as np

    from xarray_beam_spark.ndarray_ds import NDDataset

    grid = NDDataset(
        {"t": (("x", "y"), np.arange(20, dtype=np.float32).reshape(4, 5))}, {"y": np.arange(5)}
    )
    return {
        "float32": NDDataset(
            {"t": (("x", "y"), np.arange(6, dtype=np.float32).reshape(2, 3) / 4)},
            {"x": np.array([10, 20])},
        ),
        "int64": NDDataset({"n": (("x",), np.array([-3, 0, 2**40], dtype=np.int64))}),
        "bool": NDDataset({"m": (("x",), np.array([True, False, True]))}),
        "datetime64": NDDataset(
            {"v": (("time",), np.array([1.5, 2.5]))},
            {"time": np.array(["2020-01-01", "2020-01-02"], dtype="datetime64[ns]")},
        ),
        "unicode": NDDataset(
            {"v": (("k",), np.array([1, 2], dtype=np.int16))}, {"k": np.array(["a", "bcd"])}
        ),
        "zero_d": NDDataset({"s": ((), np.float64(3.25))}, attrs={"units": "K"}),
        # a non-contiguous view: the encoder must emit C order
        "isel_view": grid.isel(x=slice(1, 3), y=slice(1, 4)),
    }


def test_encode_chunk_golden_bytes():
    from xarray_beam_spark.codec import decode_chunk, encode_chunk

    inputs = _golden_inputs()
    assert not inputs["isel_view"].data_vars["t"].values.flags.c_contiguous
    for name, ds in inputs.items():
        payload = encode_chunk(ds)
        assert type(payload) is bytes, name
        assert payload.hex() == _GOLDEN_HEX[name], name
        assert decode_chunk(payload).identical(ds), name
