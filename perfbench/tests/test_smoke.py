"""Smoke test: every workload end to end on miniature inputs.

The three runs go in parallel, each with its own JVM (1 GiB driver
heap); together they take under two minutes on four cores.
"""

import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CASES = (("era5_rechunk", 1), ("era5_climatology", 0), ("grid_gates", 1))


def trace_file(out: str) -> str:
    prefix = "trace written to "
    return next(line[len(prefix):] for line in out.splitlines() if line.startswith(prefix))


def test_all_workloads_smoke():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    procs = {
        wl: subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "5",
             "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
        )
        for wl, trace in CASES
    }
    outs = {wl: p.communicate(timeout=600)[0] for wl, p in procs.items()}
    traces = {}
    for wl, trace in CASES:
        if trace and procs[wl].returncode == 0:
            path = trace_file(outs[wl])
            with open(path) as f:
                traces[wl] = json.load(f)
            os.remove(path)
    for wl, trace in CASES:
        assert procs[wl].returncode == 0, outs[wl]
        doc = json.loads(outs[wl].strip().splitlines()[-1])
        assert set(doc) == {"correct", "attempted", "failed", "metrics"}
        assert doc["correct"] and doc["failed"] == 0 and doc["attempted"] >= 1, outs[wl]
        want = run.PER_LAYER if trace else run.END_TO_END
        assert {k: m["unit"] for k, m in doc["metrics"].items()} == want
        if not trace:
            assert all(m["value"] > 0 for m in doc["metrics"].values())
    assert set(traces) == {"era5_rechunk", "grid_gates"}
    era5 = traces["era5_rechunk"]
    assert era5["layers"]["read.chunks"] > 0 and era5["layers"]["write.chunks"] > 0
    assert era5["layers"]["rechunk_plan.stages"] >= 1
    assert {s["name"] for s in era5["spans"]} >= {
        "iteration", "zarr_io.from_zarr", "dataset.map_blocks", "dataset.rechunk",
        "rechunk_plan.plan_stages", "zarr_io.to_zarr"}
    # xb_grid_climatology_dow measures the aggregation layer
    assert traces["grid_gates"]["layers"]["dataset.groupby_reduce_s"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "grid_gates", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
    )
    assert p.returncode != 0
    assert p.stdout == ""
