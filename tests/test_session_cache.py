"""The session store (``xarray_beam_spark.session``): fixtures survive
``reset()``, ephemeral entries are released by it, the LRU bound evicts
and releases, a restarted context starts empty without pinning the old
one, and ``snapshot()`` reports the cached bytes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

from xarray_beam_spark import grid_queries as gq
from xarray_beam_spark import session
from xarray_beam_spark.dataset import Dataset

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _is_cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_reset_keeps_fixtures_and_releases_ephemerals(spark, sf_dir):
    grid = gq._events_grid(spark, sf_dir, chunks={"day": 7})
    grid.df.count()
    store = gq._materialized(spark, sf_dir, "reset_probe", lambda p: None)
    before = _persisted(spark)
    frame = session.persist_scoped(spark.range(100).selectExpr("id * 2 AS y"))
    frame.count()
    assert _persisted(spark) == before + 1
    assert os.path.isdir(store)

    session.reset()

    assert _persisted(spark) == before
    assert not _is_cached(frame)
    assert not os.path.exists(store)
    # fixtures stay: the same grid object, its persist and the cells'
    assert gq._events_grid(spark, sf_dir, chunks={"day": 7}) is grid
    assert _is_cached(grid.df)
    assert _is_cached(gq._cells(spark, sf_dir)[0])


def test_lru_bound_evicts_and_releases(spark, monkeypatch):
    monkeypatch.setattr(session, "MAX_ENTRIES", 8)
    table = spark.range(3).selectExpr(
        "CAST('2020-01-01' AS TIMESTAMP) AS day", "id AS hour", "CAST(id AS DOUBLE) AS cnt"
    )
    frames, dirs = [], []
    for i in range(50):
        days = np.datetime64("2020-01-01", "us") + np.arange(i + 1) * np.timedelta64(1, "D")
        Dataset.from_table(
            table, dims=["day", "hour"],
            coords={"day": days, "hour": np.arange(3, dtype=np.int64)},
            var_cols=["cnt"],
        )
        frames.append(session.persist_scoped(spark.range(i + 1)))
        frames[-1].count()
        dirs.append(
            session.memo(
                spark, ("lru_probe", i), lambda: tempfile.mkdtemp(prefix="xbs_lru_"),
                release=shutil.rmtree, ephemeral=True,
            )
        )
        assert len(session.snapshot(spark)["entries"]) <= 8
    # three entries per round (day literal, frame, dir): the early rounds
    # were evicted and released, the last one is still held
    assert not any(map(_is_cached, frames[:45]))
    assert not any(map(os.path.exists, dirs[:45]))
    assert _is_cached(frames[-1]) and os.path.isdir(dirs[-1])
    monkeypatch.undo()
    session.reset()
    assert not os.path.exists(dirs[-1])


_RESTART = """
import gc, json, sys, weakref
from xarray_beam_spark import grid_queries as gq
from xarray_beam_spark.session import get_spark

sf = sys.argv[1]

def rows(spark):
    grid = gq._events_grid(spark, sf, chunks={"day": 7})
    return sorted(map(tuple, grid.to_table(dropna=True).collect()))

spark = get_spark("xbs-restart-a", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
before = rows(spark)
old = weakref.ref(spark.sparkContext)
spark.stop()
spark = get_spark("xbs-restart-b", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
gc.collect()
alive = old() is not None
after = rows(spark)
spark.stop()
print(json.dumps({"alive": alive, "equal": before == after, "rows": len(before)}))
"""


def test_restarted_context_starts_empty_and_frees_the_old_one(sf_dir):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] > 0
    assert out["equal"]
    assert not out["alive"]


def test_snapshot_reports_cached_bytes(spark, sf_dir):
    grid = gq._events_grid(spark, sf_dir, chunks={"day": 7})
    grid.df.count()
    session.persist_scoped(spark.range(1000).selectExpr("id", "id * 3 AS z")).count()
    snap = session.snapshot(spark)
    grids = [e for e in snap["entries"] if e["key"].startswith("('grid'")]
    assert grids and all(e["cached_bytes"] > 0 for e in grids)
    assert not any(e["ephemeral"] for e in grids)
    assert snap["ephemeral_bytes"] > 0
    assert snap["cached_bytes"] >= snap["ephemeral_bytes"] + grids[0]["cached_bytes"]

    session.reset()

    after = session.snapshot(spark)
    assert after["ephemeral_bytes"] < snap["ephemeral_bytes"]
    assert after["ephemeral_bytes"] == 0
    assert not any(e["ephemeral"] for e in after["entries"])
