"""The JVM <-> Python transport of ``session.get_spark``: Unix domain
sockets in a directory whose socket names fit ``sun_path``.

Spark names each socket ``<dir>/.<uuid4>.sock``; under a temp dir too long
for that name, the session must still start (in ``/tmp``), run a UDF and an
accumulator over its sockets, and leave none of them behind after
``stop()``, nor after a process exit without ``stop()``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

from xarray_beam_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LONG_TMPDIR = """
import json, os
from xarray_beam_spark.session import get_spark

dirs = (os.environ["TMPDIR"], "/tmp")

def socks():
    return {os.path.join(d, f) for d in dirs for f in os.listdir(d) if f.endswith(".sock")}

before = socks()
spark = get_spark("xbs-long-tmpdir", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
counted = sc.accumulator(0)

def count(batches):
    for batch in batches:
        counted.add(batch.num_rows)
        yield batch

rows = spark.range(10).repartition(2).mapInArrow(count, "id long").collect()
made = sorted(socks() - before)
out = {
    "conf": spark.conf.get("spark.python.unix.domain.socket.dir"),
    "accumulator": sc._accumulatorServer.server_address,
    "rows": sorted(r.id for r in rows),
    "counted": counted.value,
    "made": made,
}
spark.stop()
out["left"] = sorted(set(made) & socks())
# a second context, which the process exits without stopping
out["unstopped"] = get_spark("xbs-unstopped", cpus=1).sparkContext._accumulatorServer.server_address
print(json.dumps(out))
"""


def test_session_starts_under_a_temp_dir_too_long_for_socket_names(tmp_path):
    long_dir = tmp_path / ("d" * max(1, 71 - len(str(tmp_path))))
    long_dir.mkdir()
    assert len(str(long_dir)) > 70
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        TMPDIR=str(long_dir),
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={long_dir} pyspark-shell",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["conf"] == "/tmp"
    assert out["accumulator"].startswith("/tmp/.")
    assert out["rows"] == list(range(10))
    assert out["counted"] == 10
    # the accumulator server's socket and the worker daemon's, at least
    assert out["accumulator"] in out["made"] and len(out["made"]) >= 2
    assert out["left"] == []
    assert out["unstopped"].startswith("/tmp/.") and not os.path.exists(out["unstopped"])
    assert not [f for f in os.listdir(long_dir) if f.endswith(".sock")]


def test_socket_dir_is_the_first_temp_dir_whose_socket_names_fit(monkeypatch, tmp_path):
    # the longest dir whose socket names fit: 107 bytes and the NUL
    room = session._SUN_PATH_BYTES - 1 - session._SOCK_NAME_BYTES
    fits = tmp_path / ("d" * (room - len(str(tmp_path)) - 1))
    too_long = tmp_path / ("d" * (room - len(str(tmp_path))))
    fits.mkdir()
    too_long.mkdir()
    assert len(str(fits)) == room
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(fits))
    assert session._socket_dir() == str(fits)
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(too_long))
    assert session._socket_dir() == "/tmp"
    monkeypatch.setattr(session, "socket", types.SimpleNamespace())  # no AF_UNIX
    assert session._socket_dir() is None
