"""The worker-startup zipimport guard (repo-root ``sitecustomize.py``).

Covers, in subprocesses (the patch is an interpreter-startup mechanism):
- activation: applied under each Spark worker env marker, NOT otherwise,
  and applied inside a UDF of the engine's session;
- semantics: an UNCHANGED archive's directory is not re-read, a REPLACED
  archive (new mtime/size) IS re-read — same observable behavior as the
  stock eager implementation, minus the redundant re-parses.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# The environment markers Spark sets for worker and daemon processes: the
# auth secret of a TCP worker factory, and the socket path or directory of
# a Unix-domain-socket one (which sets no secret).
MARKERS = (
    "PYTHON_WORKER_FACTORY_SECRET",
    "PYTHON_WORKER_FACTORY_SOCK_PATH",
    "PYTHON_WORKER_FACTORY_SOCK_DIR",
)


def _run(code: str, marker: str | None) -> str:
    env = {k: v for k, v in os.environ.items() if k not in MARKERS}
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    if marker:
        env[marker] = "x"
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True,
        text=True,
        env=env,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


@pytest.mark.parametrize("marker", MARKERS)
def test_patch_applies_only_under_worker_marker(marker):
    code = """
    import zipimport
    print(getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False))
    """
    assert _run(code, marker=marker) == "True"
    assert _run(code, marker=None) == "False"


def test_udf_worker_of_the_session_is_patched(spark):
    """The engine's session runs its workers over Unix domain sockets, so
    they carry the socket-directory marker and no secret; the guard must
    still be applied inside a UDF."""
    from xarray_beam_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            seen = [m for m in MARKERS if m in os.environ]
            guarded = getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False)
            yield pa.RecordBatch.from_pylist([{"markers": ",".join(seen), "guarded": guarded}])

    schema = "markers string, guarded boolean"
    [row] = spark.range(1).coalesce(1).mapInArrow(probe, schema).collect()
    assert row.markers == "PYTHON_WORKER_FACTORY_SOCK_DIR"
    assert row.guarded


def test_unchanged_archive_not_reread_but_replaced_archive_is(tmp_path):
    z = tmp_path / "mod.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("only_a.py", "VALUE = 1\n")
    code = f"""
    import os, time, zipimport
    assert getattr(zipimport.zipimporter.invalidate_caches, "_xbs_guarded", False)
    zi = zipimport.zipimporter({str(z)!r})
    zi.invalidate_caches()                  # first call: stamps the archive
    import zipfile
    reads = []
    orig_read = zipimport._read_directory
    zipimport._read_directory = lambda p: (reads.append(p), orig_read(p))[1]
    zi.invalidate_caches()                  # unchanged: must NOT re-read
    n_unchanged = len(reads)
    with zipfile.ZipFile({str(z)!r}, "w") as zf:
        zf.writestr("only_a.py", "VALUE = 2\\n")
        zf.writestr("only_b.py", "VALUE = 3\\n")
    os.utime({str(z)!r}, (time.time() + 5, time.time() + 5))
    zi.invalidate_caches()                  # replaced: MUST re-read
    n_replaced = len(reads)
    print(n_unchanged, n_replaced, "only_b" in str(sorted(zi._files)))
    """
    assert _run(code, marker=MARKERS[0]) == "0 1 True"


def test_shipped_zip_contains_package_and_sitecustomize(tmp_path):
    from xarray_beam_spark.shipping import _build_pyfiles_zip

    pkg_dir = os.path.join(REPO, "xarray_beam_spark")
    zpath = _build_pyfiles_zip(pkg_dir, str(tmp_path))
    with zipfile.ZipFile(zpath) as zf:
        names = set(zf.namelist())
    assert "sitecustomize.py" in names
    assert "xarray_beam_spark/shipping.py" in names
    assert "xarray_beam_spark/sources/spark_datasource.py" in names
