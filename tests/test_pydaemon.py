"""The worker daemon's zip-directory patch (etl_lens_spark/pydaemon.py).

The first two tests run in-process with no Spark: they install the
patch, put a zip on ``sys.path`` and count how often
``importlib.invalidate_caches()`` re-parses it. The last one starts a
session from a working directory outside the repository and runs a
pandas UDF, which needs the daemon module importable on the workers.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from etl_lens_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zmod_a`` on ``sys.path``, the patch
    installed, and a counter of directory reads per archive."""
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a'\n")
    # restored at teardown, whatever install() does
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    installed = pydaemon.install()
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    for mod in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    yield archive, reads, installed
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    pydaemon._stamps.pop(archive, None)


def test_unchanged_zip_is_not_reparsed(zip_on_path):
    archive, reads, installed = zip_on_path
    assert installed == (sys.version_info < (3, 12))
    if not installed:
        pytest.skip("CPython >= 3.12 re-reads zip directories lazily")
    assert importlib.import_module("zmod_a").VALUE == "a"
    importlib.invalidate_caches()  # first call: reads and stamps
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # the importer still serves the archive
    del sys.modules["zmod_a"]
    assert importlib.import_module("zmod_a").VALUE == "a"


def test_rewritten_zip_is_reread(zip_on_path):
    archive, reads, _ = zip_on_path
    assert importlib.import_module("zmod_a").VALUE == "a"
    importlib.invalidate_caches()
    st = os.stat(archive)
    # rewrite in place with a new module, and move the mtime on so
    # the change shows even on a coarse-grained clock
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "VALUE = 'a2'\n")
        z.writestr("zmod_b.py", "VALUE = 'b'\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zmod_b").VALUE == "b"


_UDF_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from etl_lens_spark import get_spark

spark = get_spark(app_name="pydaemon-cwd-test", shuffle_partitions=1)

@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import zipimport
    # workers are forked from the daemon, which runs as __main__
    main = sys.modules["__main__"]
    if main.__spec__ is None or main.__spec__.name != "etl_lens_spark.pydaemon":
        return s.map(lambda _: "no-daemon")
    patched = zipimport.zipimporter.invalidate_caches is main.invalidate_caches
    return s.map(lambda _: "patched" if patched else "unpatched")

print("RESULT", sorted({{r[0] for r in spark.range(4).select(probe("id")).collect()}}))
print("PYVERSION", sys.version_info[:2] >= (3, 12))
spark.stop()
"""


def test_pandas_udf_runs_with_cwd_outside_repo(tmp_path):
    """Workers fork from the daemon module even when the driver's
    working directory is not the repository (the package root reaches
    them through ``spark.executorEnv.PYTHONPATH``), and the patch is in
    place in the worker."""
    script = tmp_path / "run_udf.py"
    script.write_text(textwrap.dedent(_UDF_SCRIPT.format(repo=REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = dict(
        line.split(" ", 1)
        for line in proc.stdout.splitlines()
        if line.startswith(("RESULT ", "PYVERSION "))
    )
    lazy = lines["PYVERSION"] == "True"
    assert lines["RESULT"] == str(["unpatched" if lazy else "patched"])
