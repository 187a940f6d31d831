"""The engine's Python worker daemon: zip importers re-read an archive only
when it changed on disk, the engine session's workers run that daemon, and
they import the package from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import pulsar_pekko_streams_example_spark.worker_daemon  # noqa: F401  (wraps zipimporter)
from pulsar_pekko_streams_example_spark.session import _PACKAGE_ROOT


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive on sys.path, and the list of archives `_read_directory`
    reads from here on."""
    archive = _write_zip(tmp_path / "lib.zip", {"zd_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zd_probe_a", "zd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_read_once(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zd_probe_a").X == 1
    reads.clear()  # creating the importer read the archive
    for _ in range(5):
        importlib.invalidate_caches()
    # the importer's first invalidation reads the archive; the stdlib method
    # re-reads it on every one of the five
    assert reads.count(archive) == 1


def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zd_probe_a")
    reads.clear()
    importlib.invalidate_caches()
    before = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"zd_probe_a": "X = 1\n", "zd_probe_b": "Y = 2\n"})
    os.utime(archive, ns=(before + 10**9, before + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zd_probe_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_missing_archive_falls_through_to_stdlib(zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module("zd_probe_a")
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}


def test_session_workers_run_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "pulsar_pekko_streams_example_spark.worker_daemon"
    )
    assert _PACKAGE_ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)

    def invalidator(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"f": [code.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInPandas(invalidator, "f string").collect()
    assert rows and all(r.f.endswith("worker_daemon.py") for r in rows), rows


_FOREIGN_DRIVER = """
import sys
sys.path.insert(0, {root!r})
from pulsar_pekko_streams_example_spark.session import get_spark

spark = get_spark(
    app_name="foreign-cwd",
    cpus=1,
    extra_conf={{
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": {caller_dir!r},
    }},
)


def ident(batches):
    yield from batches


def imports(batches):
    import pandas as pd

    import caller_probe
    import driver_probe
    import pulsar_pekko_streams_example_spark

    for pdf in batches:
        yield pd.DataFrame({{"n": [len(pdf) + caller_probe.N + driver_probe.N]}})


print("plain", spark.range(10, numPartitions=1).mapInPandas(ident, "id long").count())
print("imports", spark.range(10, numPartitions=1).mapInPandas(imports, "n long").head().n)
spark.stop()
"""


def test_udfs_run_from_a_foreign_cwd(tmp_path):
    """A driver outside the repo, with the package only on its own sys.path:
    a plain pandas UDF runs (the daemon needs the package), and a UDF sees
    the package, the caller's executorEnv PYTHONPATH and the driver's
    PYTHONPATH."""
    caller_dir, driver_dir, cwd = (tmp_path / d for d in ("caller", "driver", "cwd"))
    for d, n in ((caller_dir, 100), (driver_dir, 1000)):
        d.mkdir()
        (d / f"{d.name}_probe.py").write_text(f"N = {n}\n")
    cwd.mkdir()
    script = cwd / "driver.py"
    script.write_text(_FOREIGN_DRIVER.format(root=_PACKAGE_ROOT, caller_dir=str(caller_dir)))
    env = dict(os.environ, PYTHONPATH=str(driver_dir))
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "plain 10" in out.stdout and "imports 1110" in out.stdout, out.stdout
