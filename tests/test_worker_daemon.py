"""The Python worker daemon: an importer re-reads its archive only when
the archive changed.

The off-Spark tests count ``zipimport._read_directory`` calls for a zip
module built in ``tmp_path``. The Spark tests run in the workers of the
test session, which ``get_spark`` started under the daemon: each task
counts the archive re-reads of its own ``importlib.invalidate_caches()``,
so nothing here depends on timing.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from beam_pyspark_runner_spark import worker_daemon


def _write_zip(path, name: str, source: str) -> None:
    """Publish a one-module zip at ``path`` as a new file (a new inode)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def _counting_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """A module imported from a zip on ``sys.path``, with the daemon's
    wrapper installed: (archive path, module name)."""
    archive = str(tmp_path / "mods.zip")
    name = f"zmod_{uuid.uuid4().hex}"
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(name)
    yield archive, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_module, monkeypatch):
    archive, _name = zip_module
    importlib.invalidate_caches()  # the importer records the archive's stamp
    reads = _counting_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_and_its_new_source_imports(zip_module,
                                                               monkeypatch):
    archive, name = zip_module
    importlib.invalidate_caches()
    reads = _counting_reads(monkeypatch, archive)
    _write_zip(archive, name, "# a longer file: new offsets\nVALUE = 2\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.reload(sys.modules[name]).VALUE == 2
    importlib.invalidate_caches()
    assert reads == [archive]


def test_missing_archive_always_calls_the_stdlib_method(tmp_path, monkeypatch):
    calls: list = []
    monkeypatch.setattr(worker_daemon, "_reread", calls.append)
    importer = type("Importer", (), {"archive": str(tmp_path / "gone.zip")})()
    worker_daemon.invalidate_if_changed(importer)
    worker_daemon.invalidate_if_changed(importer)
    assert calls == [importer, importer]


# --- in the workers of a Spark session --------------------------------------


def _task_rereads(_partition):
    """One task: the archive reads its own ``importlib.invalidate_caches()``
    made, after the one PySpark makes when the task starts."""
    import importlib
    import zipimport

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return [reads]


def test_session_runs_workers_under_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "beam_pyspark_runner_spark.worker_daemon"


def test_tasks_reread_no_archive(spark):
    """No task re-reads ``pyspark.zip`` or the spark-core jar (the stock
    daemon re-reads them about 16 times a task): a reused worker's
    importers keep their stamps, and a freshly forked worker inherits
    the daemon's."""
    rdd = spark.sparkContext.parallelize([0], 1)
    assert [rdd.mapPartitions(_task_rereads).collect() for _ in range(3)] == [[[]]] * 3


def test_zip_added_after_a_task_is_importable_in_the_next(spark, tmp_path):
    sc = spark.sparkContext
    name = f"added_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, name, "VALUE = 42\n")

    def value(_partition):
        import importlib

        return [importlib.import_module(name).VALUE]

    rdd = sc.parallelize([0], 1)
    rdd.mapPartitions(_task_rereads).collect()
    sc.addPyFile(archive)
    try:
        assert rdd.mapPartitions(value).collect() == [42]
    finally:
        sys.modules.pop(name, None)


_STALE_CWD_JOB = """
import warnings

from beam_pyspark_runner_spark.session import get_spark

with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    spark = get_spark(app_name="stale-cwd")
print("daemon:", spark.sparkContext.getConf().get("spark.python.daemon.module"))
print("rows:", spark.range(1, numPartitions=1).mapInArrow(lambda bs: bs, "id bigint").collect())
print("warned:", any("stock Python worker daemon" in str(w.message) for w in caught))
spark.stop()
"""


def test_stale_package_in_the_cwd_runs_the_stock_daemon(tmp_path):
    """A driver whose cwd holds another copy of the package (one without
    ``worker_daemon``): Python workers import the cwd copy first, so the
    session runs the stock daemon, warns, and its Python tasks run."""
    import subprocess

    cwd = tmp_path / "work"
    (cwd / "beam_pyspark_runner_spark").mkdir(parents=True)
    (cwd / "beam_pyspark_runner_spark" / "__init__.py").write_text("")
    script = tmp_path / "job.py"  # outside the cwd: sys.path[0] is tmp_path
    script.write_text(_STALE_CWD_JOB)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    env = {**os.environ, "PYTHONPATH": repo_root, "SPARK_GRAFT_CPUS": "1",
           "SPARK_GRAFT_LOCAL_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    done = subprocess.run([sys.executable, str(script)], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.splitlines() == ["daemon: None", "rows: [Row(id=0)]", "warned: True"]
