"""Session factory: the class-data-sharing cold start, the Python worker
daemon's gate and the heap clamp.

The off-Spark tests drive ``_with_class_data_sharing`` against a fake JDK
and Spark home, so every skip rule is checked without starting a JVM;
``_build_archive`` runs against a shell stand-in for the training child.
One subprocess test checks that a first start in an empty cache runs
without an archive and builds one only after it exits, and proves that
a later process maps it.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext

from beam_pyspark_runner_spark import session
from beam_pyspark_runner_spark.session import (
    _DAEMON_MODULE,
    _JAVA_OPTS,
    _archive_key,
    _build_archive,
    _local_driver_mem_default,
    _with_class_data_sharing,
    _with_worker_daemon,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def homes(tmp_path, monkeypatch):
    """A fake JDK and Spark home, an empty cache, and no JVM in sight."""
    java_home = tmp_path / "jdk"
    (java_home / "lib").mkdir(parents=True)
    (java_home / "release").write_text('JAVA_VERSION="17"\n')
    (java_home / "lib" / "modules").write_bytes(b"m" * 64)
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    for name in ("a.jar", "b.jar"):
        (spark_home / "jars" / name).write_bytes(b"j" * 32)
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        # set first, so teardown restores the variable the helper may set
        monkeypatch.setenv(var, "x")
        monkeypatch.delenv(var)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    cache = tmp_path / "cache" / "beam_pyspark_runner_spark"
    archive = cache / (_archive_key(str(java_home), str(spark_home)) + ".jsa")
    return {"java": java_home, "spark": spark_home, "cache": cache,
            "archive": archive}


def _publish(archive) -> None:
    archive.parent.mkdir(parents=True, exist_ok=True)
    archive.write_bytes(b"archive")


# --- the key ----------------------------------------------------------------


def test_archive_key_stable_and_tracks_jdk_and_jars(homes):
    java, spark = str(homes["java"]), str(homes["spark"])
    key = _archive_key(java, spark)
    assert key == _archive_key(java, spark)

    jar = homes["spark"] / "jars" / "a.jar"
    jar.write_bytes(b"j" * 33)  # size
    sized = _archive_key(java, spark)
    assert sized != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    touched = _archive_key(java, spark)
    assert touched not in (key, sized)
    (homes["java"] / "release").write_text('JAVA_VERSION="17.0.99"\n')
    assert _archive_key(java, spark) not in (key, sized, touched)


# --- when it applies --------------------------------------------------------


def test_archive_flag_merged_into_caller_options_verbatim(homes):
    _publish(homes["archive"])
    caller = "-Djava.io.tmpdir=X -XX:+UseSerialGC"
    conf = {_JAVA_OPTS: caller, "spark.ui.showConsoleProgress": "false"}
    out, build = _with_class_data_sharing(None, conf)
    assert out[_JAVA_OPTS] == f"-XX:SharedArchiveFile={homes['archive']} {caller}"
    assert out["spark.ui.showConsoleProgress"] == "false"
    assert conf[_JAVA_OPTS] == caller  # the caller's dict is not mutated
    assert os.environ["SPARK_CONF_DIR"] == str(homes["cache"] / "conf")
    assert os.listdir(homes["cache"] / "conf") == []
    assert build is None


def test_missing_archive_starts_normally_and_asks_for_a_build(homes):
    assert _with_class_data_sharing(None, {}) == (
        {}, str(homes["archive"].with_suffix("")))
    assert "SPARK_CONF_DIR" not in os.environ

    _publish(homes["archive"])  # what the build leaves behind
    out, build = _with_class_data_sharing(None, {})
    assert out == {_JAVA_OPTS: f"-XX:SharedArchiveFile={homes['archive']}"}
    assert build is None


def test_read_only_cache_with_archive_is_used_without_writing(homes, monkeypatch):
    _publish(homes["archive"])
    (homes["cache"] / "conf").mkdir()
    before = sorted(p.name for p in homes["cache"].iterdir())
    real_open = open

    def read_only_open(file, mode="r", *args, **kwargs):
        if any(c in mode for c in "wax+"):
            raise OSError(30, "Read-only file system", str(file))
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr("builtins.open", read_only_open)
    for d in (homes["cache"] / "conf", homes["cache"]):
        d.chmod(0o555)  # also read-only for a non-root user
    try:
        out, build = _with_class_data_sharing(None, {})
    finally:
        for d in (homes["cache"], homes["cache"] / "conf"):
            d.chmod(0o755)
    assert out == {_JAVA_OPTS: f"-XX:SharedArchiveFile={homes['archive']}"}
    assert build is None
    assert sorted(p.name for p in homes["cache"].iterdir()) == before


def _live_gateway(homes, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())


def _launched_by_spark_submit(homes, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "41234")


def _conf_dir_with_real_file(homes, monkeypatch):
    (homes["spark"] / "conf" / "spark-defaults.conf").write_text("a b\n")


def _hadoop_conf_dir(homes, monkeypatch):
    monkeypatch.setenv("HADOOP_CONF_DIR", "/etc/hadoop")


def _unwritable_cache(homes, monkeypatch):
    blocker = homes["java"].parent / "not_a_dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))


def _failed_marker(homes, monkeypatch):
    homes["archive"].unlink()
    homes["archive"].with_suffix(".failed").write_text("exit 1\n")


@pytest.mark.parametrize("master, extra, arrange", [
    (None, {}, _live_gateway),
    (None, {}, _launched_by_spark_submit),
    ("spark://head:7077", {}, None),
    (None, {}, _conf_dir_with_real_file),
    (None, {}, _hadoop_conf_dir),
    (None, {"spark.jars": "/x/udf.jar"}, None),
    (None, {}, _unwritable_cache),
    (None, {}, _failed_marker),
], ids=["live_gateway", "spark_submit_jvm", "non_local_master",
        "conf_dir_with_real_file", "hadoop_conf_dir", "spark_jars",
        "unwritable_cache", "failed_marker"])
def test_skip_rule_leaves_options_untouched(homes, monkeypatch, master, extra,
                                            arrange):
    _publish(homes["archive"])  # without the rule, the flag would be added
    if arrange is not None:
        arrange(homes, monkeypatch)
    caller = "-Djava.io.tmpdir=X -XX:+UseSerialGC"
    conf = {_JAVA_OPTS: caller, **extra}
    if arrange is _failed_marker:  # the skip names the marker and the log
        with pytest.warns(UserWarning, match=r"\.failed; see .*\.log"):
            out, build = _with_class_data_sharing(master, dict(conf))
    else:
        out, build = _with_class_data_sharing(master, dict(conf))
    assert out == conf
    assert out[_JAVA_OPTS].encode() == caller.encode()
    assert "SPARK_CONF_DIR" not in os.environ
    assert build is None


# --- the Python worker daemon ----------------------------------------------


def test_worker_daemon_set_for_the_jvm_the_factory_launches(homes):
    conf = {_JAVA_OPTS: "-Xss4m"}
    assert _with_worker_daemon(None, conf) == {
        _DAEMON_MODULE: "beam_pyspark_runner_spark.worker_daemon", **conf}
    assert conf == {_JAVA_OPTS: "-Xss4m"}  # the caller's dict is not mutated


def test_callers_daemon_module_wins(homes):
    conf = {_DAEMON_MODULE: "my_pkg.daemon"}
    assert _with_worker_daemon(None, conf) == conf


@pytest.mark.parametrize("master, arrange", [
    ("spark://head:7077", None),
    ("local[2]", None),
    (None, _live_gateway),
    (None, _launched_by_spark_submit),
], ids=["non_local_master", "explicit_local_master", "live_gateway",
        "spark_submit_jvm"])
def test_worker_daemon_gate_leaves_conf_unset(homes, monkeypatch, master, arrange):
    if arrange is not None:
        arrange(homes, monkeypatch)
    assert _with_worker_daemon(master, {"spark.app.name": "x"}) == {"spark.app.name": "x"}


# --- building and publishing -----------------------------------------------


def _fake_python(tmp_path, monkeypatch, body: str) -> None:
    """Stand in for the training child: ``$3`` is the temporary archive."""
    exe = tmp_path / "fake_python"
    exe.write_text("#!/bin/sh\n" + body + "\n")
    exe.chmod(0o755)
    monkeypatch.setattr(session.sys, "executable", str(exe))


def _left(tmp_path) -> list[str]:
    return sorted(p.name for p in tmp_path.glob("k.*"))


@pytest.mark.parametrize(
    "body", ["exit 3", ': > "$3"', 'echo partial > "$3"; exit 1'],
    ids=["child_fails", "empty_archive", "dump_then_crash"])
def test_failed_build_publishes_nothing_and_marks_failure(tmp_path, monkeypatch,
                                                          body):
    _fake_python(tmp_path, monkeypatch, body)
    _build_archive(str(tmp_path / "k"))
    assert _left(tmp_path) == ["k.failed", "k.lock", "k.log"]
    assert "see " + str(tmp_path / "k.log") in (tmp_path / "k.failed").read_text()
    assert "wrote " + str(tmp_path / "k.failed") in (tmp_path / "k.log").read_text()


def test_successful_build_publishes_atomically(tmp_path, monkeypatch):
    _fake_python(tmp_path, monkeypatch,
                 'echo "$SPARK_CONF_DIR $SPARK_LOCAL_DIRS $TMPDIR" > "$3"')
    (tmp_path / "k.jsa.999.tmp").mkdir()  # left by a killed build
    (tmp_path / "k.jsa.999.tmp" / "archive.jsa").write_bytes(b"partial")
    _build_archive(str(tmp_path / "k"))
    assert _left(tmp_path) == ["k.jsa", "k.lock", "k.log"]
    conf_dir, local_dirs, tmpdir = (tmp_path / "k.jsa").read_text().split()
    assert conf_dir == str(tmp_path / "conf")
    # the child's scratch is its own work dir, removed after the build
    assert local_dirs == tmpdir == str(tmp_path / f"k.jsa.{os.getpid()}.tmp")

    assert os.listdir(tmp_path / "conf") == []


def test_timed_out_build_leaves_no_file_and_no_marker(tmp_path, monkeypatch):
    _fake_python(tmp_path, monkeypatch, 'echo partial > "$3"; sleep 60')
    monkeypatch.setattr(session, "_BUILD_TIMEOUT_S", 1)
    _build_archive(str(tmp_path / "k"))
    assert _left(tmp_path) == ["k.lock", "k.log"]  # a later start retries
    assert "timed out" in (tmp_path / "k.log").read_text()


def test_interrupted_build_removes_partial_archive(tmp_path, monkeypatch):
    _fake_python(tmp_path, monkeypatch, 'echo partial > "$3"; sleep 60')

    def interrupted(self, timeout=None):
        if timeout is not None:  # the build's wait, not the cleanup's
            while not glob.glob(str(tmp_path / "k.jsa.*.tmp" / "archive.jsa")):
                time.sleep(0.01)
            raise KeyboardInterrupt
        return real_wait(self)

    real_wait = subprocess.Popen.wait
    monkeypatch.setattr(subprocess.Popen, "wait", interrupted)
    with pytest.raises(KeyboardInterrupt):
        _build_archive(str(tmp_path / "k"))
    assert _left(tmp_path) == ["k.lock", "k.log"]


def test_build_skipped_while_another_process_holds_the_lock(tmp_path,
                                                            monkeypatch):
    _fake_python(tmp_path, monkeypatch, "exit 3")
    with open(tmp_path / "k.lock", "a") as held:  # a second open file conflicts
        fcntl.flock(held, fcntl.LOCK_EX)
        _build_archive(str(tmp_path / "k"))
    assert _left(tmp_path) == ["k.lock"]  # no child ran, no marker


@pytest.mark.parametrize("idle_class", [True, False], ids=["sched_idle", "nice"])
def test_background_build_runs_at_lowest_priority(monkeypatch, idle_class):
    calls = []

    def set_scheduler(pid, policy, param):
        if not idle_class:
            raise OSError("no SCHED_IDLE")
        calls.append(("sched", policy))

    monkeypatch.setattr(session.os, "sched_setscheduler", set_scheduler,
                        raising=False)
    monkeypatch.setattr(session.os, "nice", lambda n: calls.append(("nice", n)))
    monkeypatch.setattr(session, "_build_archive",
                        lambda stem: calls.append(("build", stem)))
    session._build_when_idle("k")
    first = ("sched", os.SCHED_IDLE) if idle_class else ("nice", 19)
    assert calls == [first, ("build", "k")]


# --- driver heap clamp ------------------------------------------------------


def _no_proc(*args, **kwargs):
    raise OSError("no /proc")


def test_driver_mem_falls_back_to_sysconf(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 4 * 2**30 // 4096}
    monkeypatch.setattr("builtins.open", _no_proc)
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__, raising=False)
    assert _local_driver_mem_default() == "2g"


def test_driver_mem_keeps_default_without_any_source(monkeypatch):
    monkeypatch.setattr("builtins.open", _no_proc)
    monkeypatch.delattr(session.os, "sysconf", raising=False)
    assert _local_driver_mem_default() == "8g"


# --- a real archive, end to end ---------------------------------------------

_START = """
import json, os, sys
from beam_pyspark_runner_spark.session import get_spark
extra = {"spark.driver.extraJavaOptions": sys.argv[1]} if len(sys.argv) > 1 else {}
spark = get_spark(app_name="cds-test", extra_conf=extra)
print("ROWS=" + json.dumps([r.id for r in spark.range(3).collect()]))
cache = os.path.join(os.environ["XDG_CACHE_HOME"], "beam_pyspark_runner_spark")
print("CACHE=" + json.dumps(sorted(os.listdir(cache))))
"""


def _start(env, *args) -> tuple[list[int], list[str]]:
    """``range(3)`` in a new process: its rows, and the cache's files as
    the job saw them before exiting."""
    proc = subprocess.run([sys.executable, "-c", _START, *args], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(ln.split("=", 1) for ln in proc.stdout.splitlines()
               if ln.startswith(("ROWS=", "CACHE=")))
    return json.loads(out["ROWS"]), json.loads(out["CACHE"])


def _wait_for_build(cache, timeout: float = 600) -> None:
    """Block until the detached build has published or given up."""
    deadline = time.monotonic() + timeout
    while not (list(cache.glob("*.jsa")) or list(cache.glob("*.failed"))):
        assert time.monotonic() < deadline, "the archive build did not finish"
        time.sleep(1)
    _wait_for_builder(cache)


def _wait_for_builder(cache) -> None:
    for lock in cache.glob("*.lock"):  # the builder releases it on exit
        with open(lock, "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)


def test_archive_built_after_first_exit_then_mapped_by_next(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_GRAFT_CPUS="2", PYTHONPATH=os.pathsep.join(
                   p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p))
    cache = tmp_path / "cache" / "beam_pyspark_runner_spark"
    log = tmp_path / "class_load.log"

    try:
        # The first start finds no archive: a normal start, and no build
        # (no lock, no work dir) until its process exits.
        rows, seen = _start(env, f"-Xlog:class+load=info:file={log}")
        assert rows == [0, 1, 2] and seen == ["conf"]
        assert "shared objects file (top)" not in log.read_text()
        _wait_for_build(cache)
        archives = list(cache.glob("*.jsa"))
        assert len(archives) == 1 and archives[0].stat().st_size > 0
        assert list(cache.glob("*.tmp")) == [] and list(cache.glob("*.failed")) == []

        assert _start(env, f"-Xlog:class+load=info:file={log}")[0] == [0, 1, 2]
        assert "shared objects file (top)" in log.read_text()

        garbage = tmp_path / "garbage"
        garbage.write_bytes(os.urandom(1 << 16))
        os.replace(garbage, archives[0])
        assert _start(env)[0] == [0, 1, 2]
    finally:  # pytest keeps recent temp dirs; the archive is ~150 MB
        _wait_for_builder(cache)
        shutil.rmtree(cache, ignore_errors=True)
