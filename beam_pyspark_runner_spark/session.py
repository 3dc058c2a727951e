"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); production target is a
1000-executor cluster over ~100 TB. The configs below are the ones that
matter for both: AQE on (runtime coalesce + skew-join splitting), UTC
session timezone (oracle comparability), Arrow for all Python interop,
and shuffle partitions sized to the environment rather than the 200
default.

Cold start. A serverless job pays a full JVM start on every run, so when
this factory itself launches the ``local[N]`` JVM it starts it from a
JDK dynamic class-data-sharing (AppCDS) archive: the classes Spark,
Catalyst, Arrow and the Python runner load come memory-mapped and
pre-parsed instead of read and verified from Spark's jars. The archive
is keyed by the JDK and the Spark jar set and lives in
``${XDG_CACHE_HOME:-~/.cache}/beam_pyspark_runner_spark/``. The gain
needs that archive to outlive the process: a start that finds none
starts normally, and when its process exits a detached, lowest-priority
process builds the archive (about 40 s and 40 CPU-seconds on a 4-core
VM). The job that found none runs exactly as without the feature, and
only later starts on the host gain; a container torn down with its job
never finishes the build, so it gains only if its image ships the
archive, built by starting one session at image build time and waiting
for the build. Deleting the directory forces a rebuild. Inert at scale: the
helper acts only when no ``master`` is given and no JVM runs in the
process yet, so a cluster deploy (an explicit master, or a JVM launched
by spark-submit) gets no flag and no environment change. A missing,
mismatched or garbage archive, an unwritable or read-only cache and a
failed build all end in a normal start.

Python tasks. PySpark calls ``importlib.invalidate_caches()`` at the
start of every task, and on Python 3.11 and 3.12 each ``zipimporter``
then re-reads its archive: about 190 ms per task in a reused worker,
for ``pyspark.zip`` behind a dozen importers and the spark-core jar. So
the JVM this factory launches runs its Python workers under Spark's own
``spark.python.daemon.module``, set to ``worker_daemon``: the stock
daemon, whose importers re-read an archive only when its stat stamp
changed. A changed archive and a zip shipped with ``addPyFile`` are
still read. Inert at scale: the conf is set only under the same gate as
the archive (no master, no live gateway, not under spark-submit), and a
caller's own ``spark.python.daemon.module`` wins. Nor is it set, with a
warning, when the cwd holds another copy of the package: workers
import the package from the driver's cwd first. A cluster can opt in
through that same conf once the package ships to its executors.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import warnings

from pyspark.sql import SparkSession

_JAVA_OPTS = "spark.driver.extraJavaOptions"
_DAEMON_MODULE = "spark.python.daemon.module"
_BUILD_TIMEOUT_S = 300


def _local_driver_mem_default() -> str:
    """Default local-mode driver heap: 8g, CLAMPED to ~half of the
    host's memory (an unconditional -Xmx8g under 32 task slots gets
    OOM-killed on sub-8-GiB hosts/CI containers instead of degrading).
    The total comes from ``/proc/meminfo``, else from ``sysconf`` (macOS
    and other Unixes); 8g is kept only when neither exists. On the
    128 GiB bench host this still resolves to 8g, so bench comparability
    is unchanged; override via ``SPARK_GRAFT_LOCAL_DRIVER_MEM`` either
    way."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(
                next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]
            )
        total = kb * 1024
    except (OSError, StopIteration, ValueError):
        try:
            total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            total = 0
    if total <= 0:
        return "8g"  # no host-memory source at all: the measured default
    half_gib = total // (2 * 1024**3)
    return f"{min(8, max(1, half_gib))}g"


def _archive_key(java_home: str, spark_home: str) -> str:
    """Name of the archive for this JDK and Spark jar set: a hash of the
    stat (path, size, mtime) of the JDK's ``release`` and ``lib/modules``
    and of every jar the launcher puts on the classpath. The GC and the
    rest of the command line stay out of it: an archive loads under any
    collector, and the JVM validates everything else itself, ignoring a
    mismatched archive."""
    paths = [os.path.join(java_home, "release"),
             os.path.join(java_home, "lib", "modules")]
    paths += sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    digest = hashlib.sha256()
    for path in paths:
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:20]


def _train(archive_tmp: str) -> None:
    """Training run of the archive build, in its own process: start a
    session that dumps its loaded classes at JVM exit, load the classes a
    job loads (Catalyst, codegen, shuffle, the Arrow Python runner), then
    stop the JVM and wait for it to exit, which is when the dump is
    written."""
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    # The archive holds classes, not compiled code or heap layout, so the
    # cheapest JVM that loads them will do: C1 only, the serial collector,
    # one task slot and a small heap take about two thirds of the CPU and
    # memory of a default session.
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark(
        "class-data-sharing",
        extra_conf={
            _JAVA_OPTS: f"-XX:ArchiveClassesAtExit={archive_tmp} "
                        "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
            "spark.driver.memory": "512m",
        },
    )
    spark.range(1000).collect()
    facts = spark.range(1000).withColumn("k", F.col("id") % 10)
    keys = spark.range(10).withColumnRenamed("id", "k")
    facts.join(keys, "k").groupBy("k").agg(F.sum("id")).collect()
    spark.range(100).mapInArrow(lambda batches: batches, "id long").collect()
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    sys.exit(gateway.proc.wait(timeout=_BUILD_TIMEOUT_S))


def _build_archive(stem: str) -> None:
    """Build the archive ``<stem>.jsa`` in a training child and publish
    it atomically, unless another process holds the build lock or the
    archive or a ``<stem>.failed`` marker already exists. A child that
    fails on its own leaves the marker, so later starts skip the build;
    a timeout leaves none, so a later start retries. Only a complete
    archive ever appears at the published name: a truncated one would
    crash the JVM that maps it.

    The child writes the archive and its Spark scratch into its own work
    directory, ``<stem>.jsa.<pid>.tmp/``, never into the temp dirs of the
    job that asked for the build, which may be gone before it ends."""
    import fcntl

    path, failed = stem + ".jsa", stem + ".failed"
    conf_dir = os.path.join(os.path.dirname(stem), "conf")
    os.makedirs(conf_dir, exist_ok=True)
    with open(stem + ".lock", "a") as lock:
        try:  # closing the file unlocks
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return  # another process is building it
        if os.path.exists(path) or os.path.exists(failed):
            return
        for stale in glob.glob(glob.escape(path) + ".*.tmp"):  # killed builds
            shutil.rmtree(stale, ignore_errors=True)
        work = f"{path}.{os.getpid()}.tmp"
        os.mkdir(work)
        tmp = os.path.join(work, "archive.jsa")
        # The dump prints thousands of CDS warnings (signed jars): log them.
        with open(stem + ".log", "wb") as log:
            child = subprocess.Popen(
                [sys.executable, "-c",
                 "import sys; from beam_pyspark_runner_spark.session import "
                 "_train; _train(sys.argv[1])", tmp],
                env={**os.environ, "SPARK_CONF_DIR": conf_dir,
                     "TMPDIR": work, "SPARK_LOCAL_DIRS": work},
                cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = child.wait(timeout=_BUILD_TIMEOUT_S)
                if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp):
                    os.replace(tmp, path)
                    return
                note = f"training child exit {code}; see {stem}.log\n"
                with open(failed, "w") as fh:
                    fh.write(note)
                log.write(f"\n{note}wrote {failed}: later starts skip the "
                          "archive until it is deleted\n".encode())
            except subprocess.TimeoutExpired:
                log.write(b"\ntimed out: no archive; a later start retries\n")
            finally:
                if child.poll() is None:  # timed out or interrupted: kill child + JVM
                    os.killpg(child.pid, signal.SIGKILL)
                    child.wait()
                shutil.rmtree(work, ignore_errors=True)


def _build_when_idle(stem: str) -> None:
    """``_build_archive`` at the lowest CPU priority, inherited by the
    training child and its JVM: ``SCHED_IDLE`` on Linux, so it runs only
    on CPUs that a job started meanwhile leaves idle, else nice 19."""
    try:
        os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    except (AttributeError, OSError):
        os.nice(19)
    _build_archive(stem)


def _start_archive_build(stem: str) -> None:
    """Build the archive in a detached, lowest-priority process that
    outlives this one. Called at interpreter exit, so the build never
    shares the CPU with the job that found the archive missing."""
    try:
        subprocess.Popen(
            [sys.executable, "-c",
             "import sys; from beam_pyspark_runner_spark.session import "
             "_build_when_idle; _build_when_idle(sys.argv[1])", stem],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, start_new_session=True,
        )
    except OSError:
        pass  # no build this time; a later start retries


def _launches_local_jvm(master: str | None) -> bool:
    """True when ``get_spark`` launches the local JVM itself: no master
    given, no JVM gateway in this process yet, and no driver JVM that
    spark-submit launched (cluster deploys)."""
    from pyspark import SparkContext

    return (master is None and SparkContext._gateway is None
            and not os.environ.get("PYSPARK_GATEWAY_PORT"))


def _with_worker_daemon(master: str | None, conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with Spark's Python daemon module set to ``worker_daemon``
    when ``get_spark`` launches the local JVM (module docstring), unless
    the caller set one; else ``conf`` itself.

    Python workers import this package from the driver's cwd first, so
    when the cwd holds another copy of it, which may lack
    ``worker_daemon``, the stock daemon runs instead, with a warning."""
    if not _launches_local_jvm(master) or _DAEMON_MODULE in conf:
        return conf
    here = os.path.dirname(os.path.abspath(__file__))
    shadow = os.path.join(os.getcwd(), os.path.basename(here))
    if os.path.exists(shadow) and not os.path.samefile(shadow, here):
        warnings.warn(f"stock Python worker daemon: workers import {shadow} from the "
                      f"cwd before this package, {here}", stacklevel=3)
        return conf
    return {_DAEMON_MODULE: "beam_pyspark_runner_spark.worker_daemon", **conf}


def _with_class_data_sharing(
    master: str | None, conf: dict[str, str]
) -> tuple[dict[str, str], str | None]:
    """``conf`` with ``-XX:SharedArchiveFile=<archive>`` prepended to the
    caller's driver Java options when this host has the archive, else
    ``conf`` itself, untouched; and the archive's path stem when it is
    missing and should be built when this process exits, else None.

    Acts only when this factory launches the local JVM (no master, no
    gateway yet, not under spark-submit) and the classpath is the
    launcher's own: JDK 17 refuses to dump while a non-empty directory is
    on it, so the conf dir (first on the classpath) is swapped for an
    empty one, which is done only when it holds nothing but ``*.template``
    files and so changes no behaviour. Anything that widens the classpath
    skips. Using an archive writes nothing, so a read-only cache (one
    baked into an image) works."""
    from pyspark.find_spark_home import _find_spark_home

    java_opts = conf.get(_JAVA_OPTS, "")
    if (
        not _launches_local_jvm(master)
        or any(os.environ.get(v) for v in
               ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"))
        or any(k.startswith("spark.jars") or k == "spark.driver.extraClassPath"
               for k in conf)
        # the caller manages class-data sharing itself (the training child)
        or re.search(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit", java_opts)
    ):
        return conf, None
    java = shutil.which("java")
    java_home = os.environ.get("JAVA_HOME") or (
        java and os.path.dirname(os.path.dirname(os.path.realpath(java)))
    )
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "beam_pyspark_runner_spark",
    )
    if not java_home or re.search(r"\s", cache):  # options split on whitespace
        return conf, None
    try:
        spark_home = _find_spark_home()
        user_conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
            spark_home, "conf")
        if os.path.isdir(user_conf_dir) and not all(
                f.endswith(".template") for f in os.listdir(user_conf_dir)):
            return conf, None
        stem = os.path.join(cache, _archive_key(java_home, spark_home))
        path, failed = stem + ".jsa", stem + ".failed"
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)  # a no-op on a baked cache
        if not os.path.exists(path):
            if not os.path.exists(failed):
                return conf, stem
            warnings.warn(f"class-data sharing off: the archive build failed "
                          f"({failed}; see {stem}.log); delete {cache} to retry")
            return conf, None
        if os.listdir(conf_dir):
            return conf, None
    except OSError:
        return conf, None
    os.environ["SPARK_CONF_DIR"] = conf_dir
    return {**conf,
            _JAVA_OPTS: f"-XX:SharedArchiveFile={path} {java_opts}".rstrip()}, None


def get_spark(
    app_name: str = "beam_pyspark_runner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism. On a real
    cluster, pass ``master=None`` with externally-provided deploy config;
    everything here is safe cluster-side too (AQE, Arrow, UTC). A local
    JVM launched here starts from the class-data-sharing archive and
    runs its Python workers under ``worker_daemon`` (module docstring);
    the archive flag is prepended to any ``spark.driver.extraJavaOptions``
    in ``extra_conf``, never replacing them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    local_mode = master is None
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers deserialize UDF closures that reference this
    # package, so the repo root must be importable in THEIR interpreter,
    # not just the driver's. When the driver happens to run from the
    # repo root, cwd-on-sys.path hides the issue; from any other cwd the
    # workers die with ModuleNotFoundError. Exporting PYTHONPATH before
    # the JVM forks the first worker makes sessions cwd-independent (a
    # real cluster ships the package via --py-files / pip instead).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )
    # After the PYTHONPATH export: a training child inherits it.
    extra_conf, build = _with_class_data_sharing(master, dict(extra_conf or {}))
    extra_conf = _with_worker_daemon(master, extra_conf)
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. At 100 TB this is what turns a
        # static 32-partition plan into a right-sized one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor. With parallelismFirst (default true) the
        # coalesce target is max(shuffleBytes/defaultParallelism,
        # minPartitionSize), so the 1 MiB default floor is what decides
        # partition counts for SMALL shuffles — and it over-coalesces
        # them: a ~3 MiB compact shuffle feeding a compute-heavy stage
        # (pair explode, per-doc array sorts) ran on 3-7 of 32 slots.
        # Measured round 13 (interleaved A/B, min-of-5): pagerank 2.25 →
        # 1.62 s, ppjoin 1.63 → 1.34, kmeans 0.74 → 0.57, q18 0.76 →
        # 0.57; no query regressed. The knob is inert for large
        # shuffles (bytes/parallelism dominates the max at cluster
        # scale), so production plans are unchanged; override via env
        # if a deployment prefers the stock floor.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let the planner pick shuffled-hash join when its size gates
        # hold (opt guide §3.1/§9): same shuffle, no per-partition sort
        # of either side. The build side is bounded by the planner's
        # canBuildLocalHashMap gate (stats under threshold×partitions)
        # and AQE's skew splitting keeps partitions sane, so the OOM
        # risk the sort-merge default guards against is already fenced.
        # Join strategy never changes results — plan-only.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM crossing (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python UDTFs too: ArrowEvalPythonUDTF replaces row-pickled
        # BatchEvalPythonUDTF — the last row-at-a-time Python crossing.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Parquet scans: pushdown + pruning are on by default; keep
        # vectorized reader explicit since operators rely on it.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The events fixture stores TIMESTAMP(NANOS), which Spark's
        # microsecond timestamp type refuses; read nanos as long once,
        # session-wide (sources/readers.py converts to TimestampType).
        # Set here, not per-read: flipping session conf inside a reader
        # would silently change every later parquet read's TIMESTAMP(NANOS)
        # interpretation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if local_mode:
        # In local[N] the ONE JVM is driver + all N task slots, but
        # spark.driver.memory defaults to 1g — 32 concurrent tasks
        # (broadcast builds, window buffers, per-doc arrays) churn a
        # 1 GiB G1 heap hard. Measured (JMX GC beans, round 13): the
        # heaviest bench queries paid ~100-125 ms GC per run at 1g vs
        # 25-70 ms at 8g. Applied ONLY when this factory constructs a
        # local master (a cluster deploy sizes executors externally and
        # an already-running JVM ignores it); override via env for
        # smaller hosts.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DRIVER_MEM", _local_driver_mem_default()
            ),
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if build is not None:
        atexit.register(_start_archive_build, build)
    return spark


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until the async listener bus has processed all posted events.

    Queries that create session-shared temp views and drop them on the
    way out race the ``ExecutionListenerBus``: listeners (e.g. the
    observation manager) may re-analyze a finished query's plan AFTER
    the views it referenced are dropped, logging a spurious
    ``TABLE_OR_VIEW_NOT_FOUND`` ERROR. Draining the bus between the
    last action and the drop removes the race. Driver-side wait only —
    no job, no data movement; the private-but-stable ``waitUntilEmpty``
    is guarded so a future Spark rename degrades to a no-op instead of
    breaking queries."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        pass
