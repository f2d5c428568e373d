"""SparkSession factory with the K3 tuning profile (SURVEY.md §2.6).

All engine jobs and tests go through :func:`get_spark` so the conf profile is
recorded in one place and the bench can report it (BASELINE.md protocol #4).

Scale notes (designed for a 1000-executor cluster, tested on local[N]):
  - AQE on (default in Spark 4.x, pinned anyway) + skew-join splitting +
    partition coalescing: runtime re-planning replaces hand-tuned shuffle
    partition counts at 100 TB.
  - ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
    coalesces below it. On a real cluster set it ~2-3x total cores.
  - Arrow execution on: C1-C3 compression kernels move rows executor->Python
    as Arrow batches, never pickled rows (BASELINE.json:15 "no per-row
    Python").
  - Session timezone pinned UTC so bucket_ts is deterministic everywhere.

Local file writes spawn no process. Hadoop's local FileSystem sets the mode
of every file, ``.crc`` side file and directory it creates; without
libhadoop (pip's pyspark ships none) each of those is a forked ``chmod``, at
several ms of CPU apiece: 239 of them in one 32-doc x 8192-token rollup
epoch. So for ``local`` masters :func:`get_spark` compiles
``engine/jvm/NoForkLocalFileSystem.java`` once with the JDK's ``javac``
(against Spark's ``hadoop-client-api`` jar, into a cache dir keyed by the
source's hash) and makes it the ``file://`` FileSystem through
``spark.driver.extraClassPath`` and ``spark.hadoop.fs.file.impl``: the same
modes, set through ``java.nio``; checksums and ``.crc`` files unchanged.
Only local masters get it, because only their executors run in the driver's
JVM; a cluster's executors write through their own FileSystems. Where there
is no ``javac`` (or no source, as in a ``--py-files`` zip), Hadoop's own class
stays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import warnings

from pyspark import SparkContext
from pyspark.sql import SparkSession


# Python workers churn large NumPy temporaries every Arrow batch. With
# glibc defaults every buffer >32 MB is mmap'd and unmapped per call, so
# each batch re-faults hundreds of MB of fresh pages per worker — measured
# 10-40x kernel-time inflation on this hypervisor (first-touch ~0.1-1 ms a
# page under load; the cost shows up as 'steal'). Raising the mmap/trim
# thresholds keeps the arena hot: buffers are faulted once per worker
# lifetime and recycled. Same 49M-token compress stage: 61 s -> 5.4 s.
# Also the right setting for long-running production executors.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(2 * 1024**3),
    "MALLOC_TRIM_THRESHOLD_": str(2 * 1024**3),
    "MALLOC_TOP_PAD_": str(256 * 1024**2),
}


_NO_FORK_FS = "engine.jvm.NoForkLocalFileSystem"
_NO_FORK_SRC = os.path.join(os.path.dirname(__file__), "jvm", "NoForkLocalFileSystem.java")


def _javac() -> str | None:
    """The ``javac`` of the JDK whose ``java`` Spark will launch, so the
    class file's version always loads."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        return None
    javac = os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    return javac if os.access(javac, os.X_OK) else None


def _no_fork_fs_classes() -> str | None:
    """Classes dir holding the compiled NoForkLocalFileSystem, or None when
    it cannot be built here. Compiled once per source hash into
    ``$XDG_CACHE_HOME/ts-rollup-engine`` (``~/.cache`` by default), outside
    the work tree; the finished dir appears by one atomic rename, so
    concurrent sessions never load a half-written class."""
    from pyspark.find_spark_home import _find_spark_home

    javac = _javac()
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not jars or not os.path.exists(_NO_FORK_SRC):
        return None
    with open(_NO_FORK_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[0]).encode()).hexdigest()
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "ts-rollup-engine",
    )
    out = os.path.join(root, f"jvm-{key[:16]}")
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".jvm-", dir=root)
    except OSError:
        return None
    try:
        subprocess.run(
            [javac, "-nowarn", "-d", tmp, "-cp", jars[0], _NO_FORK_SRC],
            check=True, capture_output=True, timeout=300,
        )
        os.rename(tmp, out)
    except subprocess.CalledProcessError as e:
        warnings.warn("NoForkLocalFileSystem did not compile; Hadoop's local "
                      "FileSystem stays:\n" + e.stderr.decode(errors="replace")[-2000:])
    except (OSError, subprocess.TimeoutExpired):
        pass  # another session renamed its copy first, or javac hung
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def get_spark(
    app_name: str = "ts-rollup-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is left unset so spark-submit supplies it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # must be in THIS process's env before the JVM launches: local-mode and
    # local-cluster python workers fork from daemons that inherit it
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round 7 (guide §2.2): AQE's coalescing floor. The default 1 MB
        # floor lets a small-relative-to-the-cluster shuffle (e.g. ~30 MB
        # over 32 cores) coalesce below core count, serializing the window/
        # agg stage behind it — measured ~20% on the sf1.0 window family.
        # The floor only binds when totalShuffleBytes/parallelism < 1 MB;
        # at production scale the per-partition target is far above either
        # value, so this is inert there (parameterised via env regardless).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        # Round 7: REBALANCE-mode tier writes (engine/io.py) size their
        # tasks from this. 8 MB keeps a hundreds-of-MB local write on all
        # cores while a KB-sized cascade tier still collapses to one task;
        # on a production cluster set SPARK_GRAFT_ADVISORY_PARTITION=256m
        # (guide §9) so shuffle partitions land in the 100 MB-1 GB band.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round 7 (guide §1/§6): below this many paths, file listing stays
        # on the driver (its built-in thread pool) instead of being
        # dispatched as a distributed listing JOB whose fixed scheduling
        # cost (~0.15 s) dwarfs listing a manifest read's <= n_buckets
        # leaf dirs. The default 32 predates driver-side parallel listing;
        # a distributed job only pays off at many thousands of paths —
        # read_at (engine/io.py) lists one path per snap dir, holding at
        # most n_buckets partition dirs, far below 1024.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LISTING_JOB_THRESHOLD", "1024"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Rows per Arrow batch sent to a Python stage. The fused rollup
        # stage, whose rows are whole series, also cuts its batches by
        # bytes (jobs/rollup.py _ARROW_BATCH_BYTES), which binds first.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # real clusters: executors aren't forked from this process, so ship the
    # allocator profile explicitly
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    extra_conf = dict(extra_conf or {})
    # local masters only (their executors share the driver's JVM), and only
    # when this call launches that JVM: a running one (spark-submit's, or an
    # earlier session's) keeps its classpath, and would not find the class
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    local = re.fullmatch(r"local(\[.*\])?", master)
    classes = None
    if local and launches_jvm:
        # local Python workers import the engine through the JVM's
        # environment, not this process's sys.path: put the package root
        # on it before the JVM launches, so jobs run from any cwd
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if root not in paths:
            os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)
        classes = _no_fork_fs_classes()
    if classes is not None:
        builder = builder.config("spark.hadoop.fs.file.impl", _NO_FORK_FS)
        user_cp = extra_conf.pop("spark.driver.extraClassPath", None)
        builder = builder.config(
            "spark.driver.extraClassPath",
            os.pathsep.join(p for p in (classes, user_cp) if p),
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
