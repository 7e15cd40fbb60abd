"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs
below are the ones that transfer to a real cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting), shuffle
partitions sized to parallelism rather than the 200 default, UTC session
timezone so timestamps compare bit-for-bit against the DuckDB oracle,
and Arrow for any pandas-UDF path.

One static conf is about long sessions rather than the cluster: the
generated-code cache is sized to hold every class a full registry pass
compiles, so a warm query reuses its Janino-compiled classes instead of
recompiling them after an LRU eviction.

The ``file:`` filesystem is replaced by the small Java override in
``localfs/``. Without ``libhadoop`` (not shipped with pyspark), Hadoop's
``RawLocalFileSystem`` forks a shell command for two routine calls:
``chmod`` in every ``setPermission`` (each file create and mkdir) and
``readlink`` in every ``getFileLinkStatus`` (each rename checks the
source, the destination and its parent). A checkpoint-log commit took
~16 ms that way, against ~1 ms through ``java.nio``, and a micro-batch
commits four logs plus its sink files. The override answers both calls
through ``java.nio`` and defers to Hadoop for what ``java.nio`` cannot
express (a sticky bit, a symlink's own status), so the files, their
``.crc`` checksums, their mode bits and the rename semantics on disk are
unchanged. ``get_spark`` compiles it once per source/JDK into a cache
directory outside the checkout; where no ``javac`` exists (a JRE-only
install) the session starts on Hadoop's stock classes after one warning.
"""

from __future__ import annotations

import functools
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: ``spark.sql.codegen.cache.maxEntries`` (default 100). One 231-query
#: ``bench.py`` headline pass at sf0.001 compiles about 4,250 distinct
#: classes and the five ``analytics-mixed`` queries 168, so at the default
#: every warm pass recompiles nearly all of them (~9 ms each). 8192 holds
#: a whole headline pass with headroom; that pass grows the JVM's
#: Metaspace by ~75 MB (``bench.py`` records it as ``codegen_passes``).
CODEGEN_CACHE_ENTRIES = 8192

#: Java sources of the ``file:`` filesystem override (package
#: ``kafka_go_streamer_spark.localfs``), and the Hadoop confs that select
#: its checksummed ``FileSystem`` and ``AbstractFileSystem`` classes.
LOCAL_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "localfs")
LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": "kafka_go_streamer_spark.localfs.ForklessLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "kafka_go_streamer_spark.localfs.ForklessLocalFs",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


@functools.cache
def local_fs_classes() -> str | None:
    """Directory of the compiled ``localfs`` classes, compiling them on
    first use. ``None``, after one warning, when they cannot be built
    here (no ``javac``, a failed compile, or no writable cache directory).

    The directory lives under the user cache, keyed by a hash of the
    sources, the ``javac`` version and Spark's jar list, and appears by
    one atomic rename, so concurrent sessions never see a partial build.
    """
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else shutil.which("javac")
    if not javac or not os.access(javac, os.X_OK):
        return _stock_local_fs("no javac found")
    probe = subprocess.run([javac, "-version"], capture_output=True, text=True)
    # Only the "javac <version>" line: the JVM also reports any
    # JAVA_TOOL_OPTIONS, which may name a per-run directory.
    version = [x for x in (probe.stdout + probe.stderr).splitlines() if x.startswith("javac")]
    jars = os.path.join(_find_spark_home(), "jars")
    sources = sorted(
        os.path.join(LOCAL_FS_SRC, f) for f in os.listdir(LOCAL_FS_SRC) if f.endswith(".java")
    )
    h = hashlib.sha256("\n".join(version).encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for src in sources:
        with open(src, "rb") as f:
            h.update(f.read())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "kafka_go_streamer_spark",
    )
    out = os.path.join(cache, "localfs-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".localfs-", dir=cache)
    except OSError as e:
        return _stock_local_fs(f"cannot write {cache}: {e}")
    try:
        built = subprocess.run(
            [javac, "-nowarn", "-cp", os.path.join(jars, "*"), "-d", tmp, *sources],
            capture_output=True, text=True,
        )
        if built.returncode != 0:
            return _stock_local_fs(f"javac failed:\n{built.stderr}")
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another process won the rename
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _stock_local_fs(reason: str) -> None:
    log.warning(
        "%s; the Spark session uses Hadoop's stock local filesystem, which "
        "forks chmod and readlink on every checkpoint and sink file write",
        reason,
    )
    return None


def get_spark(
    app_name: str = "kafka_go_streamer_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): same shuffles, no sort
        # of either side — measured −20% across the join-heavy bench
        # subset at sf0.1. Scale-safe: the planner still requires the
        # build side to fit its per-partition bound (falls back to SMJ
        # otherwise), and AQE's OptimizeShuffledHashJoin handles the
        # runtime side. Not a local[32] artifact — this is the
        # standard batch-ETL setting on adequate-memory executors.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    conf = dict(extra_conf or {})
    classes = local_fs_classes()
    if classes:
        # local[n]: the driver's classpath is the executors' classpath.
        user_cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = (
            f"{user_cp}{os.pathsep}{classes}" if user_cp else classes
        )
        conf = {**LOCAL_FS_CONF, **conf}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Force-start the Python UDF worker daemons. The first pandas-UDF
    task in a session pays ~30-40 s of worker spin-up (pandas/pyarrow
    imports per daemon) on this container; paying it once up front keeps
    that constant out of per-query timings."""

    def _identity(it):
        yield from it

    spark.range(spark.sparkContext.defaultParallelism).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_identity, "id long").count()
