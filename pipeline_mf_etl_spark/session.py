"""SparkSession factory.

Single place where execution knobs live. Tuned for the local[N] test
harness but written for cluster scale: AQE on (runtime re-planning,
skew-join splitting, partition coalescing), shuffle partitions sized to
the parallelism actually available, Arrow enabled for every
pandas-exchange boundary, UTC session timezone so timestamp semantics
match the DuckDB oracle and any downstream engine.

Every CLI call is a fresh process, so the driver JVM's start-up is paid
per call. The driver therefore maps a per-install AppCDS archive (the
JDK's class-data sharing: an mmap-able image of the classes a Spark
driver loads) when one exists, and the first process without one dumps
it; see ``get_spark``.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: keeps CDS warnings (a stale or mismatched archive) off the driver JVM's
#: stdout, which is the CLI's stdout
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on
    (its affinity mask, so a pinned process does not over-subscribe)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            raise ValueError(f"SPARK_GRAFT_CPUS must be an integer, got {env!r}") from None
    return len(os.sched_getaffinity(0))


def _stat_key(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return f"{path}:-"
    return f"{path}:{st.st_size}:{st.st_mtime_ns}"


def _whole_archive(prefix: str) -> str | None:
    """An archive named ``<prefix>-<size>.jsa`` that still has that size.

    The JVM maps an archive's regions without checking them against the
    file's length, so a truncated one kills it (SIGBUS) instead of being
    ignored; the size in the name is the check it skips.
    """
    for f in glob.glob(glob.escape(prefix) + "-*.jsa"):
        with contextlib.suppress(OSError):
            if f.endswith(f"-{os.path.getsize(f)}.jsa"):
                return f
    return None


def _class_data_archive() -> tuple[str, str] | None:
    """(archive, empty conf dir) to launch the driver JVM with, dumping the
    archive first when this install has none; None for a plain start.

    A dump refuses a non-empty directory on the classpath, and the JVM
    ignores an archive whose classpath differs from the dump's; Spark puts
    its conf dir on the classpath. So the archive is only used when the
    conf dir is the default one holding nothing but ``*.template`` files,
    which the gateway launch then swaps for an empty dir under the cache:
    same settings, stable classpath. An explicit ``SPARK_CONF_DIR`` wins.
    The key (JDK, pyspark, Spark jars, conf dir) only spares a known-stale
    archive; on any other mismatch the JVM's own header and classpath
    checks, with ``-Xshare:auto``, fall back to a plain start.
    """
    jvm_running = SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    if jvm_running or os.environ.get("SPARK_CONF_DIR"):
        return None
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
                         "pipeline_mf_etl_spark", "cds")
    # the path goes into a whitespace-split option string
    if any(c.isspace() or c in "\"'\\" for c in cache):
        return None
    jars = os.path.join(spark_home, "jars")
    parts = [java, _stat_key(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")),
             pyspark.__version__, cache]
    parts += sorted(_stat_key(os.path.join(jars, f)) for f in os.listdir(jars)) if os.path.isdir(jars) else []
    parts += [f"{v}={os.environ.get(v, '')}" for v in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")]
    prefix = os.path.join(cache, hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16])
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    archive = _whole_archive(prefix)
    if archive is None and not os.path.exists(prefix + ".failed") and os.access(cache, os.W_OK):
        archive = _dump_archive(prefix, empty_conf)
    return (archive, empty_conf) if archive else None


def _dump_archive(prefix: str, empty_conf: str) -> str | None:
    """Dump ``<prefix>-<size>.jsa`` from a driver JVM in a child process;
    returns its path, or None when another process is dumping it or the
    dump failed.

    The child's JVM exits before this returns, and writes the archive on
    its way out (``-XX:ArchiveClassesAtExit``): an exiting JVM links every
    class it loaded, so the archive holds them all, where a dump from a
    live JVM (``jcmd VM.cds dynamic_dump`` on JDK 17) skips the ~3000 that
    are loaded but not yet linked, and a later start loads those from the
    jars. Written to a temp file and renamed, under a lock, so no reader
    sees a partial archive and concurrent first starts dump once. A failure
    is logged once and remembered for this key; it never raises.
    """
    tmp = prefix + ".tmp"
    with open(prefix + ".lock", "a") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:  # a concurrent first start is dumping it
            return None
        try:
            pythonpath = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))), os.environ.get("PYTHONPATH")]
            res = subprocess.run([sys.executable, "-m", __name__, tmp],
                                 env=dict(os.environ, SPARK_CONF_DIR=empty_conf,
                                          PYTHONPATH=os.pathsep.join(p for p in pythonpath if p)),
                                 stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, timeout=600)
            if res.returncode != 0 or not os.path.isfile(tmp) or os.path.getsize(tmp) == 0:
                raise OSError(f"dump process exited {res.returncode}: {res.stderr.strip()[-300:]}")
            archive = f"{prefix}-{os.path.getsize(tmp)}.jsa"
            os.replace(tmp, archive)
            for stale in set(glob.glob(glob.escape(prefix) + "-*.jsa")) - {archive}:
                os.remove(stale)
            return archive
        except (OSError, subprocess.SubprocessError) as e:  # a missing archive only costs speed
            msg = " ".join(str(e).split())
            print(f"pipeline_mf_etl_spark: class-data archive not written ({msg}); "
                  "later sessions start without one", file=sys.stderr)
            with contextlib.suppress(OSError), open(prefix + ".failed", "w") as fh:
                fh.write(msg + "\n")
            return None
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)


def _archive_classes_at_exit(path: str) -> None:
    """Body of ``_dump_archive``'s child: start a driver JVM, run one tiny
    job so the job-execution classes load too, and end the JVM, which then
    writes ``path``."""
    spark = (_builder("class-data-dump", None)
             .config("spark.driver.defaultJavaOptions", f"-XX:ArchiveClassesAtExit={path} {_CDS_QUIET}")
             .getOrCreate())
    spark.range(1).count()
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits on EOF
    jvm.wait()


def _builder(app_name: str, shuffle_partitions: int | None) -> SparkSession.Builder:
    cores = default_parallelism()
    n_shuffle = shuffle_partitions or cores
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing sizes post-shuffle partitions by BYTES; with the
        # default 1 MiB minPartitionSize floor, every few-MB shuffle
        # collapses to 1-3 partitions — which serializes the Arrow→Python
        # island stages (mapInPandas/applyInPandas) whose per-row cost
        # dwarfs their byte size (b6's trade sim and wd1's tar build ran
        # on one or two tasks whatever the core count). Lowering the floor
        # keeps small-scale runs parallel; at production volumes
        # parallelismFirst (default true) computes the target from
        # bytes/parallelism, far above this floor, so the setting is inert
        # there. Overridable for deployments that prefer fewer, larger
        # partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size
        # conditions hold (one side estimated much smaller and under the
        # per-partition build bound) instead of always sort-merge —
        # skips both sort passes on the join key. Measured in-session A/B
        # at sf0.1: never slower on mins, -5..-15% on the join-heavy
        # dedup/retrieval queries. The muchSmaller gate runs on ESTIMATED
        # stats, which can badly underestimate intermediate frames, and a
        # SHJ build side cannot spill — a misestimated skewed build can
        # OOM an executor where SMJ would have spilled. AQE re-checks with
        # runtime sizes for the joins it re-plans, but the guarantee is
        # statistical, not absolute; production-scale runs that prefer
        # the safe default can flip it back via SPARK_GRAFT_PREFER_SMJ=1
        # without a code edit.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if os.environ.get("SPARK_GRAFT_PREFER_SMJ") else "false",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )


def get_spark(app_name: str = "pipeline_mf_etl_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this would be ~2-3x total executor cores; AQE coalesces down
    when partitions come out small, and splits skewed ones.

    Start-up: a process that launches the driver JVM maps the install's
    class-data archive, ``<key>-<size>.jsa`` under
    ``$XDG_CACHE_HOME/pipeline_mf_etl_spark/cds/`` (``~/.cache`` when
    unset), which cuts JVM and SparkContext start-up by ~40%. When there is
    none, a child process dumps it first (a one-off ~25 s and ~140 MB); a
    failed dump is logged once, remembered, and later processes start
    plainly. The options go through ``spark.driver.defaultJavaOptions`` so
    ``--driver-java-options`` (``spark.driver.extraJavaOptions``) still
    reaches the JVM, after them. Deleting the directory forces a rebuild.
    """
    builder = _builder(app_name, shuffle_partitions)
    start = _class_data_archive()
    if start is None:
        spark = builder.getOrCreate()
    else:
        archive, empty_conf = start
        os.environ["SPARK_CONF_DIR"] = empty_conf
        try:
            spark = builder.config("spark.driver.defaultJavaOptions",
                                   f"-XX:SharedArchiveFile={archive} -Xshare:auto {_CDS_QUIET}").getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    return spark


if __name__ == "__main__":
    _archive_classes_at_exit(sys.argv[1])
