"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads); the same configs are what we would ship as defaults on a real
multi-executor cluster: AQE on (runtime re-planning, skew-join
mitigation, shuffle-partition coalescing), Arrow transfer for the few
Pandas-UDF operators, UTC session timezone so results are comparable
with the DuckDB oracle.

At 100 TB the knobs that matter are set here once so every pipeline
inherits them:

- ``spark.sql.adaptive.enabled`` — conversation/ur-conversation keys are
  heavily skewed (viral threads); AQE skew-join splitting is the first
  line of defense before explicit salting.
- ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
  cluster AQE coalescing makes the static value mostly irrelevant, but
  a sane initial value avoids 200-partition tiny-file shuffles.
- ``spark.sql.files.maxPartitionBytes`` — 128 MB split size keeps scan
  tasks memory-bounded regardless of total input size.

JVM cold start: the driver JVM loads ~20k classes from Spark's jars
before the first job. :func:`get_spark` launches it on a dynamic
class-data-sharing (AppCDS) archive of those classes, kept in a
per-user cache (:func:`cds_cache_dir`) and keyed by the JDK and the
jars (:func:`cds_fingerprint`). The first JVM of a fingerprint writes
the archive when it exits; every later one maps it. Hosts where the
archive cannot apply (:func:`cds_launch` returns None) launch exactly
as without it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_executor_imports(spark: SparkSession) -> None:
    """Make ``convoy_spark`` importable inside executor Python workers
    on ANY session — including one built without our ``get_spark()``
    (the driver constructs a vanilla SparkSession, possibly from a cwd
    outside the repo).

    Executor Python workers inherit ``PYTHONPATH`` from the JVM, which
    inherits it at launch — too late to fix from here. The runtime fix
    is ``sc.addPyFile``: zip the package once into the session's temp
    space and ship it; workers unpack onto ``sys.path``. Idempotent
    per SparkContext. Must be called by every operator that pickles
    package functions into a Python UDF stage (mapInPandas /
    applyInPandas); pure-expression operators never need it."""
    sc = spark.sparkContext
    if getattr(sc, "_convoy_pyfile_added", False):
        return
    pkg_dir = os.path.join(_REPO_ROOT, "convoy_spark")
    import tempfile
    import zipfile

    zpath = os.path.join(tempfile.gettempdir(), "convoy_spark_pkg.zip")
    tmp = zpath + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                arc = os.path.join(
                    "convoy_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, arc)
    os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc._convoy_pyfile_added = True


# CDS logging off stdout, which the JVM shares with us and whose last
# line bench.py and perfbench keep for their JSON result; only CDS
# errors print, on stderr (a dump warns once per skipped class, ~660
# lines).
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
# An archive dump runs at JVM exit and takes ~15 s on 4 cores.
_DUMP_WAIT_S = 120


class CdsLaunch(NamedTuple):
    """How :func:`get_spark` launches the driver JVM on the archive."""

    java_options: str  # spark.driver.defaultJavaOptions
    archive: str
    dump_to: str | None  # where this JVM writes the archive at exit


def cds_cache_dir() -> str:
    """Per-user archive cache: ``$XDG_CACHE_HOME/convoy-spark/cds``,
    under ``~/.cache`` when that is unset. It must outlive a checkout
    and a run's ``TMPDIR``: a cold start costs ~5 s, and ~13 s at exit."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "convoy-spark", "cds")


def _java_home() -> str | None:
    """Home of the JDK that ``spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the ``java`` on ``PATH``."""
    jh = os.environ.get("JAVA_HOME")
    java = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not java:
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def cds_fingerprint(spark_home: str, java_home: str) -> str:
    """Key of the archive. A dynamic archive maps only into the JVM
    build that wrote it and on the classpath it was written with, so
    the key covers the JDK (its ``release`` file and module image)
    and every jar of Spark's classpath by path, size and mtime."""
    jars = os.path.join(spark_home, "jars")
    paths = [os.path.join(java_home, "release"), os.path.join(java_home, "lib", "modules")]
    paths += sorted(os.path.join(jars, n) for n in os.listdir(jars))
    h = hashlib.sha256()
    for path in paths:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def cds_launch(
    spark_home: str, java_home: str, cache_dir: str, environ=os.environ
) -> CdsLaunch | None:
    """Decide how to launch the driver JVM: on the archive when it
    exists, else writing it at exit. Returns None, and leaves
    ``environ`` as it is, when this host launches as it would without
    an archive.

    JDK 17 refuses to dump a classpath holding a non-empty directory,
    and ``$SPARK_HOME/conf`` is the first classpath entry, so an
    eligible launch sets ``environ["SPARK_CONF_DIR"]`` to an empty
    directory of the cache. That changes nothing only while the conf
    dir holds no file Spark reads, hence the rules: no
    ``SPARK_CONF_DIR``, no other directory or jar list added to the
    classpath, nothing but ``*.template`` files in
    ``$SPARK_HOME/conf``, and a usable cache whose path has no blank
    (Spark splits the java options on blanks).

    Only the first start of a fingerprint dumps: it claims the dump
    with an exclusive file that is never removed, so a concurrent
    start, or every start after a failed dump, runs unshared."""
    added = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    if any(environ.get(v) for v in added) or any(c.isspace() for c in cache_dir):
        return None
    try:
        if any(not n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))):
            return None
    except FileNotFoundError:
        pass
    try:
        archive = os.path.join(cache_dir, f"spark-{cds_fingerprint(spark_home, java_home)}.jsa")
        conf_dir = os.path.join(cache_dir, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.path.isfile(archive):
            cds = CdsLaunch(f"-XX:SharedArchiveFile={archive} {_CDS_LOG}", archive, None)
        else:
            os.close(os.open(archive + ".claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            dump_to = f"{archive}.{os.getpid()}.part"
            cds = CdsLaunch(f"-XX:ArchiveClassesAtExit={dump_to} {_CDS_LOG}", archive, dump_to)
    except OSError:
        return None
    environ["SPARK_CONF_DIR"] = conf_dir
    return cds


def _finish_dump(cds: CdsLaunch, gateway) -> None:
    """At interpreter exit: end the dumping JVM and keep its archive.

    On Linux the JVM exits, and only then writes the archive, once our
    end of its stdin closes; without this wait it would outlive this
    process by the length of the dump. An archive is kept only from a
    JVM that exited cleanly; anything else is deleted."""
    proc = gateway.proc
    if proc.poll() is None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    written = os.path.isfile(cds.dump_to) and os.path.getsize(cds.dump_to) > 0
    if proc.returncode == 0 and written:
        os.replace(cds.dump_to, cds.archive)
    elif os.path.exists(cds.dump_to):
        os.remove(cds.dump_to)


def _sized_shuffle_partitions(data_dir: str, cores: int) -> int:
    """Initial shuffle partitions sized to the DATA, not the core
    count: one partition per ~64 MB of input, clamped to [8, cores]
    locally. At sf0.1 the old cores-sized default (32) meant every
    shuffle ran 32 near-empty tasks — a measured ~30% of total bench
    wall-clock in pure task-launch tax. On a real cluster the same
    principle holds with a much larger clamp, and AQE coalescing
    refines the count from runtime sizes either way; this only picks
    a sane starting point."""
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    return max(8, min(cores, total // (64 << 20) or 1))


def get_spark(
    app_name: str = "convoy-spark",
    cpus: int | None = None,
    data_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``data_dir``: when given, initial shuffle partitions are sized to
    that dataset via :func:`_sized_shuffle_partitions` instead of the
    core count."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    n = cpus or default_parallelism()
    shuffle_n = _sized_shuffle_partitions(data_dir, n) if data_dir else n
    # Pandas-UDF stages unpickle functions that reference this package
    # inside executor Python workers, which inherit PYTHONPATH from the
    # JVM — which inherits it from us. Export before the JVM launches
    # so the engine works no matter what cwd the driver runs from.
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )
    # Only a call that launches the JVM decides on the CDS archive.
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        java_home = _java_home()
        if java_home:
            cds = cds_launch(_find_spark_home(), java_home, cds_cache_dir())
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark's µs timestamps
        # can't hold it, so read nanos as raw int64 and convert in
        # tables.load_table (truncate to µs, matching the oracle's
        # TIMESTAMP_NS→TIMESTAMP cast semantics).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if cds:
        builder = builder.config("spark.driver.defaultJavaOptions", cds.java_options)
    spark = builder.getOrCreate()
    if cds and cds.dump_to:
        atexit.register(_finish_dump, cds, SparkContext._gateway)
    spark.sparkContext.setLogLevel("WARN")
    return spark
