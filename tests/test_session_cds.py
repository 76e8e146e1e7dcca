"""The driver JVM's class-data-sharing launch: the archive key, the
launch decision and the end of a dump, on fake Spark and JDK homes —
no second JVM. One test reads the session fixture's JVM arguments."""

from __future__ import annotations

import os
import subprocess
import sys

from convoy_spark.session import (
    CdsLaunch,
    _finish_dump,
    cds_cache_dir,
    cds_fingerprint,
    cds_launch,
)

SHARE, DUMP = "-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="


def _homes(tmp_path):
    """Fake homes under ``tmp_path``, made on the first call only: a
    rewrite would move the mtimes, and so the fingerprint."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    if spark_home.exists():
        return str(spark_home), str(java_home)
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (java_home / "lib").mkdir(parents=True)
    for jar in ("spark-core.jar", "spark-sql.jar"):
        (spark_home / "jars" / jar).write_bytes(b"PK" * 8)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (java_home / "lib" / "modules").write_bytes(b"\0" * 64)
    return str(spark_home), str(java_home)


def _launch(tmp_path, environ=None, cache=None):
    spark_home, java_home = _homes(tmp_path)
    env = {} if environ is None else environ
    cache = cache or str(tmp_path / "cache")
    return cds_launch(spark_home, java_home, cache, env), env, cache


def test_fingerprint_follows_jars_and_jdk(tmp_path):
    spark_home, java_home = _homes(tmp_path)
    jar = os.path.join(spark_home, "jars", "spark-core.jar")
    key = cds_fingerprint(spark_home, java_home)
    assert cds_fingerprint(spark_home, java_home) == key

    with open(jar, "ab") as fh:  # size
        fh.write(b"x")
    sized = cds_fingerprint(spark_home, java_home)
    assert sized != key

    st = os.stat(jar)  # mtime only
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = cds_fingerprint(spark_home, java_home)
    assert touched not in (key, sized)

    with open(os.path.join(java_home, "release"), "w") as fh:  # JDK update
        fh.write('JAVA_VERSION="17.0.21"\n')
    assert cds_fingerprint(spark_home, java_home) not in (key, sized, touched)

    other_jdk = tmp_path / "jdk2"  # another JDK, same files
    (other_jdk / "lib").mkdir(parents=True)
    for rel in ("release", os.path.join("lib", "modules")):
        with open(os.path.join(java_home, rel), "rb") as src:
            (other_jdk / rel).write_bytes(src.read())
    assert cds_fingerprint(spark_home, str(other_jdk)) != cds_fingerprint(
        spark_home, java_home
    )


def test_missing_archive_dumps_once(tmp_path):
    cds, env, cache = _launch(tmp_path)
    assert cds.java_options.startswith(DUMP + cds.dump_to + " ")
    assert SHARE not in cds.java_options
    assert os.path.dirname(cds.dump_to) == cache
    assert env == {"SPARK_CONF_DIR": os.path.join(cache, "conf")}
    assert os.listdir(env["SPARK_CONF_DIR"]) == []
    # The claim stands: a second start (concurrent, or after a failed
    # dump) runs unshared and writes nothing.
    again, env2, _ = _launch(tmp_path)
    assert again is None and env2 == {}


def test_existing_archive_is_shared(tmp_path):
    first, _, _ = _launch(tmp_path)
    with open(first.archive, "wb") as fh:
        fh.write(b"archive")
    cds, env, cache = _launch(tmp_path)
    assert cds.dump_to is None
    assert cds.java_options.startswith(SHARE + first.archive + " ")
    assert DUMP not in cds.java_options
    assert env == {"SPARK_CONF_DIR": os.path.join(cache, "conf")}


def test_ineligible_hosts_launch_unchanged(tmp_path):
    cds, env, _ = _launch(tmp_path, {"SPARK_CONF_DIR": "/etc/spark"})
    assert cds is None and env == {"SPARK_CONF_DIR": "/etc/spark"}

    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("a b\n")
    cds, env, _ = _launch(tmp_path, {"PATH": "/bin"})
    assert cds is None and env == {"PATH": "/bin"}
    os.remove(tmp_path / "spark" / "conf" / "spark-defaults.conf")

    blocker = tmp_path / "file"  # a cache that cannot be created
    blocker.write_text("")
    cds, env, _ = _launch(tmp_path, {"PATH": "/bin"}, cache=str(blocker / "cds"))
    assert cds is None and env == {"PATH": "/bin"}

    assert _launch(tmp_path, {"PATH": "/bin"})[0] is not None


class _Gateway:
    """A stand-in for the py4j gateway around a child that, like the
    Spark JVM, runs until its stdin closes and then writes its file."""

    def __init__(self, script: str):
        self.proc = subprocess.Popen(
            [sys.executable, "-c", "import sys; sys.stdin.read(); " + script],
            stdin=subprocess.PIPE,
        )

    def shutdown(self):
        pass


def _dumping(tmp_path) -> CdsLaunch:
    cds, _, _ = _launch(tmp_path)
    assert cds.dump_to
    return cds


def test_finished_dump_becomes_the_archive(tmp_path):
    cds = _dumping(tmp_path)
    gw = _Gateway(f"open({cds.dump_to!r}, 'wb').write(b'jsa')")
    _finish_dump(cds, gw)
    assert gw.proc.returncode == 0
    assert open(cds.archive, "rb").read() == b"jsa"
    assert not os.path.exists(cds.dump_to)
    assert _launch(tmp_path)[0].dump_to is None


def test_failed_dump_leaves_later_starts_unshared(tmp_path):
    cds = _dumping(tmp_path)
    gw = _Gateway(f"open({cds.dump_to!r}, 'wb').write(b'half'); sys.exit(1)")
    _finish_dump(cds, gw)
    assert gw.proc.returncode == 1
    assert not os.path.exists(cds.archive) and not os.path.exists(cds.dump_to)
    assert _launch(tmp_path)[0] is None


def test_session_jvm_runs_on_the_cache(spark):
    """The fixture's JVM carries one of the two flags, pointing into
    the cache, exactly when its launch was eligible (SPARK_CONF_DIR
    then names the cache's empty conf dir); otherwise neither."""
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    flags = [a for a in args if a.startswith((SHARE, DUMP))]
    cache = cds_cache_dir()
    if os.environ.get("SPARK_CONF_DIR") == os.path.join(cache, "conf"):
        assert len(flags) == 1, args
        path = flags[0].split("=", 1)[1]
        assert os.path.dirname(path) == cache
    else:
        assert flags == [], args
