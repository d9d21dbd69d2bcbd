"""etl_master_spark.session: package shipping and the class-data-sharing
archive, checked without a Spark session (the ``java`` tests start bare
JVMs; the slow test builds a real archive)."""

import os
import re
import shlex
import subprocess
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from etl_master_spark import session


def test_each_session_ships_its_own_zip(monkeypatch):
    monkeypatch.setattr(session, "_SHIPPED_SESSIONS", set())
    added: list[str] = []

    def fake_spark():
        return SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=added.append))

    first, second = fake_spark(), fake_spark()
    session.ensure_package_shipped(first)
    session.ensure_package_shipped(second)
    session.ensure_package_shipped(first)  # same context: shipped once
    assert len(added) == 2 and added[0] != added[1]
    shared = Path(tempfile.gettempdir()) / "etl_master_spark_pyfiles.zip"
    assert all(Path(p) != shared and Path(p).is_file() for p in added)


class _Builder:
    """Stands in for ``SparkSession.builder``: records the config and the
    ``SPARK_CONF_DIR`` that the JVM launch would see."""

    def __init__(self):
        self.launches: list[tuple[dict, str | None]] = []
        self.conf: dict[str, str] = {}

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key=None, value=None, *, map=None):
        self.conf.update(map or {key: value})
        return self

    def getOrCreate(self):
        self.launches.append((self.conf, os.environ.get("SPARK_CONF_DIR")))
        self.conf = {}
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A JDK, a Spark install with a templates-only conf dir and an empty
    user cache, all under ``tmp_path``; no JVM is running and every build
    writes a dummy archive."""
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    for jar in ("spark-core.jar", "scala-library.jar"):
        (spark_home / "jars" / jar).write_bytes(b"PK")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    for var in ("SPARK_CONF_DIR", "SPARK_GRAFT_ON_CLUSTER", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    builds: list[Path] = []

    def fake_build(archive, conf_dir, driver_memory):
        builds.append(archive)
        archive.write_bytes(b"archive")

    monkeypatch.setattr(session, "_build_cds_archive", fake_build)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "ensure_package_shipped", lambda spark: None)
    return SimpleNamespace(
        spark_home=spark_home, cache=tmp_path / "cache", builds=builds,
        launches=builder.launches,
    )


def _java_opts(conf):
    return conf.get("spark.driver.extraJavaOptions", "")


def test_local_master_with_template_conf_starts_from_the_archive(fake_install):
    session.get_spark(master="local[2]")
    session.get_spark(master="local[2]")
    # built once, by the first start; the second finds it
    assert len(fake_install.builds) == 1
    archive = fake_install.builds[0]
    assert archive.parent == fake_install.cache / "etl_master_spark" / "cds"
    empty_conf = str(archive.parent / "conf")
    for conf, conf_dir in fake_install.launches:
        assert _java_opts(conf) == f"-XX:SharedArchiveFile={archive} -Xshare:auto"
        assert conf_dir == empty_conf
    assert not os.listdir(empty_conf)
    assert "SPARK_CONF_DIR" not in os.environ  # restored after the launch


def test_caller_java_options_survive_the_merge(fake_install):
    session.get_spark(master="local[2]", extra_conf={
        "spark.driver.extraJavaOptions": "-Xms3g",
    })
    (conf, _), = fake_install.launches
    opts = shlex.split(_java_opts(conf))
    assert opts[0] == "-Xms3g" and opts[2] == "-Xshare:auto"
    assert opts[1].startswith("-XX:SharedArchiveFile=")


@pytest.mark.parametrize("case", [
    "live_conf", "remote_master", "on_cluster", "jvm_running", "bad_cache",
])
def test_archive_is_skipped_where_it_does_not_apply(fake_install, monkeypatch, tmp_path, case):
    master = "local[2]"
    conf_dir = None
    if case == "live_conf":
        conf_dir = tmp_path / "live_conf"
        conf_dir.mkdir()
        (conf_dir / "spark-defaults.conf").write_text("spark.foo bar\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    elif case == "remote_master":
        master = "spark://head:7077"
    elif case == "on_cluster":
        monkeypatch.setenv("SPARK_GRAFT_ON_CLUSTER", "1")
        master = None
    elif case == "jvm_running":
        monkeypatch.setattr(session.SparkContext, "_gateway", object())
    else:  # the cache base is a file, so the archive dir cannot be made
        (tmp_path / "not_a_dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not_a_dir"))
    session.get_spark(master=master, extra_conf={
        "spark.driver.extraJavaOptions": "-Xms3g",
    })
    (conf, seen_conf_dir), = fake_install.launches
    assert _java_opts(conf) == "-Xms3g"
    assert seen_conf_dir == (str(conf_dir) if conf_dir else None)
    assert fake_install.builds == []


def test_failed_build_is_not_retried(fake_install, monkeypatch):
    builds = []

    def failing_build(archive, conf_dir, driver_memory):
        builds.append(archive)
        archive.with_suffix(".failed").write_text("build log tail")

    monkeypatch.setattr(session, "_build_cds_archive", failing_build)
    session.get_spark(master="local[2]")
    session.get_spark(master="local[2]")
    assert len(builds) == 1
    assert all(_java_opts(conf) == "" for conf, _ in fake_install.launches)


def test_key_separates_heap_buckets_and_jar_sets(fake_install):
    home = fake_install.spark_home
    key = session._cds_key(home, "3g")
    assert key == session._cds_key(home, "4096m")  # same compressed-oops bucket
    assert key != session._cds_key(home, "48g")
    assert session._cds_key(home, "31g") != session._cds_key(home, "32g")
    (home / "jars" / "spark-core.jar").write_bytes(b"PK-rebuilt")
    changed = session._cds_key(home, "3g")
    assert changed != key
    (home / "jars" / "extra.jar").write_bytes(b"PK")
    assert session._cds_key(home, "3g") not in (key, changed)
    assert session._cds_key(home, "lots") is None


def test_cpus_are_read_at_call_time(fake_install, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    session.get_spark(shuffle_partitions=7)
    (first, _), (second, _) = fake_install.launches
    assert first["spark.master"] == "local[3]"
    assert first["spark.sql.shuffle.partitions"] == "3"
    assert second["spark.sql.shuffle.partitions"] == "7"


def _java() -> str:
    return str(session._java_home() / "bin" / "java")


@pytest.mark.parametrize("archive", ["missing", "garbage"])
def test_java_starts_without_a_usable_archive(tmp_path, archive):
    path = tmp_path / "spark-driver.jsa"
    if archive == "garbage":
        path.write_bytes(os.urandom(8192))
    proc = subprocess.run(
        [_java(), *shlex.split(session._cds_flags(path)), "-version"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr


def _launch_classpath(spark_home: Path, conf_dir: Path) -> str:
    """The driver classpath Spark's launcher builds for ``conf_dir``."""
    jars = spark_home / "jars"
    scala = re.search(r"spark-core_(\d+\.\d+)-", " ".join(os.listdir(jars))).group(1)
    env = dict(os.environ, SPARK_CONF_DIR=str(conf_dir), SPARK_SCALA_VERSION=scala)
    out = subprocess.run(
        [_java(), "-Xmx128m", "-cp", f"{jars}/*", "org.apache.spark.launcher.Main",
         "org.apache.spark.deploy.SparkSubmit", "pyspark-shell"],
        env=env, capture_output=True, check=True, timeout=60,
    ).stdout.decode().split("\0")
    return out[out.index("-cp") + 1]


def _processes_naming(path: Path) -> list[str]:
    found = []
    for proc in Path("/proc").iterdir():
        try:
            if proc.name.isdigit() and str(path).encode() in (proc / "cmdline").read_bytes():
                found.append(proc.name)
        except OSError:  # exited while we looked
            continue
    return found


@pytest.mark.slow
def test_built_archive_maps_for_the_engine_classpath(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    paths = session._cds_paths("local[2]", "1g")
    assert paths is not None, "this install's conf dir or JDK rules the archive out"
    archive, conf_dir = paths
    session._build_cds_archive(archive, conf_dir, "1g")
    assert archive.is_file(), archive.with_suffix(".failed").read_text()
    assert sorted(os.listdir(archive.parent)) == ["conf", archive.name]
    assert not _processes_naming(archive.parent)  # no JVM outlives the build
    cp = _launch_classpath(Path(session._find_spark_home()), conf_dir)
    proc = subprocess.run(
        [_java(), f"-XX:SharedArchiveFile={archive}", "-Xshare:on", "-Xmx1g",
         "-cp", cp, "-version"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
