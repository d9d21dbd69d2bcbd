"""SparkSession factory tuned for this engine.

Defaults follow the 100 TB design brief: AQE on (runtime re-planning +
skew-join splitting for the Zipfian user/item distributions the reference's
data has), Arrow on (every Python-side kernel is batch-vectorized), and a
shuffle-partition count that callers override per deployment.

The nanos flag exists because the driver's synthetic parquet carries
TIMESTAMP(NANOS) columns, which Spark's vectorized reader refuses by default;
we read them as raw INT64 and normalize in sources.io (DuckDB truncates
nanos→micros, and so do we, keeping the two engines bit-identical).

Class-data sharing. A local-mode driver JVM spends about half its start
loading and verifying Spark's classes, so ``get_spark`` starts it from a
JDK dynamic AppCDS archive of the driver's classes
(``-XX:SharedArchiveFile=<archive> -Xshare:auto``, appended to the caller's
``spark.driver.extraJavaOptions``).

- The archive lives in ``$XDG_CACHE_HOME`` (or ``~/.cache``) under
  ``etl_master_spark/cds/``. It depends only on the JDK and the Spark jars,
  not on the checkout, so it outlives checkouts and perfbench's per-run
  ``TMPDIR``. Deleting the directory is safe.
- Its key is the resolved ``java.home`` and its ``release`` file, the jar
  list (name, size, mtime) under the ``SPARK_HOME`` pyspark resolves, and
  whether the heap is under 32 GiB. CDS needs the run's compressed-oops
  setting to match the dump's, and ``-Xshare:auto`` drops a mismatched
  archive silently, so a 48g engine default and a 3g test heap each get
  their own archive.
- JDK 17 refuses an archive whose classpath holds a non-empty directory,
  and Spark's launcher puts ``$SPARK_CONF_DIR`` on it. The archive is
  therefore used only when the effective conf dir holds nothing but
  ``*.template`` files. ``SPARK_CONF_DIR`` then points at an empty
  directory beside the archive for the launch only, the same one the
  archive was dumped with.
- When the archive for the key is missing, ``get_spark`` builds it once,
  synchronously, in a child process (about 40 s). The child runs a small
  fixed plan under ``-XX:ArchiveClassesAtExit``, then ends its JVM through
  ``System.exit``, the orderly exit that writes the archive, and the parent
  renames the file into place atomically. A failed build leaves a
  ``.failed`` log so that later starts do not retry it.
- A non-local master, ``SPARK_GRAFT_ON_CLUSTER``, a live conf dir, an
  unusable cache dir or a JVM already running in this process start the
  JVM exactly as without the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import uuid
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

_SHIPPED_SESSIONS: set[int] = set()

# bump when the archive's build plan changes, so old archives are not used
_CDS_FORMAT = 1
# the child build takes 20-45 s; perfbench's cold-start timeout is 150 s
_CDS_BUILD_TIMEOUT_S = 120
# the largest heap that still runs with compressed oops
_COMPRESSED_OOPS_MAX = 32 << 30


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship ``etl_master_spark`` to the Python workers via ``addPyFile``.

    Worker processes don't inherit driver-side ``sys.path`` edits, so any
    Arrow UDF / mapInPandas closure that references this package would fail
    with ModuleNotFoundError when the driver runs from another cwd. Zipping
    the package and ``addPyFile``-ing it is the same mechanism spark-submit
    uses for ``--py-files`` on a real cluster, so this mirrors production.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = Path(__file__).resolve().parent
    # one directory per session: two sessions zipping to one shared path
    # overwrite each other's zip, and Spark then refuses the fetch because
    # the file no longer matches what was added
    zip_dir = tempfile.mkdtemp(prefix="etl_master_spark_")
    atexit.register(shutil.rmtree, zip_dir, True)
    zip_base = Path(zip_dir) / "etl_master_spark_pyfiles"
    zip_path = shutil.make_archive(str(zip_base), "zip", pkg_dir.parent, pkg_dir.name)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def _engine_conf(
    app_name: str, shuffle_partitions: str, extra_conf: dict[str, str] | None
) -> dict[str, str]:
    """The engine's session config, with ``extra_conf`` applied last."""
    conf = {
        "spark.app.name": app_name,
        "spark.sql.session.timeZone": "UTC",
        # runtime re-planning: coalesce post-shuffle partitions, split skewed
        # joins — both essential once user/item popularity is power-law
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas_udf / mapInPandas boundary
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # driver testdata uses TIMESTAMP(NANOS); see module docstring
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": shuffle_partitions,
        "spark.ui.enabled": "false",
        # local-mode driver heap IS the executor heap: size it like an
        # executor (the brief's box has 128 GiB; a 1000-executor cluster
        # would get this per-executor via spark-submit instead)
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # one BLAS thread per Python worker: the worker pool already fills
        # every core, so nested BLAS threading only adds contention (the
        # standard per-core-slot pinning on a real cluster)
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "etl_master_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, leave ``master`` unset and submit through
    spark-submit; locally we default to ``local[$SPARK_GRAFT_CPUS]``, with
    as many shuffle partitions unless ``shuffle_partitions`` says otherwise.
    A fresh local JVM starts from the class-data-sharing archive (see the
    module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = _engine_conf(app_name, str(shuffle_partitions or cpus), extra_conf)
    if master is None and not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        master = f"local[{cpus}]"
    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    conf_dir = _use_cds_archive(master, conf)
    with _spark_conf_dir(conf_dir):
        spark = builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_shipped(spark)
    return spark


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    return Path(base) / "etl_master_spark" / "cds"


def _heap_bytes(memory: str) -> int | None:
    """``spark.driver.memory`` in bytes, as the launcher's ``-Xmx`` reads
    it; None when it does not parse."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower())
    if m is None:
        return None
    return int(m.group(1)) << (10 * " kmgt".index(m.group(2) or " "))


def _java_home() -> Path | None:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"]).resolve()
    java = shutil.which("java")
    return Path(java).resolve().parent.parent if java else None


def _cds_key(spark_home: Path, driver_memory: str) -> str | None:
    """The archive key for this JDK, jar set and heap bucket; None when one
    of them cannot be read."""
    heap = _heap_bytes(driver_memory)
    java_home = _java_home()
    if heap is None or java_home is None:
        return None
    h = hashlib.sha256(f"{_CDS_FORMAT}\0{java_home}\0".encode())
    h.update(b"coops" if heap < _COMPRESSED_OOPS_MAX else b"no-coops")
    try:
        h.update((java_home / "release").read_bytes())
        with os.scandir(spark_home / "jars") as it:
            jars = sorted(
                (e for e in it if e.name.endswith(".jar")), key=lambda e: e.name
            )
    except OSError:
        return None
    for jar in jars:
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _cds_flags(archive: Path) -> str:
    """The JVM options that start from ``archive``; a missing or unusable
    archive falls back to a normal start."""
    return f"-XX:SharedArchiveFile={shlex.quote(str(archive))} -Xshare:auto"


def _cds_paths(master: str | None, driver_memory: str) -> tuple[Path, Path] | None:
    """``(archive, empty conf dir)`` for a JVM start this process may serve
    from the archive, or None to start as without it."""
    if master is None or not master.startswith("local"):
        return None
    if os.environ.get("SPARK_GRAFT_ON_CLUSTER") or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if SparkContext._gateway is not None:  # the JVM is already up
        return None
    spark_home = Path(_find_spark_home())
    live_conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    try:
        if live_conf.is_dir() and any(
            not name.endswith(".template") for name in os.listdir(live_conf)
        ):
            return None
    except OSError:
        return None
    key = _cds_key(spark_home, driver_memory)
    if key is None:
        return None
    cache = _cache_dir()
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    if not os.access(cache, os.W_OK):
        return None
    return cache / f"spark-driver-{key}.jsa", cache / "conf"


def _use_cds_archive(master: str | None, conf: dict[str, str]) -> Path | None:
    """Point ``conf`` at the class-data-sharing archive, building it first
    if it is missing. Returns the conf dir to launch with, or None (and
    leaves ``conf`` alone) when the archive does not apply."""
    paths = _cds_paths(master, conf["spark.driver.memory"])
    if paths is None:
        return None
    archive, conf_dir = paths
    if not archive.exists() and not archive.with_suffix(".failed").exists():
        _build_cds_archive(archive, conf_dir, conf["spark.driver.memory"])
    if not archive.exists():
        return None
    opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = f"{opts} {_cds_flags(archive)}".strip()
    return conf_dir


@contextlib.contextmanager
def _spark_conf_dir(conf_dir: Path | None):
    """Set ``SPARK_CONF_DIR`` to ``conf_dir`` for the block (no change for
    None), then restore it."""
    if conf_dir is None:
        yield
        return
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _build_cds_archive(archive: Path, conf_dir: Path, driver_memory: str) -> None:
    """Dump ``archive`` from a child process that runs ``_dump_workload``.

    The child's output (the JVM's, with its CDS warnings) is captured, never
    passed on. Its process group is killed on timeout, so no JVM outlives
    the build. The dump goes to a unique temporary name and is renamed into
    place, so concurrent builders cannot tear the file.
    """
    tmp = archive.with_name(f"{archive.name}.{uuid.uuid4().hex}.tmp")
    pkg_root = str(Path(__file__).resolve().parent.parent)
    env = dict(
        os.environ,
        SPARK_CONF_DIR=str(conf_dir),
        PYTHONPATH=os.pathsep.join(
            p for p in (pkg_root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    cmd = [sys.executable, "-m", __name__, str(tmp), driver_memory]
    _LOG.warning("building the JVM class-data-sharing archive %s", archive)
    with subprocess.Popen(
        cmd, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, start_new_session=True,
    ) as proc:
        try:
            out, _ = proc.communicate(timeout=_CDS_BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            out += b"\nbuild timed out\n"
    try:
        if proc.returncode == 0 and tmp.is_file() and tmp.stat().st_size:
            os.replace(tmp, archive)
            return
        tail = out.decode(errors="replace")[-4000:]
        archive.with_suffix(".failed").write_text(tail)
        _LOG.warning("class-data-sharing archive build failed:\n%s", tail)
    finally:
        tmp.unlink(missing_ok=True)


def _dump_workload(tmp_archive: str, driver_memory: str) -> None:
    """Run a small fixed plan under ``-XX:ArchiveClassesAtExit``: parquet
    write and read, broadcast and shuffle joins, an aggregate, an Arrow
    collect. Then stop and close the gateway's stdin, so the JVM leaves
    through ``System.exit`` and writes the archive, and wait for it."""
    from pyspark.sql import functions as F

    conf = _engine_conf("etl_master_spark_cds", "4", {
        "spark.driver.memory": driver_memory,
        "spark.driver.extraJavaOptions": (
            f"-XX:ArchiveClassesAtExit={shlex.quote(tmp_archive)}"
        ),
    })
    spark = SparkSession.builder.master("local[2]").config(map=conf).getOrCreate()
    with tempfile.TemporaryDirectory() as d:
        spark.range(2000).selectExpr(
            "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v",
            "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ts",
            "CAST(id AS STRING) AS s",
        ).write.parquet(f"{d}/t")
        t = spark.read.parquet(f"{d}/t")
        dim = spark.createDataFrame([(i, f"k{i}") for i in range(7)], "k long, name string")
        t.join(dim, "k").groupBy("name").agg(
            F.count("*"), F.sum("v"), F.max("ts"), F.countDistinct("s")
        ).collect()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t.alias("a").join(t.alias("b"), "id").groupBy("a.k").agg(F.avg("b.v")).collect()
        t.orderBy("v").limit(100).toPandas()
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait()


if __name__ == "__main__":
    _dump_workload(*sys.argv[1:3])
