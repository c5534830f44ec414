"""SparkSession builder tuned for the engine.

Local sandbox runs use ``local[N]``; the same settings (AQE, Arrow,
shuffle-partition sizing) are what we would submit to a real cluster via
``spark-submit --py-files`` (see BASELINE.md submission mode).

Cold start is the JVM's. When :func:`get_spark` launches the driver JVM
itself (a ``local*`` master, no running gateway and no
``PYSPARK_GATEWAY_PORT``), it changes how that JVM starts, and nothing
that is planned or run, so every output stays the same:

- ``-XX:CompileThresholdScaling=4``, through ``SPARK_SUBMIT_OPTS`` for
  the launch only: the JIT compiles a method after four times as many
  calls and loop back-edges as by default. C2 stays on; set-up compiles
  fewer of the JDK, Scala, Catalyst and Janino methods it runs a few
  times only. Spark puts ``SPARK_SUBMIT_OPTS`` before the driver's
  default and extra Java options, so a caller's or a site's
  ``-XX:CompileThresholdScaling`` wins, and no Spark conf is touched.
- A dynamic class-data-sharing archive (JEP 350) of the classes Spark
  loads; see :func:`_cds_plan` for when. The first such session dumps it
  as its JVM exits, and later sessions map it: set-up falls by about a
  third. The dump goes to a per-process ``.tmp`` name, and an exit hook
  publishes it only after the JVM exited cleanly, and only if no archive
  exists yet: a JVM that maps a truncated archive dies of SIGBUS.

The archive lives in ``tempfile.gettempdir()`` as
``orthority_spark_cds_<key>.jsa`` (about 170 MB), next to an empty conf
directory ``orthority_spark_conf``. It is keyed by the JDK, Spark's jars
and the class path, so a new JDK or Spark gets a new file, and the
session that publishes one deletes the old ones no live session holds
(see :mod:`.tmpfiles`). Delete it to have the next session dump it
again; nothing under ``$SPARK_HOME`` is written.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

from . import config, tmpfiles

#: raises the JIT's invocation and back-edge thresholds; C2 stays on (a
#: C1-only JIT halves cold start but makes steady jobs ~40% dearer)
_JIT_FLAG = "-XX:CompileThresholdScaling=4"

#: environment variables that put more than ``$SPARK_CONF_DIR`` and
#: ``$SPARK_HOME/jars`` on the driver's class path
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                   "SPARK_PREPEND_CLASSES", "PYSPARK_SUBMIT_ARGS")


def _launches_jvm(master: str) -> bool:
    """Whether building a session for ``master`` launches a local driver
    JVM from this process."""
    return (master.startswith("local") and SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ)


def _cds_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Hash of what a dynamic archive is only valid for: the JDK, the
    jars on the class path and the conf directory in front of them."""
    h = hashlib.md5()
    java = os.path.realpath(java)
    h.update(java.encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*"))):
        st = os.stat(jar)
        h.update(f"{os.path.basename(jar)} {st.st_size} {st.st_mtime_ns}\n".encode())
    h.update(conf_dir.encode())
    return h.hexdigest()[:12]


def _cds_plan(master: str, conf: dict) -> tuple[str, str, str | None] | None:
    """``(JVM options, conf dir, dump file)`` for a driver JVM launched
    from the class-data archive, or None to launch it without one.

    Only when this process launches the JVM (:func:`_launches_jvm`).
    Only when the Spark conf dir in use (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files, and
    nothing else is added to the class path. The JVM then reads its conf
    from an empty directory under the temp dir instead, which loses no
    setting: a JVM cannot dump an archive while a non-empty directory is
    on its class path.

    The options map the archive if it exists (no dump file), and this
    process holds it from then on; else they dump one at exit to the
    per-process dump file ``<archive>.<pid>.tmp`` that
    :func:`_publish_archive` renames."""
    if (not _launches_jvm(master)
            or any(os.environ.get(k) for k in _CLASS_PATH_ENV)
            or "spark.driver.extraClassPath" in conf):
        return None
    spark_home = _find_spark_home()
    user_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(user_conf) and any(
            not f.endswith(".template") for f in os.listdir(user_conf)):
        return None
    java_home = os.environ.get("JAVA_HOME")  # else spark-class runs PATH's java
    java = shutil.which(os.path.join(java_home, "bin", "java") if java_home else "java")
    if java is None:
        return None
    tmpdir = tempfile.gettempdir()
    conf_dir = os.path.join(tmpdir, "orthority_spark_conf")
    os.makedirs(conf_dir, exist_ok=True)
    if os.listdir(conf_dir):
        return None
    path = os.path.join(
        tmpdir, f"orthority_spark_cds_{_cds_key(java, spark_home, conf_dir)}.jsa")
    if tmpfiles.hold(path):
        return f"-XX:SharedArchiveFile={path}", conf_dir, None
    tmp = f"{path}.{os.getpid()}.tmp"
    # the dump warns once per class it skips (hundreds of lines) on stdout
    return f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off", conf_dir, tmp


def _launch_plan(master: str, conf: dict) -> tuple[dict, dict, str | None]:
    """``(conf, environment, dump file)`` for :func:`get_spark`: the
    session conf with the archive's options, if any, placed first in
    ``spark.driver.defaultJavaOptions``; the environment variables to
    set for the launch only (the JIT flag in front of any
    ``SPARK_SUBMIT_OPTS``, and the archive's conf dir); and the archive
    dump file, if any. Where this process launches no JVM, ``conf`` as
    it is."""
    if not _launches_jvm(master):
        return conf, {}, None
    submit_opts = f"{_JIT_FLAG} {os.environ.get('SPARK_SUBMIT_OPTS', '')}".strip()
    env = {"SPARK_SUBMIT_OPTS": submit_opts}
    cds = _cds_plan(master, conf)
    if cds is None:
        return conf, env, None
    env["SPARK_CONF_DIR"] = cds[1]
    flag = f"{cds[0]} {conf.get('spark.driver.defaultJavaOptions', '')}".strip()
    return {**conf, "spark.driver.defaultJavaOptions": flag}, env, cds[2]


def _publish_archive(proc: subprocess.Popen, tmp: str) -> None:
    """Exit hook of a dumping session: close the gateway, wait for the
    JVM to write its archive to ``tmp``, and publish that as the archive
    only if the JVM exited with code 0 and no archive exists yet.
    ``tmp`` is gone either way."""
    path = tmp.rsplit(".", 2)[0]
    try:
        if proc.poll() is None:
            gw = SparkContext._gateway
            if gw is not None and getattr(gw, "proc", None) is proc:
                gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=120)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode == 0 and os.path.isfile(tmp):
            tmpfiles.publish(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def get_spark(
    master: str = "local[*]",
    app_name: str = "orthority-spark",
    shuffle_partitions: int = config.SHUFFLE_PARTITIONS,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults.

    AQE is enabled so skew-join splitting and partition coalescing apply at
    runtime on a real cluster; Arrow is enabled for the ``mapInArrow``
    kernels that run the camera, DEM and remap math.

    When this call launches a local driver JVM, it starts that JVM with
    ``-XX:CompileThresholdScaling=4`` in front of ``SPARK_SUBMIT_OPTS``
    (set for the launch only, then restored), so a caller's or a site's
    Java options still win, and, where :func:`_cds_plan` allows, from
    the engine's class-data archive through
    ``spark.driver.defaultJavaOptions``. The archive is
    ``orthority_spark_cds_<key>.jsa`` in ``tempfile.gettempdir()``, about
    170 MB; delete it to have the next session dump it again. The session
    that dumps it waits for its JVM at interpreter exit, about 12 s, and
    publishes the archive atomically. Where this call launches no JVM (a
    cluster master, or a gateway already up), it changes nothing of the
    launch. See the module docstring.
    """
    conf, env, dump = _launch_plan(master, dict(extra_conf or {}))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §9/§3.1: let the planner pick shuffled-hash over
        # sort-merge when its size conditions hold (skip both sorts),
        # and let AQE rewrite SMJ->SHJ at runtime when every post-
        # shuffle build partition is under 64 MB — size-gated by
        # Spark's own planner/runtime stats, not a local[32] constant
        # (big build partitions still fall back to sort-merge, so the
        # OOM risk SHJ trades for speed stays bounded). Measured r6:
        # ann_ivf -42%, tf_idf -22%, jaccard -16%, no regressions
        # beyond window noise.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in conf.items():
        b = b.config(k, v)
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = b.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                del os.environ[k]
            else:
                os.environ[k] = v
    if dump is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, dump)
    return spark


#: (applicationId, name, ids of the input frames, args) ->
#: (the input frames, the prepared value); see :func:`prepared`.
_PREPARED: dict[tuple, tuple[tuple[DataFrame, ...], Any]] = {}


def prepared(
    spark: SparkSession,
    name: str,
    frames: tuple[DataFrame, ...],
    args: tuple,
    build: Callable[[], Any],
) -> Any:
    """``build()``, run once per application, input frames and ``args``.

    Operators use this for the driver-side state they derive from small
    inputs that do not change between jobs, each read with one
    ``collect()`` (or ``take()``) and reduced in numpy:

    - ``raster_join.sample_dem_z``: the band's tile metadata (affine,
      extent, cell count), and, for the broadcast plan, its blocks and
      their broadcast;
    - ``operators/knn.py``: the catalog rows, the footprint index rows
      (at most the broadcast guard's worth) and the mask table built
      from them;
    - ``sources.dem_tiles.fixture_dem``: the DEM table itself, rendered
      on the driver;
    - ``sources.scan.parallel_read``: a parquet path's natural partition
      count, keyed by the path and its modification time.

    Over local tables these reads run no Spark job. A later call with
    the SAME DataFrame objects and equal ``args`` gets the stored value
    and launches no Spark job.

    Lifetime: per application and per DataFrame OBJECT. The entry holds
    its input frames by strong reference, so no other frame can take
    over their ``id`` while it lives. A new DataFrame object is prepared
    again, even over the same path, since nothing here can see that a
    source changed under a plan. Entries, and the broadcasts they hold,
    live until the application stops; the next entry stored under a new
    application drops them. A ``build`` that raises stores nothing."""
    app = spark.sparkContext.applicationId
    key = (app, name, tuple(id(f) for f in frames), args)
    hit = _PREPARED.get(key)
    if hit is None:
        hit = (frames, build())
        for k in [k for k in _PREPARED if k[0] != app]:
            del _PREPARED[k]
        _PREPARED[key] = hit
    return hit[1]
