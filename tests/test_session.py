"""How ``get_spark`` launches the local driver JVM: the JIT flag, the
class-data archive (``session._cds_plan``) and the pruning of superseded
temp files (``orthority_spark.tmpfiles``)."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys
import tempfile
import time

import pytest
from pyspark import SparkContext

from orthority_spark import session, tmpfiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def stock(tmp_path, monkeypatch):
    """A fresh temp dir, a conf dir of templates only and no gateway."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    conf = tmp_path / "spark_conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for k in ("PYSPARK_GATEWAY_PORT",) + session._CLASS_PATH_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    held = {}
    monkeypatch.setattr(tmpfiles, "_HELD", held)
    yield conf
    for fd in held.values():
        os.close(fd)


def test_cds_flag_dumps_then_maps(stock, tmp_path):
    options, conf_dir, tmp = session._cds_plan("local[2]", {})
    assert os.listdir(conf_dir) == []
    path, pid, suffix = tmp.rsplit(".", 2)
    assert (pid, suffix) == (str(os.getpid()), "tmp")
    assert os.path.dirname(path) == str(tmp_path)
    assert os.path.basename(path).startswith("orthority_spark_cds_")
    assert options.split()[0] == f"-XX:ArchiveClassesAtExit={tmp}"
    open(path, "wb").close()
    assert session._cds_plan("local[*]", {}) == (
        f"-XX:SharedArchiveFile={path}", conf_dir, None)


def test_cds_flag_only_where_the_engine_launches_the_jvm(stock, monkeypatch):
    assert session._cds_plan("spark://host:7077", {}) is None
    assert session._cds_plan("local[2]", {"spark.driver.extraClassPath": "/x"}) is None
    (stock / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    assert session._cds_plan("local[2]", {}) is None
    (stock / "spark-defaults.conf").unlink()
    assert session._cds_plan("local[2]", {}) is not None
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._cds_plan("local[2]", {}) is None


def test_jit_flag_only_where_the_engine_launches_the_jvm(stock, monkeypatch):
    caller = {"spark.driver.extraJavaOptions": "-XX:CompileThresholdScaling=1",
              "spark.driver.defaultJavaOptions": "-Dcaller=1"}
    assert session._launch_plan("spark://host:7077", caller) == (caller, {}, None)
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Dsubmit=1")
    conf, env, dump = session._launch_plan("local[2]", caller)
    assert env["SPARK_SUBMIT_OPTS"] == f"{session._JIT_FLAG} -Dsubmit=1"
    assert env["SPARK_CONF_DIR"] == os.path.join(tempfile.gettempdir(), "orthority_spark_conf")
    options = conf.pop("spark.driver.defaultJavaOptions").split()
    assert options[0] == f"-XX:ArchiveClassesAtExit={dump}" and options[-1] == "-Dcaller=1"
    assert conf == {"spark.driver.extraJavaOptions": "-XX:CompileThresholdScaling=1"}
    # a real conf dir rules the archive out, not the JIT flag, and its
    # spark.driver.defaultJavaOptions is not overridden by the session conf
    (stock / "spark-defaults.conf").write_text("spark.driver.defaultJavaOptions -Dsite=1\n")
    monkeypatch.delenv("SPARK_SUBMIT_OPTS")
    assert session._launch_plan("local[2]", {}) == (
        {}, {"SPARK_SUBMIT_OPTS": session._JIT_FLAG}, None)
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._launch_plan("local[2]", {}) == ({}, {}, None)


def test_prune_keeps_what_a_live_session_holds(tmp_path, monkeypatch):
    held = {}
    monkeypatch.setattr(tmpfiles, "_HELD", held)
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout.strip()
    names = {"live_zip": "orthority_spark_aaaaaaaaaaaa.zip",
             "free_zip": "orthority_spark_bbbbbbbbbbbb.zip",
             "building": f"orthority_spark_cccccccccccc.zip.{os.getpid()}.tmp",
             "left_over": f"orthority_spark_ffffffffffff.zip.{dead}.tmp",
             "other_kind": "orthority_spark_cds_dddddddddddd.jsa",
             "other_left_over": f"orthority_spark_cds_dddddddddddd.jsa.{dead}.tmp",
             "unrelated": "orthority_spark_conf"}
    for key, name in names.items():
        (tmp_path / name).write_text(key)
    try:
        assert tmpfiles.hold(str(tmp_path / names["live_zip"]))
        assert not tmpfiles.hold(str(tmp_path / "orthority_spark_eeeeeeeeeeee.zip"))
        (tmp_path / "zip.tmp").write_text("new")
        new = "orthority_spark_ffffffffffff.zip"
        assert tmpfiles.publish(str(tmp_path / "zip.tmp"), str(tmp_path / new))
        assert set(os.listdir(tmp_path)) == {
            new, names["live_zip"], names["building"], names["other_kind"],
            names["other_left_over"], names["unrelated"]}
        assert (tmp_path / new).read_text() == "new"
        (tmp_path / "late.tmp").write_text("late")
        assert not tmpfiles.publish(str(tmp_path / "late.tmp"), str(tmp_path / new))
        assert not (tmp_path / "late.tmp").exists()
        assert (tmp_path / new).read_text() == "new"
    finally:
        for fd in held.values():
            os.close(fd)


SESSION = """
import os, sys
sys.path.insert(0, {root!r})
import pyarrow as pa
from orthority_spark.session import get_spark

def probe(it):
    for b in it:
        yield pa.RecordBatch.from_pydict({{"n": [b.num_rows]}})

spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={{
    "spark.driver.extraJavaOptions": "-Dorthority.probe=1"}})
pid = spark.sparkContext._gateway.proc.pid
print("jvm", pid, flush=True)
cmd = open(f"/proc/{{pid}}/cmdline").read().split("\\0")
maps = open(f"/proc/{{pid}}/maps").read()
print("caller_option", "-Dorthority.probe=1" in cmd)
print("mapped", sorted({{l.split()[-1] for l in maps.splitlines()
                        if "orthority_spark_cds_" in l}}))
n = spark.range(0, 100, 1, 2).mapInArrow(probe, "n long").collect()
print("rows", sum(r.n for r in n))
"""


def test_cds_archive_is_published_mapped_and_never_torn(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env["TMPDIR"] = str(tmp_path)
    code = SESSION.format(root=ROOT)

    def run():
        p = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                           capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
        return dict(line.split(" ", 1) for line in p.stdout.splitlines()
                    if line.split(" ", 1)[0] in ("caller_option", "mapped", "rows"))

    def archives(pattern):
        return glob.glob(str(tmp_path / f"orthority_spark_cds_*{pattern}"))

    first = run()
    assert first["mapped"] == "[]" and first["rows"] == "100"
    [jsa] = archives(".jsa")
    assert archives(".tmp") == []

    second = run()
    assert second == {"caller_option": "True", "mapped": str([jsa]), "rows": "100"}

    os.remove(jsa)
    p = subprocess.Popen([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    jvm = next(int(line.split()[1]) for line in p.stdout if line.startswith("jvm "))
    while not archives(".tmp") and p.poll() is None:
        time.sleep(0.05)
    assert archives(".tmp"), "the session never started its dump"
    os.kill(jvm, signal.SIGKILL)
    p.stdout.read()
    assert p.wait(timeout=120) == 0
    assert archives(".jsa") == [] and archives(".tmp") == []


SITE_SESSION = """
import os, sys
sys.path.insert(0, {root!r})
from orthority_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={{
    "spark.driver.extraJavaOptions": "-XX:CompileThresholdScaling=2 -Dorthority.probe=1"}})
jvm = spark.sparkContext._jvm
cmd = open(f"/proc/{{spark.sparkContext._gateway.proc.pid}}/cmdline").read().split("\\0")
flags = ["-XX:CompileThresholdScaling=4", "-Dorthority.submit=1", "-Dorthority.site=1",
         "-XX:CompileThresholdScaling=2", "-Dorthority.probe=1"]
print("order", [cmd.index(f) for f in flags] == sorted(cmd.index(f) for f in flags))
print("scaling", jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
).getVMOption("CompileThresholdScaling").getValue())
print("submit_opts", os.environ["SPARK_SUBMIT_OPTS"])
print("rows", spark.range(0, 100, 1, 2).count())
"""


def test_jit_flag_keeps_site_and_caller_java_options(tmp_path):
    """A site's ``spark.driver.defaultJavaOptions`` and a caller's
    ``SPARK_SUBMIT_OPTS`` and ``extraJavaOptions`` all reach the JVM,
    after the JIT flag, so the caller's scaling is the one in effect."""
    conf = tmp_path / "spark_conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions -Dorthority.site=1\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env.update(TMPDIR=str(tmp_path), SPARK_CONF_DIR=str(conf),
               SPARK_SUBMIT_OPTS="-Dorthority.submit=1")
    p = subprocess.run([sys.executable, "-c", SITE_SESSION.format(root=ROOT)], cwd=tmp_path,
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    out = dict(line.split(" ", 1) for line in p.stdout.splitlines()
               if line.split(" ", 1)[0] in ("order", "scaling", "submit_opts", "rows"))
    assert out == {"order": "True", "scaling": "2.0", "submit_opts": "-Dorthority.submit=1",
                   "rows": "100"}
