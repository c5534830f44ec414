"""The driver JVM's class-data archive (``session._cds_plan``)."""

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

from orthority_spark import session

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
    return conf


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
