"""Package distribution to executors (the spark-submit --py-files story).

UDF closures (the camera, DEM, remap, ray and ANN ``mapInArrow``
kernels, and the pandas UDFs of the fit, stats, EXIF and DEM-z cogroup
plans) are cloudpickled by module reference, so executors must be able
to ``import orthority_spark``.
On a real cluster that is ``spark-submit --py-files orthority_spark.zip``;
for driver-embedded use (the sandbox driver, notebooks) we build the same
zip on demand and register it with ``SparkContext.addPyFile`` — identical
distribution mechanics, no reliance on the driver's working directory.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from . import tmpfiles

_SENTINEL = "_orthority_spark_pyfile_added"


def _content_hash(pkg_dir: str) -> str:
    import hashlib

    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(open(os.path.join(root, f), "rb").read())
    return h.hexdigest()[:12]


def _write_zip(pkg_dir: str, out_path: str) -> None:
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("orthority_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)


def package_zip(out_path: str | None = None) -> str:
    """Zip the orthority_spark package. The default path is
    content-addressed (md5 of all sources) so a stale zip from an earlier
    build can never shadow current code on the driver/executors. It is
    written under a per-process name and renamed into place, and this
    process holds it until it exits; publishing it deletes the zips of
    other source versions that no live process holds (``tmpfiles``)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if out_path is not None:
        if not os.path.exists(out_path):
            _write_zip(pkg_dir, out_path)
        return out_path
    path = os.path.join(
        tempfile.gettempdir(), f"orthority_spark_{_content_hash(pkg_dir)}.zip")
    if not tmpfiles.hold(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        _write_zip(pkg_dir, tmp)
        tmpfiles.publish(tmp, path)
        tmpfiles.hold(path)
    return path


def ensure_on_executors(spark) -> None:
    """addPyFile the package zip once per SparkContext, then verify the
    package (and the Arrow-kernel dependencies) actually import inside
    the executors' Python workers.

    A stale or broken zip should fail HERE, loudly, at session setup —
    not as an opaque worker crash inside the first Arrow kernel of a
    real job. The check is one tiny mapInArrow no-op across
    ``defaultParallelism`` partitions; because workers are pooled
    (``spark.python.worker.reuse``), it also leaves the Python workers
    (with numpy/pyarrow and the package imported) warm for whatever
    kernel runs first — cold-start that otherwise lands on an arbitrary
    first query."""
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL, False):
        return
    sc.addPyFile(package_zip())
    setattr(sc, _SENTINEL, True)

    def _importable(it):
        import numpy  # noqa: F401 — kernel deps must exist worker-side
        import pyarrow  # noqa: F401

        import orthority_spark  # noqa: F401 — the shipped zip must import

        yield from it

    n = max(2, sc.defaultParallelism)
    (
        spark.range(0, n, 1, n)
        .mapInArrow(_importable, schema="id bigint")
        .write.format("noop").mode("overwrite").save()
    )
