"""Ray–DEM intersection as a ``mapInArrow`` kernel: the reference's
per-ray scalar march (orthority's camera.py:103-165) runs
once per record batch through ``geom.dem.ray_march_params``; columns
cross as numpy arrays, with no pandas frame in between."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..arrow_buffers import float64_array, float64_values
from ..geom.dem import DEM_RES, ray_march_params


def ray_march(
    rays: DataFrame, dem_fn, min_z: float, max_z: float,
    step: float = DEM_RES / 2, keep: list[str] = (),
) -> DataFrame:
    """rays(dx, dy, dz, tx, ty, tz, *keep) -> (*keep, x, y, z): the first
    intersection of each ray (direction d, origin t) with the surface
    ``dem_fn(x, y)``, with ``ray_march_params`` semantics and operation
    order; the ray columns are read as doubles. ``dem_fn`` runs on the
    executors, so it must pickle by value (a lambda or closure) or be
    importable there."""
    keep = list(keep)
    fields = [f"`{f.name}` {f.dataType.simpleString()}"
              for f in rays.select(*keep).schema]
    schema = ", ".join(fields + ["x double, y double, z double"])

    def march(it):
        for batch in it:
            if not batch.num_rows:
                continue
            d, t = (np.vstack([float64_values(batch.column(c)) for c in cols])
                    for cols in (("dx", "dy", "dz"), ("tx", "ty", "tz")))
            out = ray_march_params(d, t, dem_fn, min_z, max_z, step)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [float64_array(v, nan_is_null=False) for v in out],
                names=keep + ["x", "y", "z"],
            )

    ray_cols = [F.col(c).cast("double").alias(c)
                for c in ("dx", "dy", "dz", "tx", "ty", "tz")]
    return rays.select(*keep, *ray_cols).mapInArrow(march, schema=schema)
