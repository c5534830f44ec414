"""Vertical-datum z transform: the per-job driver-side scalar probe
(reference ortho.py:144-151 / camera.py:441-448 recast, SURVEY P18)."""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark.geom.vdatum import ZTransform, probe_z_transform
from orthority_spark.sources import footprints as fp


def test_probe_recovers_linear_transform_exactly():
    egm = probe_z_transform(lambda z: z + 30.5)       # geoid-offset style
    assert egm.scale == 1.0 and egm.offset == 30.5
    ft = probe_z_transform(lambda z: z * 0.3048)      # unit-change style
    assert ft.scale == 0.3048 and ft.offset == 0.0
    both = probe_z_transform(lambda z: z * 0.3048 - 12.25)
    # the two-point difference reconstructs the slope to float64 rounding
    assert both.scale == pytest.approx(0.3048, abs=1e-12)
    assert both.offset == -12.25


def test_probe_rejects_degenerate_vertical_crs():
    # the reference raises on a CRS without ellipsoidal height
    # (camera.py:441-448); a constant vertical map is the analogue here
    with pytest.raises(ValueError):
        probe_z_transform(lambda z: 0.0)


def test_egm_offset_job_matches_shifted_linear_frame_job():
    """An EGM-style z-offset job produces EXACTLY the footprints of the
    plain linear-frame job run at the shifted z — the transform folds
    into the driver-side catalog build, executor shapes untouched."""
    models = fp.fixture_models()
    offset = 30.5
    egm = probe_z_transform(lambda z: z + offset)
    datum_z = 825.0 - offset  # orthometric height of the 825 m plane
    got = fp.records_for_models(models, z=datum_z, ztrans=egm)
    want = fp.records_for_models(models, z=825.0)
    assert got["edges"] == want["edges"]
    assert got["cells"] == want["cells"]
    assert got["summary"] == want["summary"]
    for name in want["polygons"]:
        np.testing.assert_array_equal(
            got["polygons"][name], want["polygons"][name]
        )


def test_identity_transform_is_noop():
    models = fp.fixture_models()
    got = fp.records_for_models(models, z=825.0, ztrans=ZTransform())
    want = fp.records_for_models(models, z=825.0)
    assert got["summary"] == want["summary"]


def test_survey_feet_job_scales_heights():
    """A survey-feet job (z in ft, world in m): footprints equal the
    metric job at z * 0.3048."""
    models = fp.fixture_models()
    ft = ZTransform(scale=0.3048, offset=0.0)
    got = fp.records_for_models(models, z=825.0 / 0.3048, ztrans=ft)
    want = fp.records_for_models(models, z=825.0)
    # 825/0.3048*0.3048 rounds back to exactly 825.0 in float64? assert
    # via closeness of the derived summaries instead of bit equality
    for g, w in zip(got["summary"], want["summary"]):
        assert g[0] == w[0]
        np.testing.assert_allclose(g[2:], w[2:], rtol=1e-12)
