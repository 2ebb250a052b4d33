"""Parity against the reference's OWN committed artifacts — real
Landsat MTL metadata files and the 2727-entry path-164 sun corpus
(plain text/JSON, zero extra deps). These catch parser / sun-geometry
divergences the synthetic fixtures can't.

Ports of reference tests/test_toa_utils.py:42-57 (txt vs json MTL
equivalence on real scenes) and tests/test_sun_utils.py:120-135
(per-scene sun-elevation grid must bracket the MTL's SUN_ELEVATION).

No Spark session needed: the parser and solar geometry are plain
python/numpy functions reused inside the UDFs.
"""

import json
import os

import pytest

from rio_toa_spark.functions import sun
from rio_toa_spark.functions.mtl import parse_mtl_txt

REF_DATA = "/root/reference/tests/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="rio-toa reference test data not present"
)

REAL_SCENES = ["LC80100202015018LGN00", "LC81060712016134LGN00"]


def _load(path):
    with open(path) as fh:
        return fh.read()


@pytest.mark.parametrize("scene", REAL_SCENES)
def test_real_mtl_txt_json_equivalence(scene):
    # reference tests/test_toa_utils.py:42-57: every key of the
    # USGS-published json MTL must parse identically from the ODL txt
    txtmtl = parse_mtl_txt(_load(os.path.join(REF_DATA, scene + "_MTL.txt")))
    jsonmtl = json.loads(_load(os.path.join(REF_DATA, scene + "_MTL.json")))
    for k in jsonmtl["L1_METADATA_FILE"]:
        assert k in txtmtl["L1_METADATA_FILE"], k
        assert jsonmtl["L1_METADATA_FILE"][k] == txtmtl["L1_METADATA_FILE"][k], k


@pytest.mark.parametrize("scene", REAL_SCENES)
def test_real_mtl_key_and_bounds(scene):
    mtl = parse_mtl_txt(_load(os.path.join(REF_DATA, scene + "_MTL.txt")))
    ml = mtl["L1_METADATA_FILE"]["RADIOMETRIC_RESCALING"]["RADIANCE_MULT_BAND_5"]
    assert isinstance(ml, float) and ml > 0
    pm = mtl["L1_METADATA_FILE"]["PRODUCT_METADATA"]
    corners = ("LL", "LR", "UR", "UL")
    lngs = [pm["CORNER_%s_LON_PRODUCT" % c] for c in corners]
    lats = [pm["CORNER_%s_LAT_PRODUCT" % c] for c in corners]
    w, s, e, n = min(lngs), min(lats), max(lngs), max(lats)
    assert w < e and s < n and -180 <= w and e <= 180 and -90 <= s and n <= 90


def test_real_sun_corpus_path164():
    # reference tests/test_sun_utils.py:120-135: for all 2727 real
    # acquisitions, the predicted 10x10 elevation grid must bracket
    # the MTL-reported scene-center sun elevation
    corpus = json.loads(_load(os.path.join(REF_DATA, "path164sundata.json")))
    assert len(corpus) > 2000
    for d in corpus:
        pred = sun.sun_elevation(
            d["bbox"], (10, 10), d["date_acquired"], d["scene_center_time"]
        )
        assert pred.max() > d["mtl_sun_elevation"], d
        assert pred.min() < d["mtl_sun_elevation"], d


def test_real_sun_corpus_strip_bitwise():
    # strip-chunked evaluation (the engine's cache-blocked execution
    # path) must be bitwise-identical on real acquisitions too
    import numpy as np

    corpus = json.loads(_load(os.path.join(REF_DATA, "path164sundata.json")))
    for d in corpus[::97]:
        full = sun.sun_elevation(d["bbox"], (16, 16), d["date_acquired"], d["scene_center_time"])
        strips = np.vstack(
            [
                sun.sun_elevation_rows(
                    d["bbox"], (16, 16), r0, min(r0 + 5, 16), d["date_acquired"], d["scene_center_time"]
                )
                for r0 in range(0, 16, 5)
            ]
        )
        assert np.array_equal(full, strips)
