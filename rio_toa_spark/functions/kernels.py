"""TOA pixel kernels — vectorized numpy, float32-parity with rio-toa.

These run INSIDE Arrow batches on executors (mapInArrow); they are the
engine's equivalent of rio-toa's riomucho workers. Operation order and
numpy dtype behavior are kept identical to the reference so outputs are
bitwise-equal float32:

* radiance:        reference rio_toa/radiance.py:8-42   (math at :38-40)
* reflectance:     reference rio_toa/reflectance.py:11-74 (math at :62-64)
* brightness_temp: reference rio_toa/brightness_temp.py:14-62 (math :57-60)
* rescale:         reference rio_toa/toa_utils.py:121-138
* temp_rescale:    reference rio_toa/toa_utils.py:141-153
* normalize_scale: reference rio_toa/toa_utils.py:156-168

Do NOT re-express these in Spark SQL doubles: the correctness gate is
bitwise float32 parity, which requires numpy's exact op order/dtypes.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "radiance",
    "reflectance",
    "brightness_temp",
    "rescale",
    "temp_rescale",
    "normalize_scale",
    "DEFAULT_RESCALE_FACTORS",
]

DEFAULT_RESCALE_FACTORS = {"uint8": 255, "uint16": 65535, "float32": 1.0}


def radiance(dn: np.ndarray, ml, al, src_nodata=0) -> np.ndarray:
    """TOA spectral radiance: ``L = ML * float32(Q) + AL``.

    Pixels equal to ``src_nodata`` are forced to 0.0 after the linear
    transform; passing ``src_nodata=None`` skips masking entirely
    (reference rio_toa/radiance.py:38-40).
    """
    # in-place on the astype copy: `out *= ml` is bitwise-identical to
    # `ml * out` (IEEE multiply commutes; python-float scalar keeps the
    # f32 dtype) while avoiding two full-buffer temporaries. ONLY valid
    # for plain python scalars — a list or np.float64 coefficient must
    # keep the documented value-based upcast to f64, which an in-place
    # f32 op would silently round away.
    if type(ml) in (int, float) and type(al) in (int, float):
        out = dn.astype(np.float32)
        out *= ml
        out += al
    else:
        out = ml * dn.astype(np.float32) + al
    if src_nodata is not None:
        out[dn == src_nodata] = 0.0
    return out


def reflectance(dn: np.ndarray, mr, ar, sun_elev, src_nodata=0) -> np.ndarray:
    """TOA reflectance with solar correction:
    ``R = (MR * float32(Q) + AR) / sin(deg2rad(E))``.

    ``sun_elev`` may be a scene-center scalar (degrees) or a per-pixel
    grid; any negative elevation raises (sun below horizon —
    reference rio_toa/reflectance.py:53-55). Multiband input of shape
    (depth, rows, cols) is moved band-last for broadcasting against
    per-band MR/AR lists and moved back on return, with the same shape
    assertion the reference performs (rio_toa/reflectance.py:57-72).
    """
    if np.any(np.asarray(sun_elev) < 0.0):
        raise ValueError(
            "Sun elevation must be nonnegative "
            "(sun must be above horizon for entire scene)"
        )

    in_shape = dn.shape
    multiband = len(in_shape) > 2
    if multiband:
        dn = np.rollaxis(dn, 0, len(in_shape))

    out = ((mr * dn.astype(np.float32)) + ar) / np.sin(np.deg2rad(sun_elev))
    if src_nodata is not None:
        out[dn == src_nodata] = 0.0

    if multiband:
        out = np.rollaxis(out, len(in_shape) - 1, 0)
        if out.shape != in_shape:
            raise ValueError(
                "Output shape %s is not equal to input shape %s"
                % (out.shape, in_shape)
            )
    return out


def brightness_temp(dn: np.ndarray, ml, al, k1, k2, src_nodata=0) -> np.ndarray:
    """At-satellite brightness temperature (Kelvin):
    ``T = K2 / log(K1 / L + 1)`` with ``L = radiance(Q)``.

    Nodata pixels become NaN (not 0.0) before the inversion — the
    reference first zeroes them in the radiance call (hardcoded
    src_nodata=0) and then overwrites with NaN
    (rio_toa/brightness_temp.py:57-60).
    """
    lum = radiance(dn, ml, al, src_nodata=0)
    lum[dn == src_nodata] = np.nan
    if type(k1) in (int, float) and type(k2) in (int, float):
        # same ops as k2 / log(k1 / lum + 1), fused in place (one
        # buffer, no temporaries; each step is the identical IEEE op on
        # f32). ONLY valid for plain python scalars — same guard as
        # radiance: an np.float64 K would value-based-upcast the
        # expression form to f64, which in-place f32 ops would silently
        # double-round away.
        np.divide(k1, lum, out=lum)
        lum += 1
        np.log(lum, out=lum)
        np.divide(k2, lum, out=lum)
        return lum
    return k2 / np.log((k1 / lum) + 1)


def rescale(arr: np.ndarray, rescale_factor, dtype, clip: bool = True) -> np.ndarray:
    """Scale a 0..1 array up linearly and cast to ``dtype``.

    clip=True clamps to [0, 1] first; clip=False instead validates that
    the scaled values fit an integer destination and raises on overflow
    (reference rio_toa/toa_utils.py:121-138).
    """
    arr = arr.copy()
    if clip:
        arr[arr < 0.0] = 0.0
        arr[arr > 1.0] = 1.0
    arr *= rescale_factor

    if not clip and np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        if arr.max() > info.max or arr.min() < info.min:
            raise ValueError(
                "Cannot safely cast to {} without losing data"
                "; Reduce the rescale factor or enable clip".format(dtype)
            )
    return arr.astype(dtype)


def temp_rescale(arr: np.ndarray, temp_scale: str) -> np.ndarray:
    """Kelvin passthrough, or convert to Fahrenheit / Celsius
    (reference rio_toa/toa_utils.py:141-153)."""
    if temp_scale == "K":
        return arr
    if temp_scale == "F":
        return arr * (9 / 5.0) - 459.67
    if temp_scale == "C":
        return arr - 273.15
    raise ValueError("%s is not a valid temperature scale" % temp_scale)


def normalize_scale(rescale_factor, dtype: str):
    """Default rescale factor per destination dtype when the caller
    passes a falsy factor (reference rio_toa/toa_utils.py:156-168)."""
    if not rescale_factor:
        rescale_factor = DEFAULT_RESCALE_FACTORS.get(dtype, 1.0)
    return rescale_factor
