"""Color-space transforms + masked per-compartment color stats (SURVEY X1).

Reference: sub-compartment segmentation thresholds HSV channels
(fextract/extractioncodes/FeatureExtractor.py:325,333 — rgb2hsv, the S
channel for stain pre-masks and 255−V for nuclei), whitespace detection
thresholds the LAB L channel (process_mc_features.py:68-71 — rgb2lab,
L/100 > whitespace_threshold), and per-compartment color features are
masked per-channel mean/std over the image
(FeatureExtractor.py:467-498, calculate_color_features). skimage is not
in this container, so the transforms are self-contained numpy with the
CIE constants spelled out; HSV is pinned against the stdlib colorsys
dual, LAB against published sRGB reference values (tests/test_color.py).

All pixel work is payload-local inside the shared Arrow-batched
``_rowmap.map_rows`` — the image and its compartment mask arrive as
binary columns, masks/arrays never become Spark types, and only scalar
stats come back (the SURVEY §1.1 payload contract). Pure map: no shuffle,
parallelism = input partitions — the 100 TB shape of every other
multimodal operator.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from combinedfeatureextraction_spark.multimodal._rowmap import map_rows
from combinedfeatureextraction_spark.multimodal.binary import decode_payload


def rgb_to_hsv_numpy(rgb: np.ndarray) -> np.ndarray:
    """Vectorized RGB→HSV, colorsys/matplotlib semantics: input float
    channels in [0,1], H in [0,1) (0 where the pixel is achromatic),
    S = (max−min)/max (0 at black), V = max. Ties on the max channel
    resolve red-first then green (colorsys's elif chain — pinned by the
    stdlib dual in tests)."""
    rgb = np.asarray(rgb, dtype=np.float64)
    maxc = rgb.max(axis=-1)
    minc = rgb.min(axis=-1)
    delta = maxc - minc
    s = np.where(maxc > 0, delta / np.where(maxc > 0, maxc, 1.0), 0.0)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    dd = np.where(delta > 0, delta, 1.0)
    h = np.select(
        [r == maxc, g == maxc],
        [(g - b) / dd, 2.0 + (b - r) / dd],
        default=4.0 + (r - g) / dd,
    )
    h = np.where(delta > 0, (h / 6.0) % 1.0, 0.0)
    return np.stack([h, s, maxc], axis=-1)


# sRGB D65 → XYZ (IEC 61966-2-1 primaries, 4-decimal form scaled to the
# classical 6-decimal matrix skimage/OpenCV use) and the D65 reference
# white; f(t) uses the exact CIE rational constants ε = 216/24389,
# κ = 24389/27 (skimage's 0.008856 / 7.787 are 4-decimal truncations of
# these — identical above the dark-shadow knee, ≤1e-4 L* below it).
_XYZ_M = np.array(
    [
        [0.412453, 0.357580, 0.180423],
        [0.212671, 0.715160, 0.072169],
        [0.019334, 0.119193, 0.950227],
    ]
)
_D65_WHITE = np.array([0.95047, 1.0, 1.08883])
_CIE_EPS = 216.0 / 24389.0
_CIE_KAPPA = 24389.0 / 27.0


def rgb_to_lab_numpy(rgb: np.ndarray) -> np.ndarray:
    """Vectorized sRGB→CIELAB (D65, 2° observer): gamma-decode each
    channel (c ≤ 0.04045 ? c/12.92 : ((c+0.055)/1.055)^2.4), matrix to
    XYZ, normalize by the D65 white, f(t) = t^(1/3) above ε else
    (κt+16)/116, then L* = 116 f(Y) − 16, a* = 500 (f(X) − f(Y)),
    b* = 200 (f(Y) − f(Z))."""
    rgb = np.asarray(rgb, dtype=np.float64)
    lin = np.where(
        rgb <= 0.04045, rgb / 12.92, ((rgb + 0.055) / 1.055) ** 2.4
    )
    # explicit left-to-right dot products (not matmul): identical
    # floating-point evaluation order to the DuckDB oracle's SQL sums,
    # so the 6-dp-rounded driver compare can't trip on a BLAS FMA ulp
    xyz = np.stack(
        [
            lin[..., 0] * _XYZ_M[i, 0]
            + lin[..., 1] * _XYZ_M[i, 1]
            + lin[..., 2] * _XYZ_M[i, 2]
            for i in range(3)
        ],
        axis=-1,
    ) / _D65_WHITE
    f = np.where(
        xyz > _CIE_EPS, np.cbrt(xyz), (_CIE_KAPPA * xyz + 16.0) / 116.0
    )
    lstar = 116.0 * f[..., 1] - 16.0
    astar = 500.0 * (f[..., 0] - f[..., 1])
    bstar = 200.0 * (f[..., 1] - f[..., 2])
    return np.stack([lstar, astar, bstar], axis=-1)


def _decode_image_shaped(payload: bytes) -> np.ndarray:
    """Decode an image payload (netpbm/BMP/PNG/JPEG) to an (H, W, C) float
    array. Audio and empty payloads raise here, unknown magic in
    binary.decode_payload."""
    arr, w, h, ch = decode_payload(payload)
    if w is None:
        raise NotImplementedError(
            "image payload must be netpbm/BMP/PNG/JPEG, not audio or empty"
        )
    return np.asarray(arr, dtype=np.float64).reshape(h, w, ch)


COLOR_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_masked", T.LongType(), False),
        T.StructField("c1_mean", T.DoubleType(), True),
        T.StructField("c2_mean", T.DoubleType(), True),
        T.StructField("c3_mean", T.DoubleType(), True),
        T.StructField("c1_std", T.DoubleType(), True),
        T.StructField("c2_std", T.DoubleType(), True),
        T.StructField("c3_std", T.DoubleType(), True),
    ]
)

_SPACES = ("rgb", "hsv", "lab")


def masked_color_stats(
    media: DataFrame,
    space: str = "hsv",
    payload_col: str = "payload",
    mask_col: str = "mask_payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-row masked per-channel color mean/std — the reference's
    calculate_color_features (FeatureExtractor.py:467-498: pixels where
    the compartment mask is >0, np.nanmean/np.nanstd per channel, 0.0
    when the compartment is empty), generalized over the color space
    the stats are taken in (``rgb`` = the reference's literal path;
    ``hsv``/``lab`` = the spaces its thresholds run in,
    FeatureExtractor.py:325 / process_mc_features.py:68).

    ``payload_col``: RGB image bytes (netpbm/BMP/PNG/JPEG); ``mask_col``: a
    single-channel image of identical dimensions, >0 selects pixels.
    RGB channels are scaled to [0,1] before the transform (so ``rgb``
    stats are in [0,1] too); population std (ddof=0, numpy default =
    the reference's np.nanstd)."""
    if space not in _SPACES:
        raise ValueError(f"space must be one of {_SPACES}")

    def row(payload, mask_payload) -> tuple:
        img = _decode_image_shaped(bytes(payload))
        if img.shape[-1] != 3:
            raise ValueError("payload must decode to 3 channels")
        m = _decode_image_shaped(bytes(mask_payload))
        if m.shape[-1] != 1:
            raise ValueError("mask must decode to 1 channel")
        sel = m[..., 0] > 0
        px = img[sel] / 255.0
        n = int(sel.sum())
        if n == 0:
            return 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0
        if space == "hsv":
            px = rgb_to_hsv_numpy(px)
        elif space == "lab":
            px = rgb_to_lab_numpy(px)
        mean = np.nanmean(px, axis=0)
        std = np.nanstd(px, axis=0)
        return n, *(float(x) for x in mean), *(float(x) for x in std)

    return map_rows(
        media, [id_col], [payload_col, mask_col],
        COLOR_STATS_SCHEMA.fields[1:], row,
    )
