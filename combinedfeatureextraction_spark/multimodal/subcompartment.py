"""Sub-compartment segmentation cascade (SURVEY §2 X-family composite).

Reference: ``FeatureExtractor.sub_segment_image``
(fextract/extractioncodes/FeatureExtractor.py:318-380) builds one-hot
sub-compartment masks from an RGB crop + boundary mask:

  1. nuclei: 255 − uint8(255·V) (inverse HSV value), histogram-equalized
     over the boundary mask, manual threshold, ``remove_small_holes``,
     an EDT-marker watershed, ``remove_small_objects``;
  2. each following compartment (eosinophilic, ...): uint8(255·S)
     (HSV saturation) over the REMAINDER mask, manual threshold,
     ``remove_small_objects``;
  3. pixels of the boundary mask left in the remainder join the LAST
     compartment (union with its own thresholded mask).

Two documented simplifications, both exact on the reference's use:

  - The reference consumes its watershed only as ``watershed(-distance,
    markers, mask=sub_mask) > 0`` (line 353) — and a flood from ≥1
    marker per connected component labels every cell of that component,
    while ``peak_local_max(..., labels=labeled_mask)`` yields at least
    one peak per labeled component. So the ``> 0`` collapse is the
    IDENTITY on the thresholded mask and the step is skipped here (the
    splitting power of the watershed matters only for per-object
    counting, which this composite does not do — the full 2-D watershed
    lives in multimodal.rasterize for that).
  - Equalization is the exact masked CDF map ``out = floor(255 ·
    |{masked px ≤ v}| / |masked|)`` rather than skimage's
    interp-over-bin-centers formulation — identical on discrete uint8
    levels up to the interpolation's bin-center offsets, and exactly
    SQL-expressible, which is what makes the driver oracle closed-form.

All per-pixel work is payload-local numpy inside one
``rowmap.per_row_map`` — same 100 TB pure-map shape as the other
multimodal operators.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from combinedfeatureextraction_spark.multimodal.color import (
    _decode_image_shaped,
    rgb_to_hsv_numpy,
)
from combinedfeatureextraction_spark.multimodal.rasterize import (
    distance_transform_numpy,
    label_components_numpy,
)
from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map


def equalize_hist_masked(u8: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Masked histogram equalization of a uint8 image: every pixel maps
    through the CDF of the MASKED pixels, ``out = floor(255 · P[masked
    <= v])`` (reference: exposure.equalize_hist(h, mask=mask),
    FeatureExtractor.py:334 — see module docstring for the exact-CDF
    deviation). Pixels outside the mask are mapped too (the reference
    multiplies by the mask afterwards, so their values are inert)."""
    u8 = np.asarray(u8)
    sel = np.asarray(mask, dtype=bool)
    n = int(sel.sum())
    if n == 0:
        return np.zeros_like(u8)
    hist = np.bincount(u8[sel].ravel(), minlength=256)
    cdf = np.cumsum(hist) / n
    lut = np.floor(255.0 * cdf).astype(np.uint8)
    return lut[u8]


def remove_small_objects_numpy(
    mask: np.ndarray, min_size: int, connectivity: int = 4
) -> np.ndarray:
    """Drop connected components smaller than ``min_size`` pixels
    (skimage remove_small_objects; its default connectivity=1 is
    4-connectivity in 2-D)."""
    if min_size <= 1 or not mask.any():
        return mask
    labels, nlab = label_components_numpy(mask, connectivity)
    sizes = np.bincount(labels.ravel(), minlength=nlab + 1)
    keep = sizes >= min_size
    keep[0] = False
    return keep[labels]


def remove_small_holes_numpy(
    mask: np.ndarray, area_threshold: int, connectivity: int = 4
) -> np.ndarray:
    """Fill background components NOT touching the border (holes) whose
    area is below ``area_threshold`` (skimage remove_small_holes,
    FeatureExtractor.py:342)."""
    if area_threshold <= 0 or not mask.any():
        return mask
    labels, nlab = label_components_numpy(~mask, connectivity)
    if nlab == 0:
        return mask
    border = np.zeros(nlab + 1, dtype=bool)
    border[labels[0, :]] = True
    border[labels[-1, :]] = True
    border[labels[:, 0]] = True
    border[labels[:, -1]] = True
    sizes = np.bincount(labels.ravel(), minlength=nlab + 1)
    fill = (~border) & (sizes < area_threshold)
    fill[0] = False
    return mask | fill[labels]


def sub_compartment_masks_numpy(
    rgb: np.ndarray,
    mask: np.ndarray,
    params: Sequence[Mapping],
    hole_area: int = 10,
) -> np.ndarray:
    """One-hot (h, w, len(params)) sub-compartment masks — the
    reference cascade (see module docstring). ``rgb``: (h, w, 3) uint8
    values 0..255; ``mask``: (h, w) bool boundary mask; ``params``:
    reference-style dicts with name / threshold / min_size (the last
    entry additionally receives the remainder)."""
    h, w = mask.shape
    hsv = rgb_to_hsv_numpy(np.asarray(rgb, dtype=np.float64) / 255.0)
    s_u8 = (255.0 * hsv[..., 1]).astype(np.uint8)
    v_u8 = (255.0 * hsv[..., 2]).astype(np.uint8)
    remainder = np.asarray(mask, dtype=bool).copy()
    out = np.zeros((h, w, len(params)), dtype=bool)
    for idx, param in enumerate(params):
        thr = int(param.get("threshold", 0))
        min_size = int(param.get("min_size", 0))
        if str(param.get("name", "")).lower() == "nuclei":
            inv_v = 255 - v_u8
            eq = equalize_hist_masked(inv_v, mask)
            sub = (eq > thr) & remainder & mask
            sub = remove_small_holes_numpy(sub, hole_area)
            # watershed(-EDT, per-component peak markers)>0 == sub (see
            # module docstring) — skipped as the exact identity
            sub = remove_small_objects_numpy(sub, min_size)
        else:
            sub = (s_u8 > thr) & remainder & mask
            sub = remove_small_objects_numpy(sub, min_size)
        out[sub, idx] = True
        remainder &= ~sub
    out[remainder & np.asarray(mask, dtype=bool), len(params) - 1] = True
    return out


def _cascade_kernel(
    op: str,
    params: Sequence[Mapping],
    measure: Callable[[np.ndarray, np.ndarray], tuple],
) -> Callable[[bytes, bytes], tuple]:
    """The step the three ``sub_compartment_*`` operators share: check
    the 3-compartment configuration, then per row decode the image and
    its boundary mask, run the cascade, and ``measure(image, one-hot
    masks)``."""
    if len(params) != 3:
        raise ValueError(f"{op} expects 3 params")

    def kernel(payload: bytes, mask_payload: bytes) -> tuple:
        img = _decode_image_shaped(payload)
        m = _decode_image_shaped(mask_payload)[..., 0] > 0
        return measure(img, sub_compartment_masks_numpy(img, m, params))

    return kernel


SUBCOMP_SCHEMA_FIELDS = [
    T.StructField("c1_area", T.LongType(), False),
    T.StructField("c2_area", T.LongType(), False),
    T.StructField("c3_area", T.LongType(), False),
    T.StructField("c1_mean_v", T.DoubleType(), True),
    T.StructField("c2_mean_v", T.DoubleType(), True),
    T.StructField("c3_mean_v", T.DoubleType(), True),
    T.StructField("c1_dt_sum", T.DoubleType(), True),
    T.StructField("c2_dt_sum", T.DoubleType(), True),
    T.StructField("c3_dt_sum", T.DoubleType(), True),
    T.StructField("c1_dt_mean", T.DoubleType(), True),
    T.StructField("c2_dt_mean", T.DoubleType(), True),
    T.StructField("c3_dt_mean", T.DoubleType(), True),
    T.StructField("c1_dt_max", T.DoubleType(), True),
    T.StructField("c2_dt_max", T.DoubleType(), True),
    T.StructField("c3_dt_max", T.DoubleType(), True),
]


def sub_compartment_features(
    media: DataFrame,
    params: Sequence[Mapping],
    payload_col: str = "payload",
    mask_col: str = "mask_payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-row cascade → per-compartment area, mean uint8 V, and the
    reference's distance-transform features (calculate_distance_
    transform_features, FeatureExtractor.py:383-430: EDT of each
    compartment mask with dt==0 → NaN, then nansum/nanmean/nanmax —
    i.e. sum/mean/max over the compartment's interior distances; the
    by-object-area / by-compartment-area normalized variants are exact
    ratios of these outputs). Deviation: the EDT is the EXACT separable
    Euclidean transform (rasterize.distance_transform_numpy) rather
    than cv2.distanceTransform's maskSize-5 chamfer APPROXIMATION —
    strictly more accurate, and what the closed-form oracle assumes.
    Exactly 3 compartments (the reference's nuclei/eos/luminal
    configuration)."""
    def measure(img: np.ndarray, oh: np.ndarray) -> tuple:
        v_u8 = (
            255.0 * rgb_to_hsv_numpy(img.astype(np.float64) / 255.0)[..., 2]
        ).astype(np.uint8)
        areas, means, dt_sum, dt_mean, dt_max = [], [], [], [], []
        for c in range(3):
            sel = oh[..., c]
            areas.append(int(sel.sum()))
            means.append(float(v_u8[sel].mean()) if sel.any() else 0.0)
            if sel.any():
                d = distance_transform_numpy(sel)[sel]
                dt_sum.append(float(d.sum()))
                dt_mean.append(float(d.mean()))
                dt_max.append(float(d.max()))
            else:  # reference's empty-compartment 0 convention
                dt_sum.append(0.0)
                dt_mean.append(0.0)
                dt_max.append(0.0)
        return (*areas, *means, *dt_sum, *dt_mean, *dt_max)

    kernel = _cascade_kernel("sub_compartment_features", params, measure)
    return per_row_map(
        media, [id_col], [payload_col, mask_col], kernel, SUBCOMP_SCHEMA_FIELDS
    )


def rgb_to_gray_u8(rgb: np.ndarray) -> np.ndarray:
    """skimage rgb2gray luma (0.2125/0.7154/0.0721 on [0,1] channels)
    scaled back to uint8 — the reference's compartment-texture gray
    chain (FeatureExtractor.py:508-509: rgb2gray then (·255) uint8
    truncation). The float op order here is mirrored verbatim by the
    SQL oracle so the truncated integer levels agree exactly."""
    rgb = np.asarray(rgb, dtype=np.float64)
    gray = (
        (rgb[..., 0] / 255.0) * 0.2125
        + (rgb[..., 1] / 255.0) * 0.7154
        + (rgb[..., 2] / 255.0) * 0.0721
    )
    return (255.0 * gray).astype(np.uint8)


def glcm_props_numpy(gray_u8: np.ndarray) -> tuple:
    """graycomatrix([1], [0], levels=256, symmetric, normed) +
    graycoprops contrast/homogeneity/correlation/energy
    (FeatureExtractor.py:510-513) — horizontal distance-1 pairs,
    symmetric normalized co-occurrence, computed sparsely over the
    distinct pair values (the 256×256 matrix is never materialized).
    Correlation is 1 when the marginal variance is 0 (skimage's
    degenerate convention)."""
    a = np.asarray(gray_u8, dtype=np.int64)
    if a.shape[1] < 2:
        return 0.0, 0.0, 1.0, 0.0
    i = a[:, :-1].ravel()
    j = a[:, 1:].ravel()
    keys = np.concatenate([i * 256 + j, j * 256 + i])  # symmetric
    uk, cnt = np.unique(keys, return_counts=True)
    tot = float(keys.size)
    x = uk // 256
    y = uk % 256
    p = cnt / tot
    contrast = float((p * (x - y) ** 2).sum())
    homogeneity = float((p / (1.0 + (x - y) ** 2)).sum())
    energy = float(np.sqrt((p * p).sum()))
    pij = float((p * x * y).sum())
    # symmetric P -> identical marginals
    marg = np.zeros(256)
    np.add.at(marg, x, p)
    lv = np.arange(256)
    mu = float((lv * marg).sum())
    var = float(((lv - mu) ** 2 * marg).sum())
    corr = 1.0 if var == 0 else (pij - mu * mu) / var
    return contrast, homogeneity, corr, energy


TEXTURE_SCHEMA_FIELDS = [
    T.StructField(f"c{k}_{name}", T.DoubleType(), True)
    for k in (1, 2, 3)
    for name in ("contrast", "homogeneity", "correlation", "energy")
]


def sub_compartment_texture(
    media: DataFrame,
    params: Sequence[Mapping],
    payload_col: str = "payload",
    mask_col: str = "mask_payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-row cascade → per-compartment GLCM texture (the reference's
    calculate_texture_features, FeatureExtractor.py:500-520: image
    zeroed outside the compartment via bitwise_and, rgb2gray·255 uint8,
    distance-1/angle-0 symmetric normed graycomatrix, graycoprops
    contrast/homogeneity/correlation/energy). Same pure-map plumbing as
    sub_compartment_features."""
    def measure(img: np.ndarray, oh: np.ndarray) -> tuple:
        vals = []
        for c in range(3):
            masked = np.where(oh[..., c : c + 1], img, 0.0)
            vals.extend(glcm_props_numpy(rgb_to_gray_u8(masked)))
        return tuple(vals)

    kernel = _cascade_kernel("sub_compartment_texture", params, measure)
    return per_row_map(
        media, [id_col], [payload_col, mask_col], kernel, TEXTURE_SCHEMA_FIELDS
    )


def _axis_lengths(rr: np.ndarray, cc: np.ndarray) -> tuple[float, float]:
    """skimage regionprops axis_major_length / axis_minor_length: 4·sqrt
    of the inertia-tensor eigenvalues (central second moments per unit
    area) of the component's pixel coordinates."""
    mr, mc = rr.mean(), cc.mean()
    mu20 = ((cc - mc) ** 2).mean()
    mu02 = ((rr - mr) ** 2).mean()
    mu11 = ((cc - mc) * (rr - mr)).mean()
    common = np.sqrt(4.0 * mu11 * mu11 + (mu20 - mu02) ** 2)
    l1 = (mu20 + mu02 + common) / 2.0
    l2 = max((mu20 + mu02 - common) / 2.0, 0.0)
    return 4.0 * np.sqrt(l1), 4.0 * np.sqrt(l2)


def _edge_perimeter(mask: np.ndarray) -> int:
    """4-neighbor boundary EDGE count (the polygon_ring convention —
    documented deviation from regionprops' Freeman-chain contour
    approximation)."""
    lab = np.pad(np.asarray(mask, dtype=bool), 1)
    edges = 0
    for ax, sh in ((0, 1), (0, -1), (1, 1), (1, -1)):
        edges += int((lab & ~np.roll(lab, sh, axis=ax)).sum())
    return edges


MORPH_SCHEMA_FIELDS = [
    T.StructField("c1_area_frac", T.DoubleType(), True),
    T.StructField("c2_area_frac", T.DoubleType(), True),
    T.StructField("c3_area_frac", T.DoubleType(), True),
    T.StructField("nuclei_number", T.LongType(), False),
    T.StructField("nuclei_mean_area", T.DoubleType(), True),
    T.StructField("nuclei_aspect_mean", T.DoubleType(), True),
    T.StructField("nuclei_aspect_std", T.DoubleType(), True),
    T.StructField("object_perimeter", T.LongType(), False),
    T.StructField("object_aspect", T.DoubleType(), True),
]


def sub_compartment_morphology(
    media: DataFrame,
    params: Sequence[Mapping],
    payload_col: str = "payload",
    mask_col: str = "mask_payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-row cascade → the reference's morphological features
    (calculate_morphological_features, FeatureExtractor.py:521-575):
    per-compartment area fractions of the object area, nuclei count
    (8-connected labeling, skimage label's default connectivity=2),
    mean nuclear area, per-nucleus aspect ratio axis_major/axis_minor
    (0 when the minor axis is 0, the reference's convention) with
    nanmean/nanstd over nuclei, total-object perimeter (4-edge-count
    convention — documented deviation from regionprops' Freeman
    approximation) and total-object aspect ratio."""
    nuclei_idx = next(
        (i for i, p in enumerate(params)
         if str(p.get("name", "")).lower() == "nuclei"),
        0,
    )

    def measure(img: np.ndarray, oh: np.ndarray) -> tuple:
        obj = oh.any(axis=-1)
        obj_area = int(obj.sum())
        fracs = [
            float(oh[..., c].sum()) / obj_area if obj_area else 0.0
            for c in range(3)
        ]
        labels, nlab = label_components_numpy(
            oh[..., nuclei_idx], connectivity=8
        )
        aspects = []
        for k in range(1, nlab + 1):
            rr, cc = np.nonzero(labels == k)
            major, minor = _axis_lengths(
                rr.astype(np.float64), cc.astype(np.float64)
            )
            aspects.append(major / minor if minor > 0 else 0.0)
        n_area = float(oh[..., nuclei_idx].sum())
        if obj_area:
            orr, occ = np.nonzero(obj)
            omaj, omin = _axis_lengths(
                orr.astype(np.float64), occ.astype(np.float64)
            )
            obj_aspect = omaj / omin if omin > 0 else 0.0
        else:
            obj_aspect = 0.0
        return (
            *fracs, nlab,
            n_area / nlab if nlab else 0.0,
            float(np.mean(aspects)) if aspects else 0.0,
            float(np.std(aspects)) if aspects else 0.0,
            _edge_perimeter(obj),
            obj_aspect,
        )

    kernel = _cascade_kernel("sub_compartment_morphology", params, measure)
    return per_row_map(
        media, [id_col], [payload_col, mask_col], kernel, MORPH_SCHEMA_FIELDS
    )
