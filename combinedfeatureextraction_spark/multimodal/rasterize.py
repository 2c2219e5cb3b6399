"""Polygon rasterization — the in-UDF payload-geometry path (SURVEY.md X7).

Reference: contours are rasterized to binary masks with cv2.fillPoly /
PIL polygon fill (fextract/extractioncodes/FeatureExtractor.py:313,
extraction_utils/xml_to_mask_minmax.py rasterizer) and the mask feeds
area / centroid / bbox features. cv2/PIL are not in this container, so
the fill is a self-contained numpy even-odd scanline rasterizer — the
same algorithm class fillPoly implements. Every operator here is one
``rowmap.per_row_map`` over a ``*_features_numpy`` kernel. Geometry never
becomes a Spark type: points arrive as ``array<array<numeric>>`` columns
(an (n, 2) numpy view per row), masks live and die inside the kernel,
and only scalar features (area, bbox, centroid) come back — the SURVEY
§1.1 "payload stays Arrow-side" contract. Every kernel returns its own
default tuple for a polygon with fewer than 3 points (NULL and empty
rows included): ``rasterize_polygon_numpy`` gives an empty mask.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from combinedfeatureextraction_spark.multimodal.rowmap import per_row_map


def rasterize_polygon_numpy(points: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Even-odd scanline fill of a closed polygon.

    ``points``: (n, 2) int array of (x, y) vertices. Returns
    (mask, x_min, y_min) where mask is a bool[h, w] in the polygon's
    local frame (the reference's bbox-crop + rebase, FeatureExtractor.py:
    295-305). Pixel-center convention: pixel (r, c) is filled iff its
    center (x_min+c+0.5, y_min+r+0.5) is inside the polygon — matching
    matplotlib.path/cv2 up to boundary ties."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) < 3:
        return np.zeros((0, 0), dtype=bool), 0, 0
    x_min = int(np.floor(pts[:, 0].min()))
    y_min = int(np.floor(pts[:, 1].min()))
    w = int(np.ceil(pts[:, 0].max())) - x_min
    h = int(np.ceil(pts[:, 1].max())) - y_min
    # zero area: all vertices on one line (a diagonal out-and-back too,
    # whose coincident crossing pairs would fill the pixel centres they
    # meet on). Not the signed shoelace sum: a self-crossing bowtie sums
    # to 0 and still covers pixels.
    d = pts - pts[0]
    far = d[np.argmax(np.abs(d).sum(axis=1))]
    if w <= 0 or h <= 0 or not np.any(d[:, 0] * far[1] - d[:, 1] * far[0]):
        return np.zeros((0, 0), dtype=bool), x_min, y_min
    x0, y0 = pts[:, 0], pts[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    # r06: all scanlines at once (the per-row loop paid ~6 numpy calls
    # per row of a tiny bbox). Same crossings, same alternating-pair
    # fill, same ceil/floor column math — value-identical masks.
    yc = y_min + np.arange(h, dtype=np.float64)[:, None] + 0.5  # (h, 1)
    # edges crossing each scanline (half-open [min, max) kills vertex
    # double-counting)
    crosses = ((y0 <= yc) & (y1 > yc)) | ((y1 <= yc) & (y0 > yc))  # (h, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = np.where(
            crosses, x0 + (yc - y0) * ((x1 - x0) / (y1 - y0)), np.inf
        )
    xs.sort(axis=1)  # crossing xs first (ascending), non-crossing +inf last
    # alternating pairs (a, b) = sorted columns (0,1), (2,3), ...
    # (truncate an odd trailing column — crossing counts are even, so an
    # unpaired column is always +inf padding)
    m2 = 2 * (xs.shape[1] // 2)
    a = xs[:, 0:m2:2]
    b = xs[:, 1:m2:2]
    valid = np.isfinite(b)
    c0 = np.clip(np.ceil(a[valid] - x_min - 0.5).astype(np.int64), 0, w)
    c1 = np.clip(
        np.floor(b[valid] - x_min - 0.5).astype(np.int64) + 1, 0, w
    )  # half-open end
    keep = c1 > c0
    rows = np.broadcast_to(
        np.arange(h)[:, None], valid.shape
    )[valid][keep]
    delta = np.zeros((h, w + 1), dtype=np.int64)
    np.add.at(delta, (rows, c0[keep]), 1)
    np.add.at(delta, (rows, c1[keep]), -1)
    mask = np.cumsum(delta, axis=1)[:, :w] > 0
    return mask, x_min, y_min


MASK_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("mask_area", T.LongType(), True),
        T.StructField("bbox_w", T.IntegerType(), True),
        T.StructField("bbox_h", T.IntegerType(), True),
        T.StructField("centroid_x", T.DoubleType(), True),
        T.StructField("centroid_y", T.DoubleType(), True),
    ]
)


def mask_features_numpy(points: np.ndarray) -> tuple:
    mask, x_min, y_min = rasterize_polygon_numpy(points)
    area = int(mask.sum())
    if area == 0:
        return 0, int(mask.shape[1]), int(mask.shape[0]), None, None
    rr, cc = np.nonzero(mask)
    return (
        area,
        int(mask.shape[1]),
        int(mask.shape[0]),
        float(cc.mean() + x_min + 0.5),
        float(rr.mean() + y_min + 0.5),
    )


def polygon_mask_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """id_cols + (mask_area, bbox_w, bbox_h, centroid_x, centroid_y) per
    polygon row via per_row_map — one rasterize per row inside the Arrow
    batch, masks never leave the kernel. Scale: a pure map (no shuffle);
    parallelism = input partitions."""
    return per_row_map(
        df, id_cols, [points_col], mask_features_numpy, MASK_FEATURES_SCHEMA.fields
    )


# -------------------------------------------------- 2-D components

def label_components_numpy(
    mask: np.ndarray, connectivity: int = 4
) -> tuple[np.ndarray, int]:
    """2-D connected-component labeling of a bool mask (run-based
    union-find, two passes) — the in-UDF analog of the reference's
    per-structure sub-segmentation (FeatureExtractor.py:346-354 labels
    the split mask before per-compartment stats; scipy/skimage are not
    in this container, so the labeling is self-contained numpy).

    ``connectivity``: 4 (edge-adjacent, scipy.ndimage.label default) or
    8 (corner-adjacent, cv2 default). Returns (labels, n) with labels in
    1..n numbered by first raster-order appearance (deterministic) and 0
    for background. Row loop is O(h) python over ≤ bbox-height rows of a
    per-element mask — payload-local work inside the Arrow batch, never
    a Spark type."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int64)
    if h == 0 or w == 0:
        return labels, 0
    parent: list[int] = []

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> int:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
        return ra

    # r06: runs for ALL rows from ONE flattened diff (a zero pad column
    # keeps runs from spanning rows) instead of three numpy calls per
    # row — per-call overhead dominated tiny bbox masks (the common
    # polygon case). The union-find pass below sees the identical run
    # sequence in the identical raster order.
    padded = np.zeros((h, w + 1), dtype=np.int8)
    padded[:, :w] = mask
    d = np.diff(np.concatenate(([0], padded.ravel(), [0])))
    g_starts = np.flatnonzero(d == 1)
    g_ends = np.flatnonzero(d == -1)
    run_rows = (g_starts // (w + 1)).tolist()
    run_c0 = (g_starts % (w + 1)).tolist()
    run_c1 = (g_ends - (g_starts // (w + 1)) * (w + 1)).tolist()
    prev_runs: list[tuple[int, int, int]] = []
    row8 = 1 if connectivity == 8 else 0
    i, n_runs = 0, len(run_rows)
    for r in range(h):
        runs: list[tuple[int, int, int]] = []
        while i < n_runs and run_rows[i] == r:
            c0, c1 = run_c0[i], run_c1[i]
            i += 1
            lbl = -1
            for p0, p1, pl in prev_runs:
                # 4-conn: column ranges must overlap; 8-conn: touching
                # diagonally (±1 column) also connects
                if p0 < c1 + row8 and p1 + row8 > c0:
                    lbl = find(pl) if lbl < 0 else union(lbl, pl)
            if lbl < 0:
                lbl = len(parent)
                parent.append(lbl)
            labels[r, c0:c1] = lbl
            runs.append((c0, c1, lbl))
        prev_runs = runs
    if not parent:
        return labels, 0
    # resolve + renumber by first raster appearance (vectorized lut)
    roots = np.array([find(i) for i in range(len(parent))], dtype=np.int64)
    flat = roots[labels[mask]]
    order = pd.unique(flat)
    lut = np.zeros(len(parent), dtype=np.int64)
    lut[order] = np.arange(1, len(order) + 1)
    labels[mask] = lut[flat]
    return labels, len(order)


COMPONENT_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("mask_area", T.LongType(), True),
        T.StructField("n_components", T.IntegerType(), True),
        T.StructField("largest_area", T.LongType(), True),
        T.StructField("largest_cx", T.DoubleType(), True),
        T.StructField("largest_cy", T.DoubleType(), True),
        T.StructField("area_ratio", T.DoubleType(), True),
    ]
)


def component_features_numpy(points: np.ndarray, connectivity: int = 4) -> tuple:
    """Rasterize one polygon and label its 2-D components in the same
    in-UDF pass: even-odd fill of a self-intersecting polygon yields
    MULTIPLE disjoint regions, exactly the reference's split-then-measure
    shape. Returns (mask_area, n_components, largest_area, largest
    centroid x/y in world frame, largest/total area ratio)."""
    mask, x_min, y_min = rasterize_polygon_numpy(points)
    area = int(mask.sum())
    if area == 0:
        return 0, 0, 0, None, None, None
    labels, n = label_components_numpy(mask, connectivity)
    sizes = np.bincount(labels[mask], minlength=n + 1)[1:]
    # tie-break: argmax picks the lowest label = first raster appearance
    big = int(sizes.argmax()) + 1
    rr, cc = np.nonzero(labels == big)
    return (
        area,
        int(n),
        int(sizes[big - 1]),
        float(cc.mean() + x_min + 0.5),
        float(rr.mean() + y_min + 0.5),
        float(sizes[big - 1]) / float(area),
    )


def polygon_component_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """id_cols + COMPONENT_FEATURES_SCHEMA per polygon row: rasterize →
    2-D connected components → per-component measurement, all inside ONE
    per_row_map (masks and label arrays never leave the kernel). Pure map,
    no shuffle; parallelism = input partitions — the 100 TB shape is
    identical to polygon_mask_features."""
    return per_row_map(
        df, id_cols, [points_col],
        component_features_numpy,
        COMPONENT_FEATURES_SCHEMA.fields,
    )


# -------------------------------------------------- 2-D watershed

def _edt_1d_sq(f: np.ndarray) -> np.ndarray:
    """Felzenszwalb & Huttenlocher lower-envelope pass: exact 1-D squared
    distance transform of sampled function f (np.inf allowed)."""
    n = len(f)
    d = np.empty(n)
    v = np.zeros(n, dtype=np.int64)
    z = np.empty(n + 1)
    k = 0
    z[0], z[1] = -np.inf, np.inf
    for q in range(1, n):
        s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2 * q - 2 * v[k])
        while s <= z[k]:
            k -= 1
            s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2 * q - 2 * v[k])
        k += 1
        v[k] = q
        z[k] = s
        z[k + 1] = np.inf
    k = 0
    for q in range(n):
        while z[k + 1] < q:
            k += 1
        d[q] = (q - v[k]) ** 2 + f[v[k]]
    return d


def distance_transform_numpy(mask: np.ndarray) -> np.ndarray:
    """EXACT Euclidean distance transform of a bool mask (distance from
    each True pixel to the nearest False pixel, with everything OUTSIDE
    the array treated as background — the bbox-cropped polygon mask's
    outside IS background). Separable: an O(h) two-sweep column pass
    for vertical run distances, then the Felzenszwalb parabola envelope
    per row — exact EDT, the self-contained dual of
    scipy.ndimage.distance_transform_edt (absent from this container).
    Reference: FeatureExtractor.py:346-349 (cv2.distanceTransform ahead
    of the watershed split)."""
    h, w = mask.shape
    if h == 0 or w == 0:
        return np.zeros((h, w))
    # vertical pass (r06: loop-free): distance (in rows) to the nearest
    # background above/below, virtual background ring outside the array.
    # Nearest background above = r − (index of last background row ≤ r),
    # a per-column running maximum of background row indices (−1 = the
    # virtual ring) — identical values to the former per-row run loops.
    ridx = np.arange(h, dtype=np.float64)[:, None]
    bg = ~mask
    above = np.maximum.accumulate(np.where(bg, ridx, -1.0), axis=0)
    below = np.minimum.accumulate(
        np.where(bg, ridx, float(h))[::-1], axis=0
    )[::-1]
    g = np.minimum(ridx - above, below - ridx)
    g[bg] = 0.0
    # horizontal pass: exact min over (x−v)² + g[v]², padded with a zero
    # (background) sample at both virtual columns. Two physically
    # different evaluations of the SAME minimum (value-identical — min
    # over one float set, no accumulation): narrow rows take one
    # vectorized O(h·w²) matrix min across all rows at once; wide rows
    # keep the O(w) Felzenszwalb envelope per row (the matrix would be
    # O(w²) per row). The 64-column crossover is ~10× under the point
    # where w² cost could matter; tiny polygon masks (the common case)
    # stop paying ~45 µs of per-row python/numpy overhead — measured
    # 0.69 ms → 0.17 ms per 12×26 mask, a shared win for every
    # EDT-backed operator (watershed, edt, ring, subcompartment).
    if w <= 64:
        f = np.zeros((h, w + 2))
        f[:, 1:-1] = g * g
        cols = np.arange(w + 2, dtype=np.float64)
        parab = (cols[:, None] - cols[None, :]) ** 2  # (x, v)
        d = (f[:, None, :] + parab[None, :, :]).min(axis=2)[:, 1:-1]
    else:
        d = np.empty((h, w))
        for r in range(h):
            f = np.empty(w + 2)
            f[0] = f[-1] = 0.0
            f[1:-1] = g[r] ** 2
            d[r] = _edt_1d_sq(f)[1:-1]
    return np.sqrt(d)


def _plateau_maxima_markers(
    dist: np.ndarray,
    mask: np.ndarray,
    rel_peak: float = 0.5,
    connectivity: int = 4,
) -> tuple[np.ndarray, int]:
    """Markers = connected components of the local-maximum PLATEAUS of
    the distance transform (a pixel whose 3×3 neighborhood holds no
    larger value), keeping plateaus whose height is ≥ ``rel_peak`` × the
    maximum distance of their OWN mask component (scale-free prominence
    filter: a thin neck's dist≈1 plateau is suppressed next to a block
    whose core reaches 5, while a small isolated sliver keeps its peak).
    Every mask component contains its own maximum, so every component
    gets ≥ 1 marker. The dual of peak_local_max + label in the reference
    (FeatureExtractor.py:350-352); rel_peak plays min_distance's role of
    suppressing rim noise."""
    h, w = dist.shape
    pad = np.full((h + 2, w + 2), -1.0)
    pad[1:-1, 1:-1] = np.where(mask, dist, -1.0)
    neigh = np.full((h, w), -np.inf)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if dr == 0 and dc == 0:
                continue
            neigh = np.maximum(neigh, pad[1 + dr : h + 1 + dr, 1 + dc : w + 1 + dc])
    labels_all, n_all = label_components_numpy(mask, connectivity)
    comp_max = np.zeros(n_all + 1)
    np.maximum.at(comp_max, labels_all[mask], dist[mask])
    thresh = rel_peak * comp_max[labels_all]
    peaks = mask & (dist >= neigh) & (dist >= thresh)
    markers, n = label_components_numpy(peaks, connectivity)
    return markers, n


def watershed_numpy(
    elev: np.ndarray,
    markers: np.ndarray,
    mask: np.ndarray,
    connectivity: int = 4,
) -> np.ndarray:
    """Priority-flood (immersion) watershed: flood the mask from the
    markers in increasing ``elev`` order (for object splitting pass
    elev = −distance so flooding starts at the peaks); first-arrival
    labels each pixel, FIFO insertion order breaks elevation ties
    deterministically. The self-contained dual of
    skimage.segmentation.watershed / cv2.watershed in the reference's
    split step (FeatureExtractor.py:352-354)."""
    from heapq import heappop, heappush

    # r06 mechanical speedup, order-identical to the (r, c) tuple form:
    # one-pixel padding removes the four bounds checks (outside pad is
    # non-mask), flat indices replace (r, c) pairs, and plain python
    # lists replace per-pixel numpy scalar boxing (same trick as the
    # JPEG LUTs — C-speed scalar indexing). Heap entries compare
    # (elev, counter) exactly as before (counter is unique, so the
    # index term is never compared); neighbor visit order is unchanged.
    h, w = mask.shape
    W = w + 2
    lab_p = np.zeros((h + 2, w + 2), dtype=np.int64)
    lab_p[1:-1, 1:-1] = markers
    msk_p = np.zeros((h + 2, w + 2), dtype=bool)
    msk_p[1:-1, 1:-1] = mask
    elv_p = np.zeros((h + 2, w + 2), dtype=np.float64)
    elv_p[1:-1, 1:-1] = elev
    lab = lab_p.ravel().tolist()
    msk = msk_p.ravel().tolist()
    elv = elv_p.ravel().tolist()
    offs = [-W, W, -1, 1]
    if connectivity == 8:
        offs += [-W - 1, -W + 1, W - 1, W + 1]
    heap: list[tuple[float, int, int]] = []
    counter = 0
    rr, cc = np.nonzero(markers > 0)
    for r, c in zip(rr.tolist(), cc.tolist()):
        p = (r + 1) * W + (c + 1)
        heappush(heap, (elv[p], counter, p))
        counter += 1
    while heap:
        _, _, p = heappop(heap)
        l = lab[p]
        for o in offs:
            q = p + o
            if msk[q] and lab[q] == 0:
                lab[q] = l
                heappush(heap, (elv[q], counter, q))
                counter += 1
    return np.array(lab, dtype=np.int64).reshape(h + 2, W)[1:-1, 1:-1]


WATERSHED_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("mask_area", T.LongType(), True),
        T.StructField("n_objects", T.IntegerType(), True),
        T.StructField("largest_area", T.LongType(), True),
        T.StructField("largest_cx", T.DoubleType(), True),
        T.StructField("largest_cy", T.DoubleType(), True),
        T.StructField("area_ratio", T.DoubleType(), True),
    ]
)


def watershed_features_numpy(
    points: np.ndarray, connectivity: int = 4, rel_peak: float = 0.5
) -> tuple:
    """Rasterize → exact EDT → plateau-maxima markers → priority-flood
    watershed → per-object measurement, one polygon, all in-UDF: the
    full 2-D dual of the reference's touching-object split
    (FeatureExtractor.py:346-354). Returns (mask_area, n_objects,
    largest_area, largest centroid x/y world-frame, largest/total
    ratio)."""
    mask, x_min, y_min = rasterize_polygon_numpy(points)
    area = int(mask.sum())
    if area == 0:
        return 0, 0, 0, None, None, None
    dist = distance_transform_numpy(mask)
    markers, n = _plateau_maxima_markers(dist, mask, rel_peak, connectivity)
    labels = watershed_numpy(-dist, markers, mask, connectivity)
    sizes = np.bincount(labels[mask], minlength=n + 1)[1:]
    big = int(sizes.argmax()) + 1
    rr, cc = np.nonzero(labels == big)
    return (
        area,
        int(n),
        int(sizes[big - 1]),
        float(cc.mean() + x_min + 0.5),
        float(rr.mean() + y_min + 0.5),
        float(sizes[big - 1]) / float(area),
    )


def polygon_watershed_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """id_cols + WATERSHED_FEATURES_SCHEMA per polygon row — same pure-map
    100 TB shape as polygon_component_features: masks, distance fields,
    and label arrays never leave the Arrow batch, no shuffle, parallelism
    = input partitions."""
    return per_row_map(
        df, id_cols, [points_col],
        watershed_features_numpy,
        WATERSHED_FEATURES_SCHEMA.fields,
    )


# ------------------------------------- 2-D reconstruction / hole fill

def reconstruct_2d_numpy(
    marker: np.ndarray, mask: np.ndarray, connectivity: int = 8
) -> np.ndarray:
    """Binary morphological reconstruction of ``marker`` under ``mask``:
    the union of mask components that intersect the marker (the fixpoint
    of iterated dilation-and-clip, computed directly from the component
    labeling instead of iterating). The in-UDF dual of the reference's
    ``imreconstruct`` (extract_ffpe_features.py:6, used to recover
    boundary-touching membrane in process_mc_features.py:95)."""
    marker = marker & mask
    if not marker.any():
        return np.zeros_like(mask)
    labels, n = label_components_numpy(mask, connectivity)
    keep = np.zeros(n + 1, dtype=bool)
    keep[np.unique(labels[marker])] = True
    keep[0] = False
    return keep[labels]


def reconstruct_grayscale_numpy(
    marker: np.ndarray, mask: np.ndarray, connectivity: int = 8
) -> np.ndarray:
    """GRAYSCALE morphological reconstruction by dilation: the fixpoint
    of ``marker = min(dilate1(marker), mask)`` — the standard grayscale
    definition. The reference's ``imreconstruct``
    (extract_ffpe_features.py:6-22) iterates cv2.dilate + cv2.bitwise_and,
    which equals min ONLY for binary masks — and every reference call
    site passes binary masks (process_mc_features.py:95), so this
    min-based version matches the reference exactly on its call sites
    while also being well-defined (and standard) on genuinely grayscale
    inputs, where bitwise_and would not be. Each iteration is one vectorized
    numpy unit dilation (shifted maxima) + clip; iteration count is
    bounded by the longest geodesic propagation path, the same bound
    the reference's loop has. Binary inputs reduce exactly to
    :func:`reconstruct_2d_numpy` (pytest-pinned), which stays the fast
    closed-form path for the binary call sites. Payload-local in-UDF
    work on bbox-cropped masks — arrays never become Spark types."""
    J = np.minimum(np.asarray(marker, dtype=np.float64),
                   np.asarray(mask, dtype=np.float64))
    I = np.asarray(mask, dtype=np.float64)
    h, w = J.shape
    if h == 0 or w == 0:
        return J
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if connectivity == 8:
        offs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    while True:
        d = J.copy()
        for dr, dc in offs:
            src = J[
                max(0, -dr) : h - max(0, dr), max(0, -dc) : w - max(0, dc)
            ]
            tgt = d[max(0, dr) : h + min(0, dr), max(0, dc) : w + min(0, dc)]
            np.maximum(tgt, src, out=tgt)
        np.minimum(d, I, out=d)
        if np.array_equal(d, J):
            return d
        J = d


def fill_holes_numpy(
    mask: np.ndarray, connectivity: int = 4
) -> tuple[np.ndarray, int, int]:
    """Fill background regions not connected to the array border — the
    reference's ``binary_fill_holes`` step ahead of per-object
    measurement (extract_reference_features.py:106,482). Background is
    labeled with the COMPLEMENTARY connectivity convention (4-connected
    foreground pairs with 8-connected background and vice versa — the
    standard digital-topology pairing, matching scipy's default
    structure). Returns (filled_mask, n_holes, hole_area)."""
    h, w = mask.shape
    if h == 0 or w == 0:
        return mask.copy(), 0, 0
    bg_conn = 8 if connectivity == 4 else 4
    bg_labels, n_bg = label_components_numpy(~mask, bg_conn)
    if n_bg == 0:
        return mask.copy(), 0, 0
    border = np.zeros(n_bg + 1, dtype=bool)
    for edge in (bg_labels[0, :], bg_labels[-1, :], bg_labels[:, 0], bg_labels[:, -1]):
        border[np.unique(edge)] = True
    hole = ~border
    hole[0] = False
    hole_mask = hole[bg_labels]
    filled = mask | hole_mask
    n_holes = int(np.count_nonzero(hole[1:]))
    return filled, n_holes, int(hole_mask.sum())


HOLE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("mask_area", T.LongType(), True),
        T.StructField("filled_area", T.LongType(), True),
        T.StructField("n_holes", T.IntegerType(), True),
        T.StructField("hole_area", T.LongType(), True),
    ]
)


def hole_features_numpy(points: np.ndarray, connectivity: int = 4) -> tuple:
    """Rasterize → fill_holes → measure: (mask_area, filled_area,
    n_holes, hole_area), one polygon, in-UDF. Even-odd fill of a ring
    polygon (outer square + inner square traced as one ring) produces an
    annulus whose cavity this op recovers — the reference's
    fill-then-measure shape (extract_reference_features.py:106)."""
    mask, _, _ = rasterize_polygon_numpy(points)
    area = int(mask.sum())
    if area == 0:
        return 0, 0, 0, 0
    filled, n_holes, hole_area = fill_holes_numpy(mask, connectivity)
    return area, int(filled.sum()), n_holes, hole_area


def polygon_hole_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """id_cols + HOLE_FEATURES_SCHEMA per polygon row — same pure-map
    100 TB shape as the other rasterize operators (no shuffle, masks
    in-UDF only)."""
    return per_row_map(
        df, id_cols, [points_col],
        hole_features_numpy,
        HOLE_FEATURES_SCHEMA.fields,
    )


# -------------------------------------------- EDT composite features

EDT_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("mask_area", T.LongType(), True),
        T.StructField("dist_max", T.DoubleType(), True),
        T.StructField("mean_dist", T.DoubleType(), True),
        T.StructField("seg_area", T.LongType(), True),
        T.StructField("seg_dist_max", T.DoubleType(), True),
        T.StructField("luminal_ratio", T.DoubleType(), True),
    ]
)


def edt_features_numpy(points: np.ndarray, rel_thresh: float = 0.3) -> tuple:
    """The reference's artery composite (points_to_features_art,
    extract_reference_features.py:432-503): rasterize → EDT → max
    inscribed radius (distMax) and mean interior distance; then an
    interior segmentation (here the deterministic analog ``dist >
    rel_thresh·distMax`` standing in for the LAB-luminance threshold,
    line 476) intersected with the mask, hole-filled
    (binary_fill_holes, line 482), re-EDT'd, and summarized as the
    luminal ratio max(WSdist)/distMax (line 503). All in-UDF numpy, one
    polygon per row."""
    mask, _, _ = rasterize_polygon_numpy(points)
    area = int(mask.sum())
    if area == 0:
        return 0, None, None, 0, None, None
    dist = distance_transform_numpy(mask)
    dist_max = float(dist.max())
    mean_dist = float(dist[mask].mean())
    seg = mask & (dist > rel_thresh * dist_max)
    seg, _, _ = fill_holes_numpy(seg)
    seg_area = int(seg.sum())
    if seg_area == 0:
        return area, dist_max, mean_dist, 0, None, None
    seg_dist = distance_transform_numpy(seg)
    seg_max = float(seg_dist.max())
    return (
        area,
        dist_max,
        mean_dist,
        seg_area,
        seg_max,
        seg_max / dist_max if dist_max > 0 else None,
    )


def polygon_edt_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """id_cols + EDT_FEATURES_SCHEMA per polygon row — pure map, masks
    and distance fields in-UDF only, same 100 TB shape as the other
    rasterize operators."""
    return per_row_map(
        df, id_cols, [points_col],
        edt_features_numpy,
        EDT_FEATURES_SCHEMA.fields,
    )


# -------------------------------------------------- boundary-ring morphology

RING_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("ring_area", T.LongType(), True),
        T.StructField("ring_perimeter", T.LongType(), True),
        T.StructField("ring_components", T.LongType(), True),
        T.StructField("ring_avg_thickness", T.DoubleType(), True),
    ]
)

_DISK_OFFSETS_CACHE: dict[int, list[tuple[int, int]]] = {}


def _disk_offsets(r: int) -> list[tuple[int, int]]:
    offs = _DISK_OFFSETS_CACHE.get(r)
    if offs is None:
        offs = [
            (i, j)
            for i in range(-r, r + 1)
            for j in range(-r, r + 1)
            if i * i + j * j <= r * r
        ]
        _DISK_OFFSETS_CACHE[r] = offs
    return offs


def _dilate_disk(mask: np.ndarray, r: int) -> np.ndarray:
    """Binary dilation by the discrete Euclidean disk(r) as shifted
    in-bounds slice ORs (no wraparound; cells shifted past the array
    edge fall off, matching set-dilation restricted to the grid)."""
    out = np.zeros_like(mask)
    H, W = mask.shape
    for di, dj in _disk_offsets(r):
        out[max(di, 0) : H + min(di, 0), max(dj, 0) : W + min(dj, 0)] |= (
            mask[max(-di, 0) : H + min(-di, 0), max(-dj, 0) : W + min(-dj, 0)]
        )
    return out


def ring_stats_numpy(
    mask: np.ndarray, radius: int, connectivity: int = 8
) -> tuple:
    """Boundary-ring morphology composite — the reference's TBM-thickness
    shape (process_mc_features.py:83-115): ``ring = dilate(mask,
    disk(r)) \\ erode(dilate(mask, disk(r)), disk(r))`` (binary_dilation /
    binary_erosion with disk(20), the `blim[indel>0]=0` band), then
    per-component area-weighted mean thickness ``area / (perimeter/2)``
    over the ring's connected components (the reference's regionprops
    loop + `tbm_avg` weighted sum, lines 109-115).

    Both morphology halves run as C-speed shifted-slice OR/AND sweeps
    over the cached disk offset set — exactly binary_dilation /
    binary_erosion by definition (erosion via the complement identity
    ``erode(X, B) = ¬dilate(¬X, B)``, valid because the disk is
    symmetric; the grid carries an r+1 margin so the complement's
    background ring is in-array and no virtual-outside convention is
    needed). O(r²) slice ops per image beats the exact-EDT-threshold
    formulation (equivalent result, pytest-pinned) whose per-row Python
    envelope loops dominated the bench. Perimeter is the 4-neighbor
    boundary EDGE count (exact and orientation-free) rather than
    skimage's Freeman-chain contour approximation — documented
    deviation; the thickness SEMANTICS (area over half-perimeter,
    area-weighted mean) match the reference.

    Returns (ring_area, ring_perimeter, n_components, avg_thickness).
    Payload-local in-UDF numpy on a bbox-cropped mask; arrays never
    become Spark types."""
    h, w = mask.shape
    r = int(radius)
    if r <= 0:
        raise ValueError("ring radius must be >= 1")
    if h == 0 or w == 0 or not mask.any():
        return 0, 0, 0, None
    pad = r + 1
    big = np.zeros((h + 2 * pad, w + 2 * pad), dtype=bool)
    big[pad : pad + h, pad : pad + w] = mask
    dil = _dilate_disk(big, r)
    eroded = ~_dilate_disk(~dil, r)
    ring = (dil & ~eroded)[1 : 1 + h + 2 * r, 1 : 1 + w + 2 * r]
    labels, n = label_components_numpy(ring, connectivity)
    if n == 0:
        return 0, 0, 0, None
    areas = np.bincount(labels.ravel(), minlength=n + 1)[1:]
    lab = np.pad(labels, 1)
    per = np.zeros(n + 1, dtype=np.int64)
    for dr, dc in ((-1, 0), (1, 0), (0, -1), (0, 1)):
        nb = np.roll(np.roll(lab, dr, axis=0), dc, axis=1)
        edge = (lab > 0) & (lab != nb)
        per += np.bincount(lab[edge], minlength=n + 1)
    per = per[1:]
    thick = areas / (per / 2.0)
    avg = float((thick * areas).sum() / areas.sum())
    return int(areas.sum()), int(per.sum()), int(n), avg


def ring_features_numpy(
    points: np.ndarray, radius: int, connectivity: int = 8
) -> tuple:
    mask, _, _ = rasterize_polygon_numpy(points)
    return ring_stats_numpy(mask, radius, connectivity)


def polygon_ring_features(
    df: DataFrame,
    points_col: str,
    id_cols: Sequence[str],
    radius: int = 20,
) -> DataFrame:
    """id_cols + RING_FEATURES_SCHEMA per polygon row (default radius 20
    = the reference's disk(20), process_mc_features.py:83). Pure map via
    per_row_map — no shuffle, parallelism = input partitions, the same
    100 TB shape as the other rasterize operators."""
    return per_row_map(
        df, id_cols, [points_col],
        lambda pts: ring_features_numpy(pts, radius),
        RING_FEATURES_SCHEMA.fields,
    )
