"""X7 polygon rasterize — golden shapes + shoelace-area consistency +
Spark mapInPandas plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def test_rectangle_exact():
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        rasterize_polygon_numpy,
    )

    # axis-aligned 4x3 rectangle: every interior pixel center covered
    pts = np.array([[2, 1], [6, 1], [6, 4], [2, 4]])
    mask, x_min, y_min = rasterize_polygon_numpy(pts)
    assert (x_min, y_min) == (2, 1)
    assert mask.shape == (3, 4)
    assert mask.all() and mask.sum() == 12


def test_triangle_half_area():
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        rasterize_polygon_numpy,
    )

    pts = np.array([[0, 0], [40, 0], [0, 40]])
    mask, _, _ = rasterize_polygon_numpy(pts)
    # pixel area ≈ analytic 800, within half-perimeter discretization
    assert abs(int(mask.sum()) - 800) <= 80


def test_area_tracks_shoelace():
    """Random convex-ish polygons: pixel area ≈ shoelace area within a
    perimeter-order boundary band (rasterization discretization bound)."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        rasterize_polygon_numpy,
    )

    rng = np.random.default_rng(3)
    for _ in range(25):
        k = int(rng.integers(3, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(10, 60)
        cx, cy = rng.uniform(70, 130, 2)
        pts = np.stack(
            [cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1
        ).astype(int)
        x, y = pts[:, 0].astype(float), pts[:, 1].astype(float)
        shoelace = abs(
            np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
        ) / 2.0
        mask, _, _ = rasterize_polygon_numpy(pts)
        per = np.sum(np.hypot(np.diff(np.r_[x, x[0]]), np.diff(np.r_[y, y[0]])))
        assert abs(int(mask.sum()) - shoelace) <= per + 4, (pts, shoelace)


def test_degenerate_polygons():
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        mask_features_numpy,
        rasterize_polygon_numpy,
    )

    assert rasterize_polygon_numpy(np.zeros((2, 2)))[0].size == 0
    # collinear: zero area
    assert mask_features_numpy(np.array([[0, 0], [5, 0], [9, 0]]))[0] == 0


def test_polygon_mask_features_spark(spark):
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_mask_features,
    )

    pdf = pd.DataFrame(
        {
            "pid": [1, 2, 3],
            "points": [
                [[2, 1], [6, 1], [6, 4], [2, 4]],  # 4x3 rect
                [[0, 0], [10, 0], [10, 10], [0, 10]],  # 10x10 square
                [[0, 0], [1, 0]],  # degenerate
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        polygon_mask_features(df, "points", ["pid"])
        .toPandas()
        .set_index("pid")
        .sort_index()
    )
    assert out.loc[1, "mask_area"] == 12
    assert (out.loc[1, "bbox_w"], out.loc[1, "bbox_h"]) == (4, 3)
    assert out.loc[1, "centroid_x"] == pytest.approx(4.0)
    assert out.loc[1, "centroid_y"] == pytest.approx(2.5)
    assert out.loc[2, "mask_area"] == 100
    assert out.loc[3, "mask_area"] == 0


def _bfs_components(mask, connectivity=4):
    """Independent oracle: plain BFS flood fill (no shared code with the
    run-based union-find in rasterize.label_components_numpy)."""
    import numpy as np
    from collections import deque

    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    if connectivity == 4:
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    else:
        nbrs = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                if (dr, dc) != (0, 0)]
    comps = []
    for r in range(h):
        for c in range(w):
            if mask[r, c] and not seen[r, c]:
                q = deque([(r, c)])
                seen[r, c] = True
                comp = []
                while q:
                    cr, cc = q.popleft()
                    comp.append((cr, cc))
                    for dr, dc in nbrs:
                        nr, nc = cr + dr, cc + dc
                        if (0 <= nr < h and 0 <= nc < w
                                and mask[nr, nc] and not seen[nr, nc]):
                            seen[nr, nc] = True
                            q.append((nr, nc))
                comps.append(frozenset(comp))
    return set(comps)


def test_label_components_matches_bfs_oracle():
    """Partition parity of the run-based union-find labeler against an
    independent BFS flood fill, both connectivities, random masks."""
    import numpy as np
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        label_components_numpy,
    )

    rng = np.random.default_rng(7)
    for trial in range(40):
        h, w = rng.integers(1, 18, size=2)
        mask = rng.random((h, w)) < rng.uniform(0.2, 0.8)
        for conn in (4, 8):
            labels, n = label_components_numpy(mask.copy(), conn)
            got = {
                frozenset(zip(*np.nonzero(labels == k)))
                for k in range(1, n + 1)
            }
            want = _bfs_components(mask, conn)
            assert got == want, (trial, conn, mask)
            # labels deterministic: 1..n by first raster appearance
            first_rows = [
                min(np.flatnonzero(labels.ravel() == k))
                for k in range(1, n + 1)
            ]
            assert first_rows == sorted(first_rows)


def test_polygon_component_features_bowtie(spark):
    """A self-intersecting bowtie under even-odd fill yields two disjoint
    lobes — the rasterize → 2-D-components → measure pipeline must see 2
    components; a plain rectangle sees 1."""
    import pandas as pd
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_component_features,
    )

    bowtie = [[0, 0], [10, 8], [10, 0], [0, 8]]
    rect = [[0, 0], [10, 0], [10, 8], [0, 8]]
    df = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "points": [bowtie, rect]})
    )
    out = {
        r["pid"]: r
        for r in polygon_component_features(df, "points", ["pid"]).collect()
    }
    assert out[1]["n_components"] == 2
    assert out[2]["n_components"] == 1
    assert out[2]["largest_area"] == out[2]["mask_area"] == 80
    assert abs(out[1]["area_ratio"] - 0.5) < 0.2  # two similar lobes
    assert out[1]["largest_area"] < out[1]["mask_area"]


# -------------------------------------------------- 2-D watershed


def test_edt_matches_bruteforce():
    """Exact-EDT parity: the separable transform must equal the O(N·M)
    brute-force nearest-background distance on random masks: narrow
    ones, ones 65-200 px wide (several row blocks per mask) at densities
    from speckle to near-solid, and one 300 px wide mask whose rows split
    into several column blocks."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        distance_transform_numpy,
    )

    rng = np.random.default_rng(5)
    cases = [(*rng.integers(3, 16, 2), 0.65) for _ in range(6)]
    for density in (0.6, 0.9, 0.98, 0.995):
        cases.append((rng.integers(20, 90), rng.integers(65, 201), density))
    cases.append((7, 300, 0.99))
    for h, w, density in cases:
        mask = rng.random((h, w)) < density
        got = distance_transform_numpy(mask)
        # brute force on the padded mask (virtual background ring), one
        # row of pixels against every background pixel at a time
        pad = np.zeros((h + 2, w + 2), dtype=bool)
        pad[1:-1, 1:-1] = mask
        bg = np.argwhere(~pad)
        cc = np.arange(1, w + 1)
        want = np.zeros((h, w))
        for r in range(h):
            d2 = (bg[None, :, 0] - (r + 1)) ** 2 + (bg[None, :, 1] - cc[:, None]) ** 2
            want[r] = np.where(mask[r], np.sqrt(d2.min(axis=1)), 0.0)
        assert np.array_equal(got, want), (h, w)


def test_watershed_invariants_random_masks():
    """On random masks: flood labels cover the mask exactly, every marker
    keeps its own label, each watershed region is connected, and region
    count equals marker count."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        _plateau_maxima_markers,
        distance_transform_numpy,
        label_components_numpy,
        watershed_numpy,
    )

    rng = np.random.default_rng(9)
    for conn in (4, 8):
        for _ in range(4):
            h, w = rng.integers(4, 20, 2)
            mask = rng.random((h, w)) < 0.6
            if not mask.any():
                continue
            dist = distance_transform_numpy(mask)
            markers, n = _plateau_maxima_markers(dist, mask, connectivity=conn)
            labels = watershed_numpy(-dist, markers, mask, conn)
            # coverage: labeled iff mask
            assert ((labels > 0) == mask).all()
            # markers preserved
            sel = markers > 0
            assert (labels[sel] == markers[sel]).all()
            assert set(np.unique(labels[mask])) == set(range(1, n + 1))
            # each region connected under the SAME connectivity used to
            # flood (flooding only steps to adjacent pixels)
            for k in range(1, n + 1):
                _, nk = label_components_numpy(labels == k, conn)
                assert nk == 1, (conn, k)


def test_watershed_splits_dumbbell(spark):
    """Two 10×12 blocks joined by a thin neck: EDT peaks in the block
    centers, watershed splits at the neck → 2 objects of similar area; a
    plain rectangle stays 1 object covering the whole mask."""
    import pandas as pd
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_watershed_features,
    )

    A, N, H, t = 10, 6, 12, 1
    yc = H // 2
    dumbbell = [
        [0, 0], [A, 0], [A, yc - t], [A + N, yc - t], [A + N, 0],
        [2 * A + N, 0], [2 * A + N, H], [A + N, H], [A + N, yc + t],
        [A, yc + t], [A, H], [0, H],
    ]
    rect = [[0, 0], [12, 0], [12, 9], [0, 9]]
    df = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "points": [dumbbell, rect]})
    )
    out = {
        r["pid"]: r
        for r in polygon_watershed_features(df, "points", ["pid"]).collect()
    }
    assert out[1]["n_objects"] == 2
    # two similar lobes: largest is about half the mass
    assert 0.35 < out[1]["area_ratio"] < 0.65
    assert out[2]["n_objects"] == 1
    assert out[2]["largest_area"] == out[2]["mask_area"] == 108
    # largest centroid sits inside one of the dumbbell blocks, not the neck
    assert not (A < out[1]["largest_cx"] < A + N)


# ------------------------------- 2-D reconstruction / hole filling


def test_reconstruct_matches_bfs():
    """Binary reconstruction parity vs an independent iterated
    dilate-and-clip reference on random marker/mask pairs."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        reconstruct_2d_numpy,
    )

    rng = np.random.default_rng(13)
    for conn in (4, 8):
        offs = [(-1, 0), (1, 0), (0, -1), (0, 1)] + (
            [(-1, -1), (-1, 1), (1, -1), (1, 1)] if conn == 8 else []
        )
        for _ in range(5):
            h, w = rng.integers(4, 18, 2)
            mask = rng.random((h, w)) < 0.55
            marker = mask & (rng.random((h, w)) < 0.15)
            got = reconstruct_2d_numpy(marker, mask, conn)
            # reference: BFS flood from marker through mask
            want = marker.copy()
            frontier = list(map(tuple, np.argwhere(want)))
            while frontier:
                r, c = frontier.pop()
                for dr, dc in offs:
                    nr, nc = r + dr, c + dc
                    if 0 <= nr < h and 0 <= nc < w and mask[nr, nc] and not want[nr, nc]:
                        want[nr, nc] = True
                        frontier.append((nr, nc))
            assert (got == want).all(), conn


def test_fill_holes_matches_border_flood():
    """Hole filling parity vs an independent flood-from-border reference
    (background reachable from the border stays background, the rest
    fills), under the complementary-connectivity convention."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        fill_holes_numpy,
    )

    rng = np.random.default_rng(21)
    for conn, bg_offs in (
        (4, [(-1, 0), (1, 0), (0, -1), (0, 1),
             (-1, -1), (-1, 1), (1, -1), (1, 1)]),   # fg 4 ↔ bg 8
        (8, [(-1, 0), (1, 0), (0, -1), (0, 1)]),     # fg 8 ↔ bg 4
    ):
        for _ in range(5):
            h, w = rng.integers(4, 18, 2)
            mask = rng.random((h, w)) < 0.6
            filled, n_holes, hole_area = fill_holes_numpy(mask, conn)
            reach = np.zeros((h, w), dtype=bool)
            frontier = []
            for r in range(h):
                for c in range(w):
                    if (r in (0, h - 1) or c in (0, w - 1)) and not mask[r, c]:
                        reach[r, c] = True
                        frontier.append((r, c))
            while frontier:
                r, c = frontier.pop()
                for dr, dc in bg_offs:
                    nr, nc = r + dr, c + dc
                    if 0 <= nr < h and 0 <= nc < w and not mask[nr, nc] and not reach[nr, nc]:
                        reach[nr, nc] = True
                        frontier.append((nr, nc))
            want = mask | (~mask & ~reach)
            assert (filled == want).all(), conn
            assert hole_area == int((~mask & ~reach).sum())


def test_polygon_hole_features_annulus(spark):
    """An annulus (outer + inner square traced as one even-odd ring) has
    exactly one hole; fill recovers the full outer square."""
    import pandas as pd
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        polygon_hole_features,
    )

    annulus = [
        [0, 0], [12, 0], [12, 12], [0, 12], [0, 0],
        [3, 3], [9, 3], [9, 9], [3, 9], [3, 3],
    ]
    rect = [[0, 0], [10, 0], [10, 6], [0, 6]]
    df = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "points": [annulus, rect]})
    )
    out = {
        r["pid"]: r for r in polygon_hole_features(df, "points", ["pid"]).collect()
    }
    assert out[1]["n_holes"] == 1
    assert out[1]["filled_area"] == 144
    assert out[1]["mask_area"] == 144 - 36
    assert out[1]["hole_area"] == 36
    assert out[2]["n_holes"] == 0
    assert out[2]["filled_area"] == out[2]["mask_area"] == 60


def test_edt_features_rectangle_closed_form():
    """Artery-composite features on a 10×7 rectangle match the axis-
    aligned closed form (EDT = min(r+1, h−r, c+1, w−c))."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        edt_features_numpy,
    )

    w, h = 10, 7
    pts = np.array([[0, 0], [w, 0], [w, h], [0, h]])
    area, dmax, dmean, seg_area, seg_max, ratio = edt_features_numpy(pts)
    dm = min((w + 1) // 2, (h + 1) // 2)
    cells = [
        min(r + 1, h - r, c + 1, w - c) for r in range(h) for c in range(w)
    ]
    mg = int(np.floor(0.3 * dm))
    wi, hi = w - 2 * mg, h - 2 * mg
    assert area == w * h
    assert dmax == dm
    assert abs(dmean - np.mean(cells)) < 1e-12
    assert seg_area == wi * hi
    assert seg_max == min((wi + 1) // 2, (hi + 1) // 2)
    assert abs(ratio - seg_max / dm) < 1e-12


def test_edt_features_nonconvex_consistency():
    """On a non-convex L-shape the composite must agree with a direct
    numpy recomputation through the same public primitives (EDT parity
    itself is brute-force-tested separately)."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        distance_transform_numpy,
        edt_features_numpy,
        fill_holes_numpy,
        rasterize_polygon_numpy,
    )

    pts = np.array([[0, 0], [12, 0], [12, 5], [5, 5], [5, 12], [0, 12]])
    area, dmax, dmean, seg_area, seg_max, ratio = edt_features_numpy(pts)
    mask, _, _ = rasterize_polygon_numpy(pts)
    dist = distance_transform_numpy(mask)
    assert area == int(mask.sum()) and dmax == float(dist.max())
    seg = mask & (dist > 0.3 * dist.max())
    seg, _, _ = fill_holes_numpy(seg)
    assert seg_area == int(seg.sum())
    assert seg_max == float(distance_transform_numpy(seg).max())


def test_watershed_fixture_closed_form():
    """Pins the polygon_watershed ORACLE's analytic claim against the
    numpy kernel for every sf0.01 fixture row: the symmetric dumbbell
    (equal blocks a x hh, even 6 x 2 neck) splits at the neck midpoint,
    the equal basins tie, and argmax keeps the LEFT basin (lowest
    label). If the flood's tie-break or marker numbering ever changes,
    this trips BEFORE the driver gate does."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        watershed_features_numpy,
    )

    for v in range(500):
        x0, y0 = (v * 7) % 50, (v * 13) % 50
        a, hh = (v * 3) % 8 + 8, (v * 5) % 6 + 10
        if v % 2 == 0:
            pts = [(x0, y0), (x0 + a, y0), (x0 + a, y0 + hh), (x0, y0 + hh)]
            exp = (a * hh, 1, a * hh, x0 + a / 2, y0 + hh / 2, 1.0)
        else:
            nk, yc = 6, y0 + hh // 2
            pts = [
                (x0, y0), (x0 + a, y0), (x0 + a, yc - 1),
                (x0 + a + nk, yc - 1), (x0 + a + nk, y0),
                (x0 + 2 * a + nk, y0), (x0 + 2 * a + nk, y0 + hh),
                (x0 + a + nk, y0 + hh), (x0 + a + nk, yc + 1),
                (x0 + a, yc + 1), (x0 + a, y0 + hh), (x0, y0 + hh),
            ]
            blk, nkh = a * hh, nk // 2 * 2
            exp = (
                2 * a * hh + 2 * nk, 2, blk + nkh,
                (blk * (x0 + a / 2) + nkh * (x0 + a + nk / 4)) / (blk + nkh),
                (blk * (y0 + hh / 2) + nkh * yc) / (blk + nkh),
                0.5,
            )
        got = watershed_features_numpy(np.array(pts))
        assert got[:3] == exp[:3], (v, got, exp)
        assert abs(got[3] - exp[3]) < 1e-9 and abs(got[4] - exp[4]) < 1e-9
        assert abs(got[5] - exp[5]) < 1e-12


def test_component_fixture_closed_form():
    """Same pin for the polygon_components oracle: two disjoint
    rectangles traced as one even-odd ring via a horizontal retraced
    bridge rasterize to exactly the two rectangles (horizontal edges
    never cross a scanline), the wider right rectangle is the unique
    largest component."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        component_features_numpy,
    )

    for v in range(1, 500, 2):
        x0, y0 = (v * 7) % 50, (v * 13) % 50
        w, h = (v * 3) % 20 + 2, (v * 5) % 20 + 2
        x1, w2 = x0 + w + 2, w + 2
        pts = [
            (x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h),
            (x0, y0), (x1, y0), (x1 + w2, y0), (x1 + w2, y0 + h),
            (x1, y0 + h), (x1, y0),
        ]
        area, n, largest, cx, cy, ratio = component_features_numpy(np.array(pts))
        assert (area, n, largest) == ((2 * w + 2) * h, 2, w2 * h), v
        assert abs(cx - (x1 + w2 / 2)) < 1e-9 and abs(cy - (y0 + h / 2)) < 1e-9
        assert abs(ratio - w2 * h / ((2 * w + 2) * h)) < 1e-12


def test_reconstruct_grayscale_vs_widest_path_oracle():
    """Grayscale reconstruction parity against an INDEPENDENT algorithm:
    R(p) = max over seeds q of min(marker(q), bottleneck of mask along a
    path q->p), computed by a Dijkstra-style widest-path flood — a
    different construction than the dilate-clip fixpoint under test."""
    import heapq

    from combinedfeatureextraction_spark.multimodal.rasterize import (
        reconstruct_grayscale_numpy,
    )

    def widest_path_reconstruct(marker, mask, connectivity=8):
        h, w = mask.shape
        best = np.minimum(marker, mask).astype(np.float64)
        offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
        if connectivity == 8:
            offs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
        heap = [(-best[r, c], r, c) for r in range(h) for c in range(w)]
        heapq.heapify(heap)
        while heap:
            nv, r, c = heapq.heappop(heap)
            v = -nv
            if v < best[r, c]:
                continue
            for dr, dc in offs:
                nr, nc = r + dr, c + dc
                if 0 <= nr < h and 0 <= nc < w:
                    cand = min(v, mask[nr, nc])
                    if cand > best[nr, nc]:
                        best[nr, nc] = cand
                        heapq.heappush(heap, (-cand, nr, nc))
        return best

    rng = np.random.default_rng(23)
    for conn in (4, 8):
        for _ in range(6):
            mask = rng.integers(0, 6, (9, 11)).astype(np.float64)
            marker = np.where(
                rng.random((9, 11)) < 0.15, mask, 0.0
            )  # sparse seeds under the mask
            got = reconstruct_grayscale_numpy(marker, mask, conn)
            exp = widest_path_reconstruct(marker, mask, conn)
            assert np.array_equal(got, exp), conn
            # invariants: marker∧mask <= R <= mask; idempotent
            assert (got >= np.minimum(marker, mask) - 1e-12).all()
            assert (got <= mask + 1e-12).all()
            assert np.array_equal(
                reconstruct_grayscale_numpy(got, mask, conn), got
            )


def test_reconstruct_grayscale_reduces_to_binary():
    """On 0/1 inputs the grayscale fixpoint equals the closed-form
    binary reconstruction (the fast path the call sites use)."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        reconstruct_2d_numpy,
        reconstruct_grayscale_numpy,
    )

    rng = np.random.default_rng(29)
    for conn in (4, 8):
        for _ in range(6):
            mask = rng.random((10, 12)) < 0.55
            marker = mask & (rng.random((10, 12)) < 0.2)
            gray = reconstruct_grayscale_numpy(
                marker.astype(float), mask.astype(float), conn
            )
            assert np.array_equal(gray > 0.5, reconstruct_2d_numpy(marker, mask, conn)), conn


def _brute_ring(mask, r):
    """Reference-shaped brute force: explicit disk-offset dilation, then
    erosion of the dilation by the same disk (process_mc_features.py:
    83-90), on a grid padded far enough that nothing clips."""
    offs = [
        (i, j)
        for i in range(-r, r + 1)
        for j in range(-r, r + 1)
        if i * i + j * j <= r * r
    ]
    h, w = mask.shape
    big = np.zeros((h + 4 * r, w + 4 * r), bool)
    big[2 * r : 2 * r + h, 2 * r : 2 * r + w] = mask
    dil = np.zeros_like(big)
    for i, j in offs:
        dil |= np.roll(np.roll(big, i, 0), j, 1)
    ero = np.ones_like(big)
    for i, j in offs:
        ero &= np.roll(np.roll(dil, i, 0), j, 1)
    return dil & ~ero


def test_ring_stats_matches_bruteforce_morphology():
    """ring_stats_numpy's separable dilate/erode must equal explicit
    disk-offset morphology (area + perimeter + component count) on
    random blobs and rectangles at r = 2, 3, and at the operator's
    default disk(20) on a rectangle, sparse blobs, a rasterized star
    polygon and one mask wider than 64 px."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        rasterize_polygon_numpy,
        ring_stats_numpy,
    )

    rng = np.random.default_rng(31)
    cases = [np.ones((5, 7), bool), np.ones((1, 9), bool)]
    for _ in range(5):
        cases.append(rng.random((12, 14)) < 0.25)
    runs = [(r, mask) for r in (2, 3) for mask in cases]
    ang = np.sort(rng.uniform(0, 2 * np.pi, 17))
    rad = 14 * rng.uniform(0.6, 1.1, 17)
    star, _, _ = rasterize_polygon_numpy(
        np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
    )
    wide = rng.random((30, 90)) < 0.05
    wide[10:20, 5:85] = True
    for mask in (np.ones((6, 9), bool), rng.random((12, 14)) < 0.1, star, wide):
        runs.append((20, mask))
    for r, mask in runs:
        if not mask.any():
            continue
        ring = _brute_ring(mask, r)
        area, per, n, avg = ring_stats_numpy(mask, r)
        assert area == int(ring.sum()), (r, mask.shape, mask.sum())
        # 4-edge perimeter of the whole ring, brute counted
        lab = np.pad(ring, 1)
        edges = 0
        for ax, sh in ((0, 1), (0, -1), (1, 1), (1, -1)):
            edges += int((lab & ~np.roll(lab, sh, axis=ax)).sum())
        assert per == edges, (r, mask.shape)
        assert avg is None or avg > 0


def test_ring_weighted_thickness_two_components():
    """Two far-apart rectangles in one mask → two ring components; the
    avg must be the reference's area-weighted mean of per-component
    area/(perimeter/2) (process_mc_features.py:109-115), closed-form:
    ring_j = 2r(w+h)+4Q(r), per_j = 4(w+h)+8r."""
    from combinedfeatureextraction_spark.multimodal.rasterize import (
        ring_stats_numpy,
    )

    r = 3
    Q = sum(int(np.floor(np.sqrt(r * r - i * i))) for i in range(1, r + 1))
    mask = np.zeros((40, 40), bool)
    rects = [(2, 2, 6, 4), (2, 25, 10, 12)]  # (row0, col0, h, w)
    exp = []
    for r0, c0, hh, ww in rects:
        mask[r0 : r0 + hh, c0 : c0 + ww] = True
        a = 2 * r * (ww + hh) + 4 * Q
        p = 4 * (ww + hh) + 8 * r
        exp.append((a, p))
    area, per, n, avg = ring_stats_numpy(mask, r)
    assert n == 2
    assert area == sum(a for a, _ in exp)
    assert per == sum(p for _, p in exp)
    thick = [a / (p / 2.0) for a, p in exp]
    areas = [a for a, _ in exp]
    want = sum(t * a for t, a in zip(thick, areas)) / sum(areas)
    assert abs(avg - want) < 1e-12


# the per-family tuples a polygon with fewer than 3 points (or a NULL
# points array) has always produced
_DEGENERATE = {
    "polygon_mask_features": (0, 0, 0, None, None),
    "polygon_component_features": (0, 0, 0, None, None, None),
    "polygon_watershed_features": (0, 0, 0, None, None, None),
    "polygon_hole_features": (0, 0, 0, 0),
    "polygon_edt_features": (0, None, None, 0, None, None),
    "polygon_ring_features": (0, 0, 0, None),
}


@pytest.mark.parametrize(
    "op, kernel, schema, args",
    [
        ("polygon_mask_features", "mask_features_numpy",
         "MASK_FEATURES_SCHEMA", ()),
        ("polygon_component_features", "component_features_numpy",
         "COMPONENT_FEATURES_SCHEMA", (4,)),
        ("polygon_watershed_features", "watershed_features_numpy",
         "WATERSHED_FEATURES_SCHEMA", (4, 0.5)),
        ("polygon_hole_features", "hole_features_numpy",
         "HOLE_FEATURES_SCHEMA", (4,)),
        ("polygon_edt_features", "edt_features_numpy",
         "EDT_FEATURES_SCHEMA", (0.3,)),
        ("polygon_ring_features", "ring_features_numpy",
         "RING_FEATURES_SCHEMA", (20,)),
    ],
)
def test_polygon_operators_null_and_degenerate_rows(
    spark, op, kernel, schema, args
):
    """NULL, empty and 2-point rows give each family's zero-area tuple
    through Spark; a rectangle gives the kernel's own tuple (operator
    defaults = ``args``); the output schema is the key's input field plus
    the family schema."""
    from pyspark.sql import types as T

    from combinedfeatureextraction_spark.multimodal import rasterize

    rect = [[2, 1], [9, 1], [9, 6], [2, 6]]
    in_schema = T.StructType([
        T.StructField("pid", T.LongType(), False),
        T.StructField("points", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ])
    df = spark.createDataFrame(
        [(1, None), (2, []), (3, [[0, 0], [5, 5]]), (4, rect)], in_schema
    )
    out = getattr(rasterize, op)(df, "points", ["pid"], *args)
    fam = getattr(rasterize, schema)
    assert out.schema == T.StructType([in_schema["pid"]] + fam.fields)
    got = {r["pid"]: tuple(r)[1:] for r in out.collect()}
    for pid in (1, 2, 3):
        assert got[pid] == _DEGENERATE[op], pid
    assert got[4] == getattr(rasterize, kernel)(np.array(rect), *args)
