"""Dense pairwise bounding-box kernels (numpy, float64).

Re-expresses the geometry math of the reference (``utils.py:20-68``,
``DLA.py:478-483``) as standalone functions. The opt-in visual merges
(``merges.merge_formula_text`` / ``merge_text_figure_table``, run only
with ``merge_visual``) use them inside the per-turn Arrow-batched UDFs.

The default path does not: the duplicate filter and XY-cut in
``merges.py`` compute the same inclusion and union arithmetic in plain
Python over the page's float64 coordinates. A pdf-layout page holds
3-9 boxes, and at that size numpy's per-call overhead (array creation,
broadcasting, ``fill_diagonal``) cost more than the arithmetic: dropping
it took a pdf-layout turn from 1.1-1.7 ms to 0.5-0.6 ms on one core of a
4-CPU VM. The corpus-scale analog of these pairwise predicates would be
a range self-join, which the pipeline never needs because blocks never
cross turn boundaries.

Boxes are ``(N, 4)`` arrays in ``(x0, y0, x1, y1)`` order.
"""

from __future__ import annotations

import numpy as np


def box_areas(boxes: np.ndarray) -> np.ndarray:
    """Per-box area ``(x1-x0)*(y1-y0)``. Analog of ``utils.py:20-21``."""
    b = np.asarray(boxes, dtype=np.float64)
    return (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])


def pairwise_stats(boxes: np.ndarray):
    """All-pairs (areas, intersection, union) via broadcasting.

    Analog of ``utils.py:23-41``. Returns ``(area[N], inter[N,N],
    union[N,N])`` where ``inter[i, j]`` is the intersection area of boxes
    i and j.
    """
    b = np.asarray(boxes, dtype=np.float64)
    area = box_areas(b)
    lo = np.maximum(b[:, None, :2], b[None, :, :2])
    hi = np.minimum(b[:, None, 2:], b[None, :, 2:])
    wh = np.clip(hi - lo, 0.0, None)
    inter = wh[:, :, 0] * wh[:, :, 1]
    union = area[:, None] + area[None, :] - inter
    return area, inter, union


def pairwise_iou(boxes: np.ndarray, zero_diag: bool = False) -> np.ndarray:
    """Symmetric IoU matrix. Analog of ``utils.py:44-55``."""
    _, inter, union = pairwise_stats(boxes)
    # zero union ⇒ zero intersection, so a tiny floor on the denominator
    # yields exactly 0 there and the identical quotient everywhere else
    # (cheaper than errstate+where on the hot path)
    iou = inter / np.maximum(union, 1e-300)
    if zero_diag:
        np.fill_diagonal(iou, 0.0)
    return iou


def pairwise_inclusion(boxes: np.ndarray, zero_diag: bool = False) -> np.ndarray:
    """Asymmetric inclusion matrix: ``incl[i, j] = inter(i, j) / area(j)``
    — the fraction of box *j* covered by box *i*'s intersection with it.

    This is the matrix that drives every merge pass; the convention
    (divide by the *column* box's area) matches the reference's
    broadcasting (``utils.py:58-68``: ``area_inter / area`` divides along
    the last axis), so ``row i`` scores "how much of each candidate lies
    inside base i".
    """
    area, inter, _ = pairwise_stats(boxes)
    # zero-area box ⇒ zero intersection, so the floored denominator is exact
    incl = inter / np.maximum(area[None, :], 1e-300)
    if zero_diag:
        np.fill_diagonal(incl, 0.0)
    return incl


def vertical_iou(boxes: np.ndarray) -> np.ndarray:
    """IoU of the boxes' *y*-intervals only (x extents flattened to a
    constant [0, 1] strip). Analog of ``DLA.py:478-483``: two boxes are
    "vertically aligned" when their vertical extents overlap.
    """
    b = np.asarray(boxes, dtype=np.float64).copy()
    b[:, 0] = 0.0
    b[:, 2] = 1.0
    return pairwise_iou(b, zero_diag=False)


def union_box(boxes: np.ndarray) -> np.ndarray:
    """MIN/MAX fold over a group of boxes (the A1 box-union aggregate,
    ``DLA.py:495-506``)."""
    b = np.asarray(boxes, dtype=np.float64)
    return np.array([b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()])
