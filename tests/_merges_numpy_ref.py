"""Frozen numpy reference of the pdf-layout page kernel.

A verbatim copy of the dense-numpy ``preprocess_page``,
``merge_object_pair``, ``run_duplicate_filter`` and ``xy_cut_order``
(plus the geometry helpers they called) as they stood before the kernel
moved to plain Python. ``tests/test_merges_equivalence.py`` proves the
live functions return exactly what these return. Test-only: nothing in
the package imports this module, and it must not be edited to follow a
change in the live kernel.
"""

from __future__ import annotations

import contextlib
from typing import List, Sequence
from unittest import mock

import numpy as np

from ocr_pipeline_fastapi_latency_optimization_spark.functions import extract
from ocr_pipeline_fastapi_latency_optimization_spark.functions.merges import (
    DEFAULT_CONF,
    DEFAULT_IOU,
    MAP_LABELS,
    PAD_FRACTION,
    PageBlocks,
    merge_formula_text,
    merge_text_figure_table,
)


def _pairwise_inclusion(boxes: np.ndarray) -> np.ndarray:
    b = np.asarray(boxes, dtype=np.float64)
    area = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    lo = np.maximum(b[:, None, :2], b[None, :, :2])
    hi = np.minimum(b[:, None, 2:], b[None, :, 2:])
    wh = np.clip(hi - lo, 0.0, None)
    inter = wh[:, :, 0] * wh[:, :, 1]
    incl = inter / np.maximum(area[None, :], 1e-300)
    np.fill_diagonal(incl, 0.0)
    return incl


def _union_box(boxes: np.ndarray) -> np.ndarray:
    b = np.asarray(boxes, dtype=np.float64)
    return np.array([b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()])


def preprocess_page(
    raw_blocks: Sequence[dict],
    width: float,
    height: float,
    conf_threshold: float = DEFAULT_CONF,
) -> PageBlocks:
    kept = [
        b
        for b in raw_blocks
        if float(b.get("conf", 1.0)) >= conf_threshold and "bbox" in b
    ]
    kept.sort(key=lambda b: -float(b.get("conf", 1.0)))
    n = len(kept)
    boxes = np.zeros((n, 4), dtype=np.int64)
    conf = np.zeros(n, dtype=np.float64)
    classes: List[str] = []
    texts: List[str] = []
    pad = min(float(width), float(height)) * PAD_FRACTION
    for i, b in enumerate(kept):
        x0, y0, x1, y1 = (float(v) for v in b["bbox"])
        cls = MAP_LABELS.get(str(b.get("label", "text")), "text")
        if cls in ("table", "formula", "figure"):
            x0, y0 = max(0.0, x0 - pad), max(0.0, y0 - pad)
            x1, y1 = min(float(width), x1 + pad), min(float(height), y1 + pad)
        boxes[i] = (int(x0), int(y0), int(x1), int(y1))
        conf[i] = float(b.get("conf", 1.0))
        classes.append(cls)
        texts.append(str(b.get("text", "")))
    return PageBlocks(boxes=boxes, conf=conf, classes=classes, texts=texts)


def _merge_text_into(texts: List[str], base: int, merged: Sequence[int]) -> None:
    parts = [texts[base]] + [texts[j] for j in merged if texts[j]]
    texts[base] = "\n".join(p for p in parts if p != "") if any(parts) else texts[base]


def merge_object_pair(
    page: PageBlocks,
    rlabel,
    tlabel=None,
    threshold: float = 0.0,
) -> PageBlocks:
    rset = frozenset([rlabel] if isinstance(rlabel, str) else rlabel)
    tset = (
        None
        if tlabel is None
        else frozenset([tlabel] if isinstance(tlabel, str) else tlabel)
    )
    page = PageBlocks(
        page.boxes.copy(), page.conf.copy(), list(page.classes), list(page.texts)
    )
    while True:
        n = len(page)
        if n <= 1:
            return page
        cls = page.classes
        is_base = np.fromiter((c in rset for c in cls), dtype=bool, count=n)
        if not is_base.any():
            return page
        tmask = (
            None
            if tset is None
            else np.fromiter((c in tset for c in cls), dtype=bool, count=n)
        )
        if tmask is not None and not tmask.any():
            return page
        incl = _pairwise_inclusion(page.boxes)
        keep = np.ones(n, dtype=bool)
        changed = False
        class_masks = (
            {
                c: np.fromiter((x == c for x in cls), dtype=bool, count=n)
                for c in set(cls)
            }
            if tmask is None
            else None
        )
        for i in np.nonzero(is_base)[0]:
            cand = class_masks[cls[i]] if tmask is None else tmask
            scores = np.where(cand, incl[i], 0.0)
            merged = np.nonzero((scores >= threshold) & (scores > 0.0))[0]
            if merged.size:
                page.boxes[i] = _union_box(page.boxes[[i, *merged]]).astype(np.int64)
                _merge_text_into(page.texts, i, merged.tolist())
                keep[merged] = False
                incl[merged, :] = 0.0
                incl[:, merged] = 0.0
                changed = True
        if not changed:
            return page
        page = page.take(keep)


def run_duplicate_filter(page: PageBlocks, iou: float = DEFAULT_IOU) -> PageBlocks:
    page = merge_object_pair(page, "text", tlabel="abandon", threshold=iou)
    page = merge_object_pair(
        page, ["text", "table", "figure"], tlabel="formula", threshold=iou
    )
    page = merge_object_pair(
        page,
        "abandon",
        tlabel=["figure", "table", "formula", "text", "abandon"],
        threshold=iou,
    )
    page = merge_object_pair(page, ["text", "figure", "table", "formula"])
    return page


def run_merges(
    page: PageBlocks,
    iou: float = DEFAULT_IOU,
    filter_dup: bool = True,
    merge_visual: bool = False,
) -> PageBlocks:
    """The merge stack with the frozen duplicate filter; the visual
    merges are the live (numpy) ones, which did not change."""
    if filter_dup:
        page = run_duplicate_filter(page, iou=iou)
    if merge_visual:
        page = merge_formula_text(page)
        page = merge_text_figure_table(page)
    return page


def _largest_gap(starts: np.ndarray, ends: np.ndarray):
    order = np.argsort(starts, kind="stable")
    best_gap, best_cut = 0.0, None
    cur_end = None
    for j in order:
        s, e = float(starts[j]), float(ends[j])
        if cur_end is not None and s - cur_end > best_gap:
            best_gap = s - cur_end
            best_cut = (cur_end + s) / 2.0
        cur_end = e if cur_end is None else max(cur_end, e)
    return best_gap, best_cut


def xy_cut_order(boxes: np.ndarray, min_gap: float = 0.0) -> List[int]:
    b = np.asarray(boxes, dtype=np.float64)
    n = len(b)
    if n == 0:
        return []

    def rec(idx: np.ndarray) -> List[int]:
        if len(idx) <= 1:
            return idx.tolist()
        y_gap, y_cut = _largest_gap(b[idx, 1], b[idx, 3])
        x_gap, x_cut = _largest_gap(b[idx, 0], b[idx, 2])
        if max(y_gap, x_gap) <= min_gap or (y_cut is None and x_cut is None):
            key = np.lexsort((idx, b[idx, 0], b[idx, 1]))
            return idx[key].tolist()
        if y_gap >= x_gap:
            lo, cut = b[idx, 1], y_cut
        else:
            lo, cut = b[idx, 0], x_cut
        first = idx[lo < cut]
        second = idx[lo >= cut]
        if not len(first) or not len(second):
            key = np.lexsort((idx, b[idx, 0], b[idx, 1]))
            return idx[key].tolist()
        return rec(first) + rec(second)

    return rec(np.arange(n))


@contextlib.contextmanager
def numpy_reference_kernel():
    """Route ``extract_turn`` through this frozen numpy kernel."""
    with mock.patch.multiple(
        extract,
        preprocess_page=preprocess_page,
        run_merges=run_merges,
        xy_cut_order=xy_cut_order,
    ):
        yield
