"""Block-merge heuristics over layout boxes (the algorithmic core).

Re-expresses, as pure functions over ``(boxes, classes, texts)`` triples
(:class:`PageBlocks`), the behavior of the reference's detection-merging
passes:

* label consolidation (20 raw detector labels → 5 classes, ``DLA.py:59-90``)
* confidence sort + box padding/clamp (``DLA.py:515-534`` equivalent,
  seen in ``_convert_pp_to_sv`` ``DLA.py:508-541``)
* the generic fixed-point inclusion merge (``DLA.py:193-251``) and its
  four configured passes (``DLA.py:152-171``)
* caption / title merges below figures & above tables (``DLA.py:272-416``)
* formula-text merges (``DLA.py:433-470``)
* recursive XY-cut reading order (our addition — the reference relies on
  the VLM to linearize; we must do it deterministically).

These run *inside* the per-turn Arrow UDF; a "page" here is one page of a
pdf-layout payload embedded in a transcript turn.

Physical strategy: the path every pdf-layout page takes (preprocessing,
the duplicate filter, XY-cut) is plain Python over tuples. A page holds
3-9 boxes, and at that size numpy's per-call overhead (``fromiter``,
``argsort``, the dense pairwise matrix) outweighed the arithmetic: on one
core of a 4-CPU VM, a pdf-layout turn took 1.1-1.7 ms with the numpy
version and 0.5-0.6 ms with this one. The arithmetic reads each
coordinate as its float64 value, as
numpy's cast did, so results are identical (proven against a frozen copy
of the numpy version in ``tests/test_merges_equivalence.py``). The
opt-in visual merges (``merge_visual``) still use the numpy helpers of
``geometry.py``.

Determinism invariants (SURVEY.md §2.13): stable confidence-desc sort
(INV-1); per-sweep geometry snapshot, with merged boxes removed from
both sides in index order (INV-2); merged-candidate text appended in
ascending index order so the oracle and Spark produce identical strings.
"""

from __future__ import annotations

from dataclasses import dataclass
from operator import itemgetter
from typing import List, Sequence

import numpy as np

from .geometry import pairwise_inclusion, union_box, vertical_iou

# 20 raw detector labels → 5 internal classes (behavioral parity with the
# reference's label taxonomy, DLA.py:59-80). Unknown labels map to 'text'.
MAP_LABELS = {
    "paragraph_title": "text",
    "image": "figure",
    "text": "text",
    "number": "text",
    "abstract": "text",
    "content": "text",
    "figure_title": "text",
    "formula": "formula",
    "table": "table",
    "reference": "text",
    "doc_title": "text",
    "footnote": "text",
    "header": "text",
    "algorithm": "figure",
    "footer": "abandon",
    "seal": "figure",
    "chart": "figure",
    "formula_number": "text",
    "aside_text": "abandon",
    "reference_content": "text",
}

CLASSES = sorted(set(MAP_LABELS.values()))  # abandon figure formula table text
DEFAULT_CONF = 0.38  # detector threshold, DLA.py:137
DEFAULT_IOU = 0.5  # merge threshold, DLA.py:137
PAD_FRACTION = 0.005  # visual-box padding, DLA.py:526


@dataclass
class PageBlocks:
    """Parallel arrays of one page's layout blocks (the Detections analog,
    DLA.py:536-541): int boxes, confidences, consolidated class names, and
    the block text payloads."""

    boxes: np.ndarray  # (N, 4) int64
    conf: np.ndarray  # (N,) float64
    classes: List[str]
    texts: List[str]

    def __len__(self) -> int:
        return len(self.classes)

    def take(self, mask: np.ndarray) -> "PageBlocks":
        idx = np.nonzero(np.asarray(mask))[0]
        return PageBlocks(
            boxes=self.boxes[idx].copy(),
            conf=self.conf[idx].copy(),
            classes=[self.classes[i] for i in idx],
            texts=[self.texts[i] for i in idx],
        )


_VISUAL = ("table", "formula", "figure")
_I64_LIMIT = 1 << 63


def preprocess_page(
    raw_blocks: Sequence[dict],
    width: float,
    height: float,
    conf_threshold: float = DEFAULT_CONF,
) -> PageBlocks:
    """Confidence filter (P4) → stable conf-desc sort (O1/INV-1) → label
    consolidation (P1) → int cast → pad+clamp visual boxes (P2).

    Mirrors the preprocessing order of the reference's detection
    conversion (``DLA.py:508-541``): sort first, then pad
    table/formula/figure boxes by ``0.005·min(H, W)`` and clamp to the
    page bounds, truncating to int. Rows are built as Python tuples and
    become arrays once, at the end; a malformed block raises the same
    error, in the same block order, as a per-row array fill would.
    """
    kept = [
        (c, b)
        for b in raw_blocks
        if (c := float(b.get("conf", 1.0))) >= conf_threshold and "bbox" in b
    ]
    # Stable sort by confidence descending (Python sort is stable; ties
    # keep input order — INV-1).
    kept.sort(key=lambda cb: -cb[0])
    rows: List[Sequence[int]] = []
    classes: List[str] = []
    texts: List[str] = []
    pad = min(float(width), float(height)) * PAD_FRACTION
    for _, b in kept:
        x0, y0, x1, y1 = map(float, b["bbox"])
        cls = MAP_LABELS.get(str(b.get("label", "text")), "text")
        if cls in _VISUAL:
            x0, y0 = max(0.0, x0 - pad), max(0.0, y0 - pad)
            x1, y1 = min(float(width), x1 + pad), min(float(height), y1 + pad)
        row = (int(x0), int(y0), int(x1), int(y1))
        if min(row) < -_I64_LIMIT or max(row) >= _I64_LIMIT:
            # the error type numpy raises when an int64 array cannot hold it
            raise OverflowError(f"box {row} does not fit int64")
        rows.append(row)
        classes.append(cls)
        texts.append(str(b.get("text", "")))
    return PageBlocks(
        boxes=np.array(rows, dtype=np.int64).reshape(len(rows), 4),
        conf=np.array([c for c, _ in kept], dtype=np.float64),
        classes=classes,
        texts=texts,
    )


def _merge_text_into(texts: List[str], base: int, merged: Sequence[int]) -> None:
    parts = [texts[base]] + [texts[j] for j in merged if texts[j]]
    texts[base] = "\n".join(p for p in parts if p != "") if any(parts) else texts[base]


def _to_int64(v: float) -> int:
    """``float64 → int64`` cast of one union coordinate, as numpy's
    ``astype(np.int64)``. float64 rounds an int64 within 512 of 2**63 up
    to 2**63, which int64 cannot hold; that one value goes through numpy's
    own cast, so the result is numpy's on every platform."""
    i = int(v)
    if i < _I64_LIMIT:
        return i
    return int(np.float64(v).astype(np.int64))


def _label_set(label) -> frozenset:
    return frozenset([label] if isinstance(label, str) else label)


class _Rows:
    """One page as plain-Python rows for the duplicate filter: the int
    boxes the page stores, their float64 values (what the inclusion
    arithmetic reads, as numpy's float64 cast would), confidences,
    classes and texts. Built once from a :class:`PageBlocks` and turned
    back once, however many passes run in between."""

    __slots__ = ("boxes", "fboxes", "conf", "classes", "texts")

    def __init__(self, page: PageBlocks):
        self.boxes = page.boxes.tolist()
        self.fboxes = page.boxes.astype(np.float64).tolist()
        self.conf = page.conf.tolist()
        self.classes = list(page.classes)
        self.texts = list(page.texts)

    def blocks(self) -> PageBlocks:
        return PageBlocks(
            boxes=np.array(self.boxes, dtype=np.int64).reshape(len(self.boxes), 4),
            conf=np.array(self.conf, dtype=np.float64),
            classes=self.classes,
            texts=self.texts,
        )

    def merge_pass(self, rlabel, tlabel, threshold: float) -> None:
        """One fixed-point inclusion merge; see :func:`merge_object_pair`."""
        rset = _label_set(rlabel)
        tset = None if tlabel is None else _label_set(tlabel)
        while True:
            cls = self.classes
            n = len(cls)
            if n <= 1:
                return
            bases = [i for i, c in enumerate(cls) if c in rset]
            if not bases:
                return
            if tset is None:
                same_class: dict = {}
                for j, c in enumerate(cls):
                    same_class.setdefault(c, []).append(j)
            else:
                cands = [j for j, c in enumerate(cls) if c in tset]
                if not cands:
                    return
            boxes, fboxes = self.boxes, self.fboxes
            snap = list(fboxes)  # the sweep's geometry (INV-2)
            dead = [False] * n
            changed = False
            for i in bases:
                if dead[i]:  # absorbed earlier in this sweep: its row is zero
                    continue
                bx0, by0, bx1, by1 = snap[i]
                merged = []
                for j in same_class[cls[i]] if tset is None else cands:
                    if j == i or dead[j]:
                        continue
                    x0, y0, x1, y1 = snap[j]
                    w = min(bx1, x1) - max(bx0, x0)
                    h = min(by1, y1) - max(by0, y0)
                    # score inter / area_j, > 0 only if w, h > 0; then
                    # area_j >= inter > 0, so pairwise_inclusion's
                    # zero-area floor never binds
                    if (
                        w > 0.0
                        and h > 0.0
                        and w * h / ((x1 - x0) * (y1 - y0)) >= threshold
                    ):
                        merged.append(j)
                if merged:
                    xs0, ys0, xs1, ys1 = zip(fboxes[i], *(fboxes[j] for j in merged))
                    row = [
                        _to_int64(min(xs0)),
                        _to_int64(min(ys0)),
                        _to_int64(max(xs1)),
                        _to_int64(max(ys1)),
                    ]
                    boxes[i] = row
                    fboxes[i] = [float(v) for v in row]
                    _merge_text_into(self.texts, i, merged)
                    for j in merged:
                        dead[j] = True
                    changed = True
            if not changed:
                return
            keep = [k for k in range(n) if not dead[k]]
            self.boxes = [boxes[k] for k in keep]
            self.fboxes = [fboxes[k] for k in keep]
            self.conf = [self.conf[k] for k in keep]
            self.classes = [cls[k] for k in keep]
            self.texts = [self.texts[k] for k in keep]


def merge_object_pair(
    page: PageBlocks,
    rlabel,
    tlabel=None,
    threshold: float = 0.0,
) -> PageBlocks:
    """Generic fixed-point inclusion merge (``DLA.py:193-251``).

    Sweep until no change. Each sweep scores against the boxes as they
    were when it began; for each base box ``i`` of class ∈ ``rlabel`` in
    index order, candidates are boxes of class ∈ ``tlabel`` (or the same
    class when ``tlabel`` is None) whose inclusion score
    ``inter(i, j) / area(j)`` is ≥ threshold and > 0; union their boxes
    into ``i`` (A1) and mark them removed, so they can neither merge
    again nor act as a base within the sweep (INV-2; the same result as
    an inclusion matrix computed once per sweep with merged rows and
    columns zeroed, but only base rows against candidate columns are
    ever scored). Removed boxes are compacted *after* the sweep.
    """
    rows = _Rows(page)
    rows.merge_pass(rlabel, tlabel, threshold)
    return rows.blocks()


def run_duplicate_filter(page: PageBlocks, iou: float = DEFAULT_IOU) -> PageBlocks:
    """The four configured merge passes, in production order
    (``DLA.py:152-171``), including the text←abandon quirk of pass (a)
    (``DLA.py:156-158``):

    a. bases ``text``, candidates ``abandon``          @ iou
    b. bases ``text|table|figure``, candidates ``formula`` @ iou
    c. bases ``abandon``, candidates all five classes  @ iou
    d. bases ``text|figure|table|formula``, same-class @ 0.0

    The page is converted to Python rows once for all four passes: at
    3-9 boxes a page, numpy's per-call overhead outweighs the arithmetic.
    """
    rows = _Rows(page)
    rows.merge_pass("text", "abandon", iou)
    rows.merge_pass(["text", "table", "figure"], "formula", iou)
    rows.merge_pass("abandon", ["figure", "table", "formula", "text", "abandon"], iou)
    rows.merge_pass(["text", "figure", "table", "formula"], None, 0.0)
    return rows.blocks()


def merge_formula_text(page: PageBlocks) -> PageBlocks:
    """Formula-internal and formula-below text merges (``DLA.py:433-470``).

    Strategy 1: text blocks vertically contained in a formula box
    (``formula.y0 ≤ t.y0`` and ``formula.y1 ≥ t.y1``) with aspect ratio
    ``max(h,w)/min(h,w) < 2`` merge into the formula.

    Strategy 2 re-expresses the reference's below-formula scan literally
    — including its quirk that every text candidate is also a "blocker",
    so the strict ``y0 < min(blocker.y0)`` constraint can never admit a
    text candidate; the pass is effectively a no-op, preserved (and
    golden-tested) for behavioral parity.
    """
    page = PageBlocks(
        page.boxes.copy(), page.conf.copy(), list(page.classes), list(page.texts)
    )
    n = len(page)
    if n == 0:
        return page
    names = np.array(page.classes)
    is_text = names == "text"
    is_formula = names == "formula"
    keep = np.ones(n, dtype=bool)
    if not (is_formula.any() and is_text.any()):
        return page

    for i in range(n):
        if is_formula[i] and keep[i]:
            b = page.boxes.astype(np.float64)
            inside = (b[i, 3] >= b[:, 3]) & (b[i, 1] <= b[:, 1])
            h = b[:, 3] - b[:, 1]
            w = b[:, 2] - b[:, 0]
            with np.errstate(divide="ignore", invalid="ignore"):
                ratio = np.maximum(h, w) / np.minimum(h, w)
            ratio_ok = np.nan_to_num(ratio, nan=np.inf) < 2.0
            cand = keep & is_text & inside & ratio_ok
            if cand.any():
                idx = np.nonzero(cand)[0]
                page.boxes[i] = union_box(page.boxes[[i, *idx]]).astype(np.int64)
                _merge_text_into(page.texts, i, idx.tolist())
                keep[idx] = False

    for i in range(n):
        if is_formula[i] and keep[i]:
            b = page.boxes.astype(np.float64)
            vy = vertical_iou(b)
            below = b[:, 1] > b[i, 1]
            aligned = vy[i, :] > 0
            blockers = below & aligned & (~is_formula)
            if blockers.any():
                below = below & (b[:, 1] < b[blockers, 1].min())
            cand = keep & is_text & below & aligned
            if cand.any():  # unreachable in practice (see docstring)
                idx = np.nonzero(cand)[0]
                page.boxes[i] = union_box(page.boxes[[i, *idx]]).astype(np.int64)
                _merge_text_into(page.texts, i, idx.tolist())
                keep[idx] = False

    return page.take(keep)


def merge_text_figure_table(page: PageBlocks) -> PageBlocks:
    """Caption merge below figures/tables (single + chained candidates)
    and title merge above tables (``DLA.py:272-416``), with the same
    rejection rules: table-gap larger than candidate height, left-shifted
    candidates, figure candidates ending left of the base center with
    inclusion < 0.5, and the chain-break conditions (gap > 2·height,
    width ratio > 4, lost vertical alignment, inclusion-state transitions,
    left-shift, right-edge < center)."""
    page = PageBlocks(
        page.boxes.copy(), page.conf.copy(), list(page.classes), list(page.texts)
    )
    n = len(page)
    if n == 0:
        return page
    names = np.array(page.classes)
    is_text = names == "text"
    is_fig = names == "figure"
    is_table = names == "table"
    keep = np.ones(n, dtype=bool)
    if not (is_text.sum() * (is_fig.sum() + is_table.sum())):
        return page

    def _union(i: int, idx: List[int]) -> None:
        page.boxes[i] = union_box(page.boxes[[i, *idx]]).astype(np.int64)
        _merge_text_into(page.texts, i, idx)
        is_text[idx] = False
        keep[idx] = False

    # --- captions below figures/tables (DLA.py:272-381) ---
    for i in range(n):
        if not (keep[i] and (is_fig[i] or is_table[i])):
            continue
        b = page.boxes.astype(np.float64)
        below = b[:, 1] > b[i, 1]
        vy = vertical_iou(b)
        aligned = vy[i, :] > 0
        nontext_blockers = below & aligned & (~is_text)
        if nontext_blockers.any():
            below = below & (b[:, 1] < b[nontext_blockers, 1].min())
        heights = b[:, 3] - b[:, 1]
        widths = b[:, 2] - b[:, 0]
        dist_y = b[:, 1] - b[i, 3]
        close_enough = (b[:, 3] - b[i, 3]) <= heights[i]
        valid = is_text & below & aligned & close_enough
        nv = int(valid.sum())
        if nv == 1:
            idx = int(np.argmax(valid))
            ok = True
            if is_table[i] and dist_y[idx] > heights[idx]:
                ok = False
            if (b[idx, 0] < b[i, 0]) and (b[idx, 2] < b[i, 2]):
                ok = False
            if is_fig[i]:
                incl = pairwise_inclusion(b, zero_diag=True)
                center_x = (b[i, 2] + b[i, 0]) / 2.0
                if (b[idx, 2] < center_x) and (incl[i, idx] < 0.5):
                    ok = False
            if ok:
                _union(i, [idx])
        elif nv > 1:
            indices = np.nonzero(valid)[0]
            indices = indices[np.argsort(b[indices, 1], kind="stable")]
            main_included = (b[:, 0] >= b[i, 0]) & (b[:, 2] <= b[i, 2])
            chain = [int(indices[0])]
            for k in range(len(indices) - 1):
                curr, nxt = int(indices[k]), int(indices[k + 1])
                gap = b[nxt, 1] - b[curr, 3]
                if (2 * heights[curr] < gap) or (2 * heights[nxt] < gap):
                    break
                if widths[curr] > 0 and widths[i] / widths[curr] > 4:
                    break
                if not vy[curr, nxt]:
                    break
                if main_included[curr] and not main_included[nxt]:
                    break
                if (not main_included[curr]) and (not main_included[nxt]):
                    break
                if not main_included[curr]:
                    if (b[nxt, 0] <= b[curr, 0]) or (b[nxt, 2] >= b[curr, 2]):
                        break
                if b[nxt, 2] < (b[curr, 2] + b[curr, 0]) / 2.0:
                    break
                if (b[nxt, 0] < b[i, 0]) and (b[nxt, 2] < b[i, 2]):
                    break
                chain.append(nxt)
            if chain:
                _union(i, chain)

    # --- titles above tables (DLA.py:383-416) ---
    for i in range(n):
        if not (keep[i] and is_table[i]):
            continue
        b = page.boxes.astype(np.float64)
        above = b[:, 3] < b[i, 3]
        aligned = vertical_iou(b)[i, :] > 0
        nontext_blockers = above & aligned & (~is_text)
        if nontext_blockers.any():
            above = above & (b[:, 3] > b[nontext_blockers, 3].max())
        included = (b[:, 0] >= b[i, 0]) & (b[:, 2] <= b[i, 2])
        heights = b[:, 3] - b[:, 1]
        dist_y = b[i, 1] - b[:, 3]
        close = dist_y <= heights
        valid = is_text & above & aligned & included & close
        if valid.any():
            valid = valid & (b[:, 3] > b[valid, 1].max())
            if valid.any():
                _union(i, np.nonzero(valid)[0].tolist())

    return page.take(keep)


def run_merges(
    page: PageBlocks,
    iou: float = DEFAULT_IOU,
    filter_dup: bool = True,
    merge_visual: bool = False,
) -> PageBlocks:
    """Full merge stack in production order (``DLA.py:149-177``;
    ``ocr_app.py:990`` runs with ``filter_dup=True, merge_visual=False``;
    the visual merges remain reachable behind the flag like the default
    ``analyze()`` signature ``DLA.py:137``)."""
    if filter_dup:
        page = run_duplicate_filter(page, iou=iou)
    if merge_visual:
        page = merge_formula_text(page)
        page = merge_text_figure_table(page)
    return page


# ---------------------------------------------------------------------------
# Reading order: recursive XY-cut (our deterministic replacement for the
# reference's VLM linearization step, PageProcessor.py:92-104).
# ---------------------------------------------------------------------------


def _largest_gap(spans: Sequence[Sequence[float]]):
    """Largest gap between merged interval runs of a 1-D projection of
    ``(start, end)`` spans. Returns ``(gap_size, cut_position)`` or
    ``(0.0, None)`` when the projection is contiguous. Ties pick the
    lowest-coordinate gap."""
    best_gap, best_cut = 0.0, None
    cur_end = None
    for s, e in sorted(spans, key=itemgetter(0)):  # stable by start
        if cur_end is not None and s - cur_end > best_gap:
            best_gap = s - cur_end
            best_cut = (cur_end + s) / 2.0
        cur_end = e if cur_end is None else max(cur_end, e)
    return best_gap, best_cut


def xy_cut_order(boxes: np.ndarray, min_gap: float = 0.0) -> List[int]:
    """Recursive XY-cut reading order: at each step, binary-split the
    region at the single largest whitespace gap across both axes (ties
    prefer the vertical split, i.e. horizontal bands); bands read top→
    bottom, columns left→right; leaves with no separating gap are ordered
    by (y0, x0, index). Deterministic for any input. Coordinates are read
    as float64, once, then the recursion runs over Python lists."""
    b = np.asarray(boxes, dtype=np.float64).tolist()

    def leaf(idx: List[int]) -> List[int]:
        return sorted(idx, key=lambda k: (b[k][1], b[k][0], k))

    def rec(idx: List[int]) -> List[int]:
        if len(idx) <= 1:
            return idx
        y_gap, y_cut = _largest_gap([(b[k][1], b[k][3]) for k in idx])
        x_gap, x_cut = _largest_gap([(b[k][0], b[k][2]) for k in idx])
        if max(y_gap, x_gap) <= min_gap or (y_cut is None and x_cut is None):
            return leaf(idx)
        axis, cut = (1, y_cut) if y_gap >= x_gap else (0, x_cut)
        first = [k for k in idx if b[k][axis] < cut]
        second = [k for k in idx if b[k][axis] >= cut]
        if not first or not second:  # degenerate; stop recursing
            return leaf(idx)
        return rec(first) + rec(second)

    return rec(list(range(len(b))))
