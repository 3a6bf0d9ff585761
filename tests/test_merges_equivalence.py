"""The plain-Python pdf-layout page kernel returns exactly what the dense
numpy kernel it replaced returned.

``tests/_merges_numpy_ref.py`` holds a frozen copy of the numpy
``preprocess_page``, ``merge_object_pair``, ``run_duplicate_filter`` and
``xy_cut_order``. Hypothesis pages cover 0-30 boxes with nested,
identical, zero-area, negative-size and out-of-page boxes and
coordinates beyond 2**53, where float64 rounding decides the inclusion
scores and the union boxes. The seeded-corpus test compares whole
``extract_turn_full`` rows, with the visual merges off and on, over far
more pdf-layout turns than the goldens hold.
"""

import contextlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

import _merges_numpy_ref as REF
from ocr_pipeline_fastapi_latency_optimization_spark.functions import extract as X
from ocr_pipeline_fastapi_latency_optimization_spark.functions import merges as M
from ocr_pipeline_fastapi_latency_optimization_spark.functions.tokenize import (
    classify_payload,
)
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    gen_transcripts,
)

I64_MIN, I64_MAX = -(2**63), 2**63 - 1
# float64 has 53 mantissa bits: past 2**53 neighbouring ints share a
# float, and the last 512 below 2**63 round up to 2**63 itself.
EDGE_COORDS = [
    0, 1, -1, 2**53 - 1, 2**53, 2**53 + 1, 2**53 + 3, 2**62 + 1,
    I64_MAX - 513, I64_MAX - 512, I64_MAX, I64_MIN, I64_MIN + 1, -(2**53) - 1,
]
HUGE_BASES = [2**53 - 2048, 2**62, I64_MAX - 6000, I64_MIN, -(2**62)]


def _clamp(v: int) -> int:
    return max(I64_MIN, min(I64_MAX, v))


@st.composite
def page_boxes(draw, max_boxes=30):
    """0-30 int64 boxes, many derived from earlier ones so merges happen."""
    coord = st.one_of(
        st.integers(-60, 1100),
        st.sampled_from(EDGE_COORDS),
        st.integers(I64_MIN, I64_MAX),
    )
    boxes = []
    for _ in range(draw(st.integers(0, max_boxes))):
        mode = draw(
            st.sampled_from(
                ["page", "page", "free", "huge", "copy", "nested", "grow", "zero"]
            )
        )
        if mode in ("copy", "nested", "grow", "zero") and boxes:
            x0, y0, x1, y1 = draw(st.sampled_from(boxes))
            d = draw(st.integers(0, 40))
            if mode == "nested":  # may invert a thin box: negative size
                box = [x0 + d, y0 + d, x1 - d, y1 - d]
            elif mode == "grow":
                box = [x0 - d, y0 - d, x1 + d, y1 + d]
            elif mode == "zero":
                box = [x0, y0, x0, y1] if draw(st.booleans()) else [x0, y0, x1, y0]
            else:
                box = [x0, y0, x1, y1]
        elif mode == "huge":  # overlapping boxes below float64 resolution
            base = draw(st.sampled_from(HUGE_BASES))
            off = st.integers(0, 4096)
            box = [base + draw(off) for _ in range(4)]
        elif mode == "free":
            box = [draw(coord) for _ in range(4)]
        else:  # on or around a 1000x1000 page, sizes may be negative
            x0, y0 = draw(st.integers(-60, 1100)), draw(st.integers(-60, 1100))
            size = st.integers(-20, 500)
            box = [x0, y0, x0 + draw(size), y0 + draw(size)]
        boxes.append([_clamp(v) for v in box])
    return boxes


@st.composite
def pages(draw, max_boxes=30):
    boxes = draw(page_boxes(max_boxes))
    n = len(boxes)
    return M.PageBlocks(
        boxes=np.array(boxes, dtype=np.int64).reshape(n, 4),
        conf=np.array([draw(st.floats(0.0, 1.0)) for _ in range(n)], dtype=np.float64),
        classes=[draw(st.sampled_from(M.CLASSES)) for _ in range(n)],
        texts=[draw(st.sampled_from(["", "", "a", "b c", f"t{k}"])) for k in range(n)],
    )


def _state(pb):
    return (
        pb.boxes.dtype,
        pb.boxes.shape,
        pb.boxes.tolist(),
        pb.conf.tolist(),
        list(pb.classes),
        list(pb.texts),
    )


@contextlib.contextmanager
def _quiet_cast():
    # numpy warns when a float64 union coordinate of 2**63 is cast to
    # int64; both kernels take that cast, the warning is not under test
    with np.errstate(invalid="ignore"):
        yield


label_sets = st.lists(st.sampled_from(M.CLASSES), min_size=1, max_size=5, unique=True)
thresholds = st.one_of(st.sampled_from([0.0, 0.3, 0.5, 1.0]), st.floats(0.0, 1.0))


@settings(max_examples=400, deadline=None)
@given(page=pages(), iou=thresholds)
def test_duplicate_filter_matches_numpy_reference(page, iou):
    with _quiet_cast():
        assert _state(M.run_duplicate_filter(page, iou=iou)) == _state(
            REF.run_duplicate_filter(page, iou=iou)
        )


@settings(max_examples=300, deadline=None)
@given(
    page=pages(),
    rlabel=label_sets,
    tlabel=st.one_of(st.none(), label_sets),
    threshold=thresholds,
)
def test_merge_object_pair_matches_numpy_reference(page, rlabel, tlabel, threshold):
    before = _state(page)
    with _quiet_cast():
        got = M.merge_object_pair(page, rlabel, tlabel=tlabel, threshold=threshold)
        want = REF.merge_object_pair(page, rlabel, tlabel=tlabel, threshold=threshold)
    assert _state(got) == _state(want)
    assert _state(page) == before  # the input page is never mutated


@settings(max_examples=400, deadline=None)
@given(page=pages())
def test_xy_cut_matches_numpy_reference(page):
    assert M.xy_cut_order(page.boxes) == REF.xy_cut_order(page.boxes)
    with _quiet_cast():
        merged = M.run_duplicate_filter(page)
    assert M.xy_cut_order(merged.boxes) == REF.xy_cut_order(merged.boxes)


_junk_coord = st.one_of(
    st.integers(-100, 2000),
    st.floats(-100.0, 2000.0),
    st.sampled_from([float(v) for v in EDGE_COORDS] + EDGE_COORDS),
    st.sampled_from([2**63, -(2**63) - 1, 2**70, 1e300, -1e300]),
    st.sampled_from([float("inf"), float("-inf"), float("nan")]),
)


@st.composite
def raw_blocks(draw):
    out = []
    for _ in range(draw(st.integers(0, 12))):
        blk = {
            "label": draw(st.sampled_from(sorted(M.MAP_LABELS) + ["unknown"])),
            "text": draw(st.sampled_from(["", "x", "y z"])),
        }
        if draw(st.integers(0, 9)):
            blk["bbox"] = [draw(_junk_coord) for _ in range(4)]
        if draw(st.booleans()):
            blk["conf"] = draw(st.sampled_from([0.1, 0.38, 0.5, 0.5, 0.9, 1.0]))
        out.append(blk)
    return out


@settings(max_examples=400, deadline=None)
@given(
    raw=raw_blocks(),
    width=st.sampled_from([1654.0, 1000.0, 0.0, -5.0, 1e19]),
    height=st.sampled_from([2339.0, 500.0, 0.0]),
)
def test_preprocess_page_matches_numpy_reference(raw, width, height):
    """Same page, or the same error type, for any box coordinates:
    inf/NaN, fractional, negative, past the page, past int64."""

    def run(fn):
        try:
            return _state(fn(raw, width, height))
        except Exception as exc:  # compared by type: the row's sentinel name
            return type(exc).__name__

    assert run(M.preprocess_page) == run(REF.preprocess_page)


def test_union_coordinate_that_rounds_to_2_pow_63():
    """A merged box whose float64 edge is 2**63 (any int64 within 512 of
    the maximum) cannot be held by int64. The kernel then takes numpy's
    own float64→int64 cast, so it stores what the numpy kernel stored on
    the same platform (INT64_MIN on x86-64) instead of raising."""
    page = M.PageBlocks(
        boxes=np.array([[0, 0, I64_MAX, 10], [1, 1, 5, 5]], dtype=np.int64),
        conf=np.ones(2),
        classes=["text", "text"],
        texts=["a", "b"],
    )
    with _quiet_cast():
        got = M.run_duplicate_filter(page)
        want = REF.run_duplicate_filter(page)
        numpy_cast = int(np.float64(2.0**63).astype(np.int64))
    assert _state(got) == _state(want)
    assert got.boxes.tolist() == [[0, 0, numpy_cast, 10]]
    assert got.texts == ["a\nb"]


@pytest.mark.parametrize("merge_visual", [False, True])
def test_extract_turn_full_matches_numpy_reference_on_seeded_corpus(merge_visual):
    corpus = gen_transcripts(n_convs=400, mean_turns=6, seed=11).head(2000)
    assert len(corpus) == 2000
    turns = list(zip(corpus["text"], corpus["turn_idx"].astype(int)))
    got = [X.extract_turn_full(t, i, merge_visual=merge_visual) for t, i in turns]
    with REF.numpy_reference_kernel():
        want = [X.extract_turn_full(t, i, merge_visual=merge_visual) for t, i in turns]
    assert got == want
    n_pdf = sum(classify_payload(t) == "pdf" for t, _ in turns)
    assert n_pdf >= 300  # ~20% of the mix: many times the goldens' count
