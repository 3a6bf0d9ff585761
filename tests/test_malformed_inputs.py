"""Malformed turns give a defined row, never an exception.

``extract_turn`` runs inside the Spark ``mapInPandas`` worker, where an
exception fails the task. Each malformed payload below must yield
either a real result or the ``[extraction-error <Type>]`` sentinel row,
and the sentinel must name the same error type the numpy page kernel
raised (checked against the frozen reference in
``tests/_merges_numpy_ref.py``).
"""

import json
import re

import pytest
from hypothesis import given, settings, strategies as st

from ocr_pipeline_fastapi_latency_optimization_spark import oracle
from ocr_pipeline_fastapi_latency_optimization_spark.functions.extract import (
    extract_turn,
)
from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
    extract_pipeline,
)
from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
    gen_transcripts,
    transcripts_df,
)
from _merges_numpy_ref import numpy_reference_kernel

ERROR_SENTINEL = re.compile(r"\[extraction-error [A-Za-z_][A-Za-z0-9_]*\]")
KEYS = {"kind", "skeleton", "spans", "preserved", "n_blocks_kept", "n_blocks_dropped"}


def assert_defined_row(text, merge_visual=False):
    row = extract_turn(text, 3, merge_visual=merge_visual)
    assert set(row) == KEYS
    assert row["kind"] in ("pdf", "html", "plain")
    assert isinstance(row["skeleton"], str)
    assert row["n_blocks_kept"] + row["n_blocks_dropped"] == len(row["spans"])
    if row["skeleton"].startswith("[extraction-error"):
        assert ERROR_SENTINEL.fullmatch(row["skeleton"])
        assert row["spans"] == [] and row["preserved"] == []
    with numpy_reference_kernel():
        assert extract_turn(text, 3, merge_visual=merge_visual) == row
    return row


junk = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**70), 2**70),
    st.floats(allow_nan=True, allow_infinity=True),
    st.text(max_size=4),
    st.lists(st.integers(0, 9), max_size=3),
    st.dictionaries(st.sampled_from(["bbox", "x"]), st.integers(0, 9), max_size=2),
)
coord = st.one_of(
    st.integers(-50, 2000),
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([2**63 - 1, 2**63, -(2**63) - 1, 2**80, 1e300]),
    junk,
)
block = st.one_of(
    junk,  # a non-dict block
    st.fixed_dictionaries(
        {},
        optional={
            "bbox": st.one_of(st.lists(coord, min_size=0, max_size=6), junk),
            "label": st.one_of(
                st.sampled_from(["text", "table", "figure", "footer"]), junk
            ),
            "conf": st.one_of(st.floats(0.0, 1.0), junk),
            "text": st.one_of(st.text(max_size=8), junk),
        },
    ),
)
page = st.one_of(
    junk,  # a non-dict page
    st.fixed_dictionaries(
        {"blocks": st.one_of(st.lists(block, max_size=8), junk)},
        optional={
            "w": st.one_of(st.just(1654), coord),
            "h": st.one_of(st.just(2339), coord),
        },
    ),
)
layout = st.builds(lambda pages: {"pages": pages}, st.lists(page, max_size=3))


@settings(max_examples=300, deadline=None)
@given(payload=layout, merge_visual=st.booleans())
def test_malformed_layout_structure(payload, merge_visual):
    """Non-dict pages/blocks, blocks without bbox, non-numeric, infinite,
    NaN or out-of-int64 coordinates (JSON's NaN/Infinity tokens parse)."""
    text = json.dumps(payload, allow_nan=True)
    assert_defined_row(text, merge_visual)


@settings(max_examples=200, deadline=None)
@given(
    payload=layout,
    cut=st.integers(0, 400),
    noise=st.text(max_size=3),
    wrap=st.sampled_from(["raw", "fenced", "literal"]),
)
def test_invalid_layout_json(payload, cut, noise, wrap):
    """Truncated, corrupted, fenced and Python-literal layout payloads."""
    text = json.dumps(payload, allow_nan=True)
    text = text[: max(1, len(text) - cut)] + noise
    if wrap == "fenced":
        text = f"```json\n{text}\n```"
    elif wrap == "literal":
        text = text.replace("null", "None").replace("true", "True")
    assert_defined_row(text)


@settings(max_examples=50, deadline=None)
@given(text=st.one_of(st.none(), st.just(""), st.text(max_size=20)))
def test_none_empty_and_short_text(text):
    row = assert_defined_row(text)
    if not text:
        assert row["kind"] == "plain" and row["skeleton"] == ""


N = 10**5


def _long_turn(kind: str, fill: str) -> str:
    if kind == "plain":
        return (fill * N)[:N]
    if kind == "html":
        return ("<p>" + fill * N)[:N]
    if kind == "pdf_text":
        blk = {"bbox": [0, 0, 10, 10], "label": "text", "text": fill * N}
        return json.dumps({"pages": [{"blocks": [blk]}]})
    if kind == "pdf_blocks":  # 200 overlapping blocks of 500+ chars each
        blk = {"bbox": [5, 5, 50, 50], "label": "text", "conf": 0.9, "text": fill * 500}
        return json.dumps({"pages": [{"blocks": [blk] * 200}]})
    # a layout payload nested past the JSON decoder's recursion limit
    return '{"pages": [' + "[" * (N // 2) + "]" * (N // 2) + "]}"


@settings(max_examples=25, deadline=None)
@given(
    kind=st.sampled_from(["plain", "html", "pdf_text", "pdf_blocks", "nested"]),
    fill=st.sampled_from(["a", " ", "word ", "<", "\n\n", "é", "{"]),
)
def test_turns_of_1e5_chars(kind, fill):
    text = _long_turn(kind, fill)
    assert len(text) >= N
    assert_defined_row(text)


def test_deeply_nested_layout_is_not_a_crash():
    """A 10^5-char layout payload nested deeper than the JSON decoder's
    recursion limit is not a layout: it is read as plain text."""
    row = assert_defined_row(_long_turn("nested", ""))
    assert row["kind"] == "plain"


def test_malformed_turns_through_spark_match_oracle(spark):
    """The same payloads through the Spark ``mapInPandas`` stage: every
    turn gets a row, equal to the oracle's."""
    texts = [
        None,
        "",
        '{"pages": [1, "x", null]}',
        '{"pages": [{"blocks": [{"bbox": [1, 2, 3, NaN]}]}]}',
        '{"pages": [{"blocks": [{"bbox": [1, 2, 3, Infinity], "label": "table"}]}]}',
        '{"pages": [{"blocks": [{"bbox": [1, 2, 3, 1e300]}]}]}',
        '{"pages": [{"blocks": [{"label": "text"}, {"bbox": "abcd"}]}]}',
        '{"pages": [{"blocks": [' + "[" * 50_000 + "]" * 50_000 + "]}]}",
        _long_turn("pdf_blocks", "word "),
    ]
    corpus = gen_transcripts(n_convs=2, mean_turns=6, seed=3).head(len(texts)).copy()
    assert len(corpus) == len(texts)
    corpus["text"] = texts
    got = extract_pipeline(transcripts_df(spark, corpus)).toPandas()
    got = got.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    want = oracle.extract_frame(corpus)
    assert len(got) == len(texts)
    assert got["extracted_text"].tolist() == want["extracted_text"].tolist()
    assert got["n_blocks_kept"].tolist() == want["n_blocks_kept"].tolist()
    assert any(t.startswith("[extraction-error") for t in want["extracted_text"])
