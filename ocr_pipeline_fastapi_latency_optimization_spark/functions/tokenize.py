"""Payload classification and block tokenization.

The analog of the reference's format dispatch (``FileIngestor.py:119-168``)
and layout-detection step (``DLA.py:137-148``): instead of rendering pages
and running a detector model, we tokenize each turn's ``text`` payload
into *blocks* — the unit everything downstream (scoring, merging, masking,
stamping) operates on.

Three payload kinds:

* ``plain`` — blocks are maximal runs of non-blank lines.
* ``html``  — blocks from a lightweight tag-run scan with link-density
  accounting (Boilerpipe/jusText-style; see PAPERS.md) plus table/figure
  container capture.
* ``pdf``   — a JSON layout payload ``{"pages": [{"w", "h", "blocks":
  [{"bbox", "label", "conf", "text"}]}]}``; handled in ``extract.py`` via
  the geometry/merge kernels.

Everything is pure Python/numpy on single strings — called from inside
Arrow-batched UDFs and from the pandas oracle, never per-row from Spark.
"""

from __future__ import annotations

import html as _html
import json
import re
from dataclasses import dataclass
from typing import List, Optional

# --- payload classification (S3 analog, FileIngestor.py:119-168) ----------

_TAG_PROBE = re.compile(r"<[a-zA-Z][a-zA-Z0-9]*(\s[^>]*)?>")
_FENCED_JSON = re.compile(r"```(?:json)?\s*(\{.*?\})\s*```", re.DOTALL | re.IGNORECASE)


def parse_layout_json(text: str) -> Optional[dict]:
    """Tolerant layout-JSON extraction (analog of the fenced-codeblock
    JSON extractor, ``utils.py:70-111``): try the raw string, then a
    fenced ```json block, then a Python-literal rewrite of null/true/false.
    Returns the payload dict when it has a ``pages`` list, else None."""
    candidates = []
    s = text.strip()
    if s.startswith("{"):
        candidates.append(s)
    m = _FENCED_JSON.search(text)
    if m:
        candidates.append(m.group(1))
    for cand in candidates:
        try:
            obj = json.loads(cand)
        except (ValueError, TypeError, RecursionError):  # deep nesting too
            try:
                import ast

                rewritten = (
                    cand.replace("null", "None")
                    .replace("true", "True")
                    .replace("false", "False")
                )
                obj = ast.literal_eval(rewritten)
            except (ValueError, SyntaxError, TypeError, MemoryError, RecursionError):
                continue
        if isinstance(obj, dict) and isinstance(obj.get("pages"), list):
            return obj
    return None


def classify_payload(text: Optional[str]) -> str:
    """'pdf' | 'html' | 'plain' for one payload string."""
    if not text:
        return "plain"
    probe = text.lstrip()[:1]
    if (probe == "{" or "```" in text[:4000]) and '"pages"' in text:
        if parse_layout_json(text) is not None:
            return "pdf"
    if _TAG_PROBE.search(text):
        return "html"
    return "plain"


# --- block representation ---------------------------------------------------


@dataclass
class Block:
    """One tokenized block with char offsets into the original payload."""

    start: int
    end: int
    label: str  # text | abandon | table | figure
    text: str  # normalized visible text
    anchor_chars: int = 0
    rows: Optional[List[List[str]]] = None  # table cell grid
    kept: bool = True


_HAS_ALNUM = re.compile(r"[^\W_]", re.UNICODE)  # letter or digit
_WS_RUN = re.compile(r"\s+")


def _normalize_inline(s: str) -> str:
    """Collapse whitespace runs to single spaces and trim (the skeleton
    normalization the masked-page OCR performed implicitly)."""
    return _WS_RUN.sub(" ", s).strip()


# --- plain tokenizer ---------------------------------------------------------


def tokenize_plain(text: str) -> List[Block]:
    """Blocks = maximal runs of non-blank lines. Block text: tabs expanded
    to four spaces (``FileIngestor.py:220`` analog), lines right-stripped,
    joined by newlines. A block with no letter/digit is boilerplate."""
    blocks: List[Block] = []
    pos = 0
    cur_lines: List[str] = []
    cur_start = -1
    cur_end = -1

    def flush():
        nonlocal cur_lines, cur_start, cur_end
        if cur_lines:
            body = "\n".join(cur_lines)
            blocks.append(
                Block(
                    start=cur_start,
                    end=cur_end,
                    label="text",
                    text=body,
                    kept=bool(_HAS_ALNUM.search(body)),
                )
            )
        cur_lines, cur_start, cur_end = [], -1, -1

    for raw_line in text.split("\n"):
        line_start = pos
        pos += len(raw_line) + 1  # +1 for the split '\n'
        stripped = raw_line.strip()
        if not stripped:
            flush()
            continue
        rendered = raw_line.replace("\t", "    ").rstrip()
        if cur_start < 0:
            cur_start = line_start + (len(raw_line) - len(raw_line.lstrip()))
        cur_end = line_start + len(raw_line.rstrip())
        cur_lines.append(rendered)
    flush()
    return blocks


# --- html tokenizer -----------------------------------------------------------

# one scanner for real tags AND invisible markup (comments, doctype,
# processing instructions) so comment bodies never leak into blocks
_TAG_RE = re.compile(
    r"<!--.*?-->"  # comments (non-greedy, may span lines)
    r"|<![^>]*>"  # <!DOCTYPE ...>, CDATA-ish declarations
    r"|<\?[^>]*>"  # processing instructions
    r"|<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>])*)>",
    re.DOTALL,
)

# Tags that terminate the current text block when opened or closed.
_BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "blockquote", "pre", "section", "article", "main", "form", "dl",
    "dt", "dd", "tr",
}
# Containers that assign a semantic label to everything inside them.
_BOILER_CONTAINERS = {"nav", "header", "footer", "aside", "script", "style"}
_CAPTURE_CONTAINERS = {"table", "figure"}
_LINE_BREAKS = {"br", "hr"}


def tokenize_html(text: str) -> List[Block]:
    """Tag-run tokenizer. Produces, in document order:

    * ``table`` blocks: one per ``<table>…</table>``, with the cell grid
      captured from tr/td/th structure;
    * ``figure`` blocks: one per ``<figure>…</figure>`` (caption text);
    * ``abandon`` blocks: visible text inside nav/header/footer/aside/
      script/style;
    * ``text`` blocks: everything else, segmented at block-level tags,
      with anchor-char accounting for link-density scoring.

    Offsets are raw offsets into the source string (span bookkeeping is
    ours — the reference never needed char offsets, SURVEY §7.4c).
    """
    blocks: List[Block] = []
    boiler_depth = 0
    capture: Optional[str] = None  # 'table' | 'figure' when inside one
    capture_depth = 0
    capture_start = -1
    capture_parts: List[str] = []
    capture_anchor = 0
    capture_end = -1
    rows: List[List[str]] = []
    cur_row: Optional[List[str]] = None
    cur_cell: Optional[List[str]] = None
    anchor_depth = 0

    cur_parts: List[str] = []
    cur_start = -1
    cur_end = -1
    cur_anchor = 0

    def flush_text():
        nonlocal cur_parts, cur_start, cur_end, cur_anchor
        if cur_parts:
            body = _normalize_inline("".join(cur_parts))
            if body:
                blocks.append(
                    Block(
                        start=cur_start,
                        end=cur_end,
                        label="abandon" if boiler_depth > 0 else "text",
                        text=body,
                        anchor_chars=cur_anchor,
                    )
                )
        cur_parts, cur_start, cur_end, cur_anchor = [], -1, -1, 0

    def flush_capture(end_offset: int):
        nonlocal capture, capture_depth, capture_start, capture_parts
        nonlocal capture_anchor, capture_end, rows, cur_row, cur_cell
        if capture is not None:
            body = _normalize_inline("".join(capture_parts))
            blk = Block(
                start=capture_start,
                end=end_offset,
                label=capture,
                text=body,
                anchor_chars=capture_anchor,
            )
            if capture == "table":
                grid = [r for r in rows if r]
                blk.rows = grid
            blocks.append(blk)
        capture = None
        capture_depth = 0
        capture_start = -1
        capture_parts = []
        capture_anchor = 0
        capture_end = -1
        rows = []
        cur_row = None
        cur_cell = None

    pos = 0
    for m in _TAG_RE.finditer(text):
        seg = text[pos : m.start()]
        if seg:
            visible = _html.unescape(seg)
            if capture is not None:
                if visible.strip():
                    if capture_start < 0:
                        capture_start = pos
                    capture_parts.append(visible)
                    if anchor_depth > 0:
                        capture_anchor += len(visible.strip())
                    if cur_cell is not None:
                        cur_cell.append(visible)
            elif visible.strip():
                if cur_start < 0:
                    # raw-segment whitespace, not unescaped: offsets must
                    # index the source string
                    cur_start = pos + (len(seg) - len(seg.lstrip()))
                cur_parts.append(visible)
                cur_end = pos + len(seg.rstrip())
                if anchor_depth > 0:
                    cur_anchor += len(visible.strip())
            elif cur_parts:
                cur_parts.append(" ")
        pos = m.end()
        if m.group(2) is None:
            continue  # comment/doctype/PI: invisible, no block boundary
        closing, tag = m.group(1) == "/", m.group(2).lower()

        if tag == "a":
            anchor_depth = max(0, anchor_depth - 1) if closing else anchor_depth + 1
            continue
        if tag in _LINE_BREAKS:
            if capture is None and cur_parts:
                cur_parts.append(" ")
            continue

        if capture is not None:
            # Inside a table/figure container: track nesting + structure.
            if tag == capture:
                if closing:
                    capture_depth -= 1
                    if capture_depth == 0:
                        flush_capture(m.end())
                else:
                    capture_depth += 1
            elif capture == "table":
                if tag == "tr":
                    if closing:
                        if cur_row is not None:
                            rows.append(cur_row)
                        cur_row, cur_cell = None, None
                    else:
                        cur_row, cur_cell = [], None
                elif tag in ("td", "th"):
                    if closing:
                        if cur_row is not None and cur_cell is not None:
                            cur_row.append(_normalize_inline("".join(cur_cell)))
                        cur_cell = None
                    else:
                        cur_cell = []
            continue

        if tag in _CAPTURE_CONTAINERS and not closing:
            flush_text()
            capture = tag
            capture_depth = 1
            capture_start = m.start()
            continue
        if tag in _BOILER_CONTAINERS:
            flush_text()
            boiler_depth = max(0, boiler_depth - 1) if closing else boiler_depth + 1
            continue
        if tag in _BLOCK_TAGS:
            flush_text()
            continue
        # inline tag: no block boundary

    # trailing text after the last tag
    seg = text[pos:]
    if seg:
        visible = _html.unescape(seg)
        if capture is not None:
            if visible.strip():
                capture_parts.append(visible)
        elif visible.strip():
            if cur_start < 0:
                cur_start = pos + (len(seg) - len(seg.lstrip()))
            cur_parts.append(visible)
            cur_end = pos + len(seg.rstrip())
            if anchor_depth > 0:
                cur_anchor += len(visible.strip())
    if capture is not None:
        flush_capture(len(text))
    flush_text()
    return blocks


def gap_has_visible_text(source: str, a_end: int, b_start: int) -> bool:
    """True when the source between two blocks contains visible (non-tag,
    non-comment, non-whitespace) characters — the adjacency predicate for
    the M1a-style fragment merge."""
    if b_start <= a_end:
        return False
    gap = source[a_end:b_start]
    return bool(_html.unescape(_TAG_RE.sub("", gap)).strip())


def _link_heavy(blk: Block) -> bool:
    chars = len(blk.text)
    return (blk.anchor_chars / chars if chars else 1.0) >= LINK_DENSITY_MAX


def merge_adjacent_text_blocks(blocks: List[Block], source: str) -> List[Block]:
    """M1a analog for the 1-D HTML domain: consecutive ``text`` blocks
    separated only by markup/whitespace merge into one (union of spans,
    texts joined by a single space, anchor chars summed) — but only when
    both sides fall on the same side of the link-density threshold, so a
    link-heavy fragment never launders itself into a content block.
    Fixed-point by construction (single left fold)."""
    out: List[Block] = []
    for blk in blocks:
        if (
            out
            and blk.label == "text"
            and out[-1].label == "text"
            and _link_heavy(blk) == _link_heavy(out[-1])
            and not gap_has_visible_text(source, out[-1].end, blk.start)
        ):
            prev = out[-1]
            prev.text = (prev.text + " " + blk.text).strip()
            prev.end = blk.end
            prev.anchor_chars += blk.anchor_chars
        else:
            out.append(blk)
    return out


# --- block scoring (X3' analog: deterministic boilerplate classifier) -------

LINK_DENSITY_MAX = 1.0 / 3.0
MIN_WORDS = 3
MIN_CHARS = 20


def score_blocks(blocks: List[Block]) -> List[Block]:
    """jusText/Boilerpipe-style classification: a ``text`` block is
    boilerplate when its link density ≥ 1/3 or it is short junk
    (< 3 words and < 20 chars). Table/figure blocks are always preserved;
    ``abandon`` blocks are always dropped (label taxonomy parity with P1,
    ``DLA.py:59-90``)."""
    for blk in blocks:
        if blk.label == "abandon":
            blk.kept = False
        elif blk.label in ("table", "figure"):
            blk.kept = True
        else:
            chars = len(blk.text)
            words = len(blk.text.split())
            link_density = blk.anchor_chars / chars if chars else 1.0
            blk.kept = not (
                link_density >= LINK_DENSITY_MAX
                or (words < MIN_WORDS and chars < MIN_CHARS)
            )
            if not blk.kept:
                blk.label = "abandon"
    return blocks
