"""Frozen reference kernel for differential tests of ``core.htmlx``.

A verbatim copy of the tokenizer regex, tag tables, ``_finish_block``,
``segment_blocks`` and ``classify_blocks`` as they stood before the hot path
was rewritten. The rewrite must reproduce this kernel exactly: the same
``_TAG_RE.split`` list, the same ``Block`` fields, and the same extracted text
and spans. Do not edit it to match a new kernel; a new behaviour needs a new
reference.
"""

from __future__ import annotations

import html as _html
import re

from ai_service_ocr_grading_handler_spark.core.htmlx import (
    Block,
    ExtractResult,
    decode_html,
    normalize_ws,
)

_TAG_RE = re.compile(
    r"(<(/?)([a-zA-Z][a-zA-Z0-9:-]*)(?:\"[^\"]*\"|'[^']*'|[^>\"'])*>"
    r"|<!--.*?-->"  # comments
    r"|<!\[CDATA\[.*?\]\]>"  # cdata
    r"|<!(?:[^>])*>"  # doctype / other declarations
    r"|<\?(?:[^>])*>)",  # processing instructions
    re.DOTALL,
)
_SPLIT_STEP = 4  # fields per tag in _TAG_RE.split output

# Tags whose opening/closing terminates the current text block.
_BLOCK_TAGS = frozenset(
    """p div li h1 h2 h3 h4 h5 h6 td th article section aside header footer
    nav ul ol dl dt dd table thead tbody tfoot tr blockquote pre main body
    html head figure figcaption form fieldset hr br title option select
    textarea button noscript caption address center""".split()
)

# Raw-text elements: content until the matching close tag is not HTML.
_RAWTEXT_TAGS = frozenset({"script", "style"})

# Structural priors (trafilatura-style).
_CONTENT_CONTAINERS = frozenset({"article", "main", "blockquote", "pre"})
_BOILER_CONTAINERS = frozenset(
    {"nav", "header", "footer", "aside", "form", "select", "option", "button", "head"}
)

# Void elements never get pushed on the open-tag stack.
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


_F_BLOCK, _F_RAWTEXT, _F_ANCHOR, _F_VOID, _F_CONTENT, _F_BOILER = 1, 2, 4, 8, 16, 32
_TAG_FLAGS: dict[str, int] = {
    t: 0
    for t in "span em strong b i u s small sup sub code a img input link meta".split()
}
for _t in _VOID_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_VOID
for _t in _BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in _RAWTEXT_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_RAWTEXT
for _t in _CONTENT_CONTAINERS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_CONTENT
for _t in _BOILER_CONTAINERS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BOILER
_TAG_FLAGS["a"] = _F_ANCHOR


def _finish_block(
    runs: list[tuple[str, bool, int, int]],
    n_tags: int,
    block_id: int,
    in_article: int,
    in_boiler: int,
    kind: str,
) -> Block | None:
    """Build a Block from accumulated (text, is_anchor, start, end) runs."""
    if len(runs) == 1:
        # single-run fast path (the common case: one text run between
        # tags): the anchor text, when present, IS the whole run, so its
        # normalized length equals n_chars — no second normalize pass
        raw, is_anchor, _, _ = runs[0]
        text = normalize_ws(_html.unescape(raw) if "&" in raw else raw)
        if not text:
            return None
        anchor_len = len(text) if is_anchor else 0
    else:
        raw = "".join([r[0] for r in runs])  # listcomp: faster than genexpr in join
        # entity unescape only when an entity can exist (hot path: plain text)
        text = normalize_ws(_html.unescape(raw) if "&" in raw else raw)
        if not text:
            return None
        anchor_runs = [r[0] for r in runs if r[1]]
        if anchor_runs:
            anchor_raw = (
                anchor_runs[0] if len(anchor_runs) == 1 else "".join(anchor_runs)
            )
            anchor_len = len(
                normalize_ws(
                    _html.unescape(anchor_raw) if "&" in anchor_raw else anchor_raw
                )
            )
        else:
            anchor_len = 0
    n_chars = len(text)
    n_words = text.count(" ") + 1
    # Boilerpipe-style wrapped-line text density (80-char lines);
    # integer ceil — n_chars >= 1 here, so the result is always >= 1.
    # Positional construction: keyword construction of a 15-field slots
    # dataclass measured ~2x slower on this hot path (one Block per text
    # block, ~18 per document).
    return Block(
        block_id,
        text,
        runs[0][2],
        runs[-1][3],
        n_chars,
        n_words,
        anchor_len,
        n_tags,
        anchor_len / n_chars,  # n_chars >= 1 (empty text returned above)
        n_words / ((n_chars + 79) // 80),
        in_article > 0,
        in_boiler > 0,
        kind,
    )


def segment_blocks(html_text: str) -> list[Block]:
    """Segment decoded HTML into text blocks at block-tag boundaries."""
    blocks: list[Block] = []
    runs: list[tuple[str, bool, int, int]] = []  # (raw_text, in_anchor, start, end)
    n_tags = 0
    in_anchor = 0
    in_article = 0
    in_boiler = 0
    rawtext_until: str | None = None  # inside <script>/<style>
    kind_stack: list[str] = []
    pos = 0

    # (the old flush() closure is inlined at its two call sites below:
    # a closure call + nonlocal write per block boundary measured ~5% of
    # the whole kernel. `runs` is cleared IN PLACE, not rebound, so the
    # hot loop's bound runs_append stays valid; _finish_block only keeps
    # scalars/strings.)

    # hot loop: ~100 iterations per document across the whole corpus —
    # locals for everything reached per iteration; per-tag behavior is ONE
    # _TAG_FLAGS dict lookup (flags==0 covers unknown + common inline tags),
    # and lower() runs only when a tag isn't already lowercase (the
    # overwhelming case), which skips one string alloc per tag.
    # parts = [text, whole_tag, closing, name, text, ...]; iterating
    # zip() over strided slices beats manual index arithmetic (~10% on
    # the loop) — the trailing text after the last tag is parts[-1],
    # outside every 4-stride group, handled after the loop as before.
    _flags_get = _TAG_FLAGS.get
    runs_append = runs.append
    parts = _TAG_RE.split(html_text)
    for seg, whole, closing, name in zip(
        parts[0::_SPLIT_STEP],
        parts[1::_SPLIT_STEP],
        parts[2::_SPLIT_STEP],
        parts[3::_SPLIT_STEP],
    ):
        if seg:
            if rawtext_until is None:
                mstart = pos + len(seg)
                runs_append((seg, in_anchor > 0, pos, mstart))
                pos = mstart + len(whole)
            else:
                pos += len(seg) + len(whole)
        else:
            pos += len(whole)
        if name is None:
            continue  # comment/doctype/PI
        flags = _flags_get(name)
        if flags is None:
            if not name.islower():
                name = name.lower()
                flags = _flags_get(name, 0)
            else:
                flags = 0
        if rawtext_until is not None:
            if closing and name == rawtext_until:
                rawtext_until = None
            continue
        if flags == 0:
            if not closing:
                n_tags += 1
            continue
        if flags & _F_BLOCK:
            if runs:
                b = _finish_block(
                    runs,
                    n_tags,
                    len(blocks),
                    in_article,
                    in_boiler,
                    kind_stack[-1] if kind_stack else "div",
                )
                if b is not None:
                    blocks.append(b)
                runs.clear()
            n_tags = 0
            # Anchor state RESETS at block boundaries: an unclosed <a> in
            # scraped HTML (common) would otherwise mark every later text
            # run as anchor text, drive link_density to 1.0 for the rest of
            # the page, and classify a full article as boilerplate (found
            # by review). This emulates the recovery a DOM parser gives
            # Boilerpipe-style per-block anchor counting; the cost is that
            # a LEGAL block-wrapping anchor (<a><div>card</div></a>) counts
            # its inner blocks as plain text — the bounded error over the
            # unbounded one. Void separators (<br>/<hr>) keep anchor scope:
            # "line1<br>line2" inside one <a> is routine markup.
            if not flags & _F_VOID:
                in_anchor = 0
                if not closing:
                    kind_stack.append(name)
                elif kind_stack and name in kind_stack:
                    # pop to the matching open tag (tolerant of misnesting)
                    while kind_stack:
                        if kind_stack.pop() == name:
                            break
            if flags & _F_CONTENT:
                in_article += -1 if closing else 1
                in_article = max(0, in_article)
            elif flags & _F_BOILER:
                in_boiler += -1 if closing else 1
                in_boiler = max(0, in_boiler)
        elif flags & _F_ANCHOR:
            if closing:
                if in_anchor:
                    in_anchor -= 1
            else:
                n_tags += 1
                in_anchor += 1
        elif flags & _F_RAWTEXT:
            if not closing:
                rawtext_until = name
        else:
            # void-only inline tags (img/input/link/meta...): open counts as
            # a tag, same as the unknown-tag path
            if not closing:
                n_tags += 1
    # trailing text after the last tag
    if pos < len(html_text) and rawtext_until is None:
        seg = html_text[pos:]
        runs.append((seg, in_anchor > 0, pos, len(html_text)))
    if runs:
        b = _finish_block(
            runs,
            n_tags,
            len(blocks),
            in_article,
            in_boiler,
            kind_stack[-1] if kind_stack else "div",
        )
        if b is not None:
            blocks.append(b)
        runs.clear()
    return blocks


_MAX_LINK_DENSITY = 1.0 / 3.0
_MIN_CONTENT_WORDS = 16
_NEIGHBOR_WORDS = 8


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """Content/boilerplate labeling: structural priors, then density rules,
    then one neighbor-smoothing pass (Boilerpipe NumberOfWordsClassifier
    simplification)."""
    n = len(blocks)
    for i, b in enumerate(blocks):
        if b.depth_boiler:
            # nav/header/footer/aside: boilerplate unless it is a long,
            # link-free passage (rare but possible: footers with legal text)
            b.is_content = b.n_words >= 50 and b.link_density <= 0.1
        elif b.depth_article:
            # article/main: content unless dominated by links
            b.is_content = b.link_density <= 0.5
        else:
            if b.link_density > _MAX_LINK_DENSITY:
                b.is_content = False
            elif b.n_words >= _MIN_CONTENT_WORDS:
                b.is_content = True
            else:
                b.is_content = False
    # neighbor smoothing: a short low-link block flanked by content becomes content
    for i, b in enumerate(blocks):
        if b.is_content or b.depth_boiler or b.link_density > _MAX_LINK_DENSITY:
            continue
        prev_c = i > 0 and blocks[i - 1].is_content and blocks[i - 1].n_words >= _NEIGHBOR_WORDS
        next_c = i + 1 < n and blocks[i + 1].is_content and blocks[i + 1].n_words >= _NEIGHBOR_WORDS
        if prev_c and next_c:
            b.is_content = True
    # per-block confidence in the assigned label (north star: per-block
    # confidence scoring): strong signals = structural container agreement,
    # long link-free text; weak = smoothing rescues, short blocks
    # conditional expressions instead of min() — a builtin call per clamp
    # is measurable at one-block-per-~60-chars volume (values unchanged)
    for b in blocks:
        ld = b.link_density / _MAX_LINK_DENSITY
        link_conf = 1.0 - (ld if ld < 1.0 else 1.0) * 0.5
        lc = b.n_words / (2.0 * _MIN_CONTENT_WORDS)
        length_conf = lc if lc < 1.0 else 1.0
        if b.is_content:
            base = 0.9 if b.depth_article else 0.6
            c = base * link_conf + 0.4 * length_conf
            b.confidence = round(c if c < 1.0 else 1.0, 4)
        else:
            base = 0.9 if b.depth_boiler else 0.6
            c = base + 0.1 * (1.0 - length_conf)
            b.confidence = round(c if c < 1.0 else 1.0, 4)
    return blocks


_BLOCK_SEP = "\n\n"


def split_tags(html_text: str) -> list[str | None]:
    """The reference tokenizer output: [text, whole_tag, closing, name, ...]."""
    return _TAG_RE.split(html_text)


def extract_doc(html_bytes: bytes | str | None) -> ExtractResult:
    """The reference ``extract_doc``: text, spans and classified blocks."""
    if html_bytes is None:
        return ExtractResult(text="", spans=[])
    if isinstance(html_bytes, (bytes, bytearray, memoryview)):
        html_text = decode_html(html_bytes)
    else:
        html_text = str(html_bytes)
    blocks = classify_blocks(segment_blocks(html_text))
    content = [b for b in blocks if b.is_content]
    text = _BLOCK_SEP.join(b.text for b in content)
    spans = [(b.src_start, b.src_end, b.block_id) for b in content]
    return ExtractResult(text=text, spans=spans, blocks=blocks)
