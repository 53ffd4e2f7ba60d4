"""Pure scalar helpers used by the converter state machine.

Behavioral parity targets: /root/reference/src/Utilities/ParserUtilities.php
(hn:36, dumbPropertyDict:53, dumbCssParser:79, elementStyle:135,
googleListStyle:172, googleHasHeight:194, googleTextEmphasis:209,
googleFixedWidthFont:234, listNumberingStart:253, skipwrap:265,
escapeMd:324, escapeMdSection:332, reformatTable:367, padTablesInText:442,
googleNestCount:475).  All implementations are fresh Python, tested against
the reference's UtilsTest vectors.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from . import constants


_HN_MAP = {"h%d" % i: i for i in range(1, 10)}


def hn(tag: str) -> int:
    """h1..h9 -> 1..9; anything else -> 0.

    Dict lookup, not parsing: the converter's push() runs this on every
    text run that follows an emphasis mark.
    """
    return _HN_MAP.get(tag, 0)


def dumb_property_dict(style: str) -> Dict[str, str]:
    """'a: b; c: d' -> {'a': 'b', 'c': 'd'} (lowercased, trimmed)."""
    result = {}
    for component in style.split(";"):
        if ":" not in component:
            continue
        key, value = component.split(":", 1)
        result[key.strip().lower()] = value.strip().lower()
    return result


def dumb_css_parser(data: str) -> Dict[str, Dict[str, str]]:
    """Tiny CSS parser: selector -> property dict; @import statements dropped."""
    data += ";"
    import_index = data.find("@import")
    while import_index != -1:
        semicolon_index = data.find(";", import_index)
        if semicolon_index == -1:
            data = data[:import_index]
            break
        data = data[:import_index] + data[semicolon_index + 1 :]
        import_index = data.find("@import")

    elements = {}
    for chunk in data.split("}"):
        if not chunk.strip() or "{" not in chunk:
            continue
        selector, declarations = chunk.split("{", 1)
        elements[selector.strip()] = dumb_property_dict(declarations)
    return elements


def element_style(
    attrs: Dict[str, Optional[str]],
    style_def: Dict[str, Dict[str, str]],
    parent_style: Dict[str, str],
) -> Dict[str, str]:
    """Resolve an element's effective CSS from classes + inline style + parent."""
    style = dict(parent_style)
    class_attr = attrs.get("class")
    if class_attr is not None:
        for css_class in class_attr.strip().split():
            style.update(style_def.get("." + css_class, {}))
    style_attr = attrs.get("style")
    if style_attr is not None:
        style.update(dumb_property_dict(style_attr))
    return style


def google_list_style(style: Dict[str, str]) -> str:
    """Derive ul/ol from a google-docs list-style-type."""
    if style.get("list-style-type") in ("disc", "circle", "square", "none"):
        return "ul"
    return "ol"


def google_has_height(style: Dict[str, str]) -> bool:
    return "height" in style


def google_text_emphasis(style: Dict[str, str]) -> List[str]:
    emphasis = []
    for key in ("text-decoration", "font-style", "font-weight"):
        if key in style:
            emphasis.append(style[key])
    return emphasis


def google_fixed_width_font(style: Dict[str, str]) -> bool:
    return style.get("font-family", "") in ("courier new", "consolas")


_RE_INT = re.compile(r"^-?\d+$")


def list_numbering_start(attrs: Dict[str, Optional[str]]) -> int:
    """<ol start=N> -> N-1 (the item handler pre-increments)."""
    start = attrs.get("start")
    if start is not None:
        value = start.strip()
        if value and _RE_INT.match(value):
            return int(value) - 1
    return 0


def skipwrap(
    para: str, wrap_links: bool, wrap_list_items: bool, wrap_tables: bool
) -> bool:
    """Should this output paragraph be exempt from body-width wrapping?"""
    if not wrap_links and constants.RE_LINK.search(para):
        return True
    # 4-space / tab indent => code block
    if para.startswith(("    ", "\t")):
        return True
    stripped = para.lstrip()
    first = stripped[:1]
    if first == "-":
        # leading "--" (not "---"): an emdash paragraph, which does wrap
        if stripped[1:2] == "-" and len(stripped) > 2 and stripped[2] != "-":
            return False
        return not wrap_list_items
    if first == "*" and not stripped.startswith("**"):
        return not wrap_list_items
    if not wrap_tables and constants.RE_TABLE.search(para):
        return True
    if first.isdecimal() and constants.RE_ORDERED_LIST_MATCHER.match(stripped):
        return True
    # RE_UNORDERED_LIST_MATCHER's "-" and "*" cases returned above
    return first == "+" and constants.RE_UNORDERED_LIST_MATCHER.match(
        stripped
    ) is not None


def escape_md(text: str) -> str:
    """Escape markdown-sensitive chars within other markdown constructs."""
    # most link targets and alt texts hold none: skip the regex sub
    for ch in constants.MD_CHARS:
        if ch in text:
            return constants.RE_MD_CHARS_MATCHER.sub(r"\\\1", text)
    return text


#: the three line-leading list/hr lookalikes, each keyed by the character
#: it cannot match without (the guard in escape_md_section): "N." before
#: space, "+" before space, "-" before space or another dash.  Same
#: replacements as the three separate reference regexes, fused for speed.
_LINE_MARKERS = {".": r"\d+\.(?=\s)", "+": r"\+(?=\s)", "-": r"-(?=\s|-)"}
_RE_MD_LINE_MARKER = re.compile(
    r"^(\s*)(%s)" % "|".join(_LINE_MARKERS.values()), re.MULTILINE
)


def _line_marker_repl(m: "re.Match") -> str:
    body = m.group(2)
    if body[0].isdigit():  # "N." -> "N\."
        return m.group(1) + body[:-1] + "\\."
    return m.group(1) + "\\" + body


def escape_md_section(text: str, snob: bool = False) -> str:
    """Escape markdown-sensitive chars across whole document sections."""
    if "\\" in text:
        text = constants.RE_MD_BACKSLASH_MATCHER.sub(r"\\\1", text)
    if snob:
        text = constants.RE_MD_CHARS_MATCHER_ALL.sub(r"\\\1", text)
    # most sections hold no line-marker character: skip the regex sub
    for ch in _LINE_MARKERS:
        if ch in text:
            return _RE_MD_LINE_MARKER.sub(_line_marker_repl, text)
    return text


def reformat_table(lines: List[str], right_margin: int) -> List[str]:
    """Pad table cell widths so pipes align; keeps ragged colspan cells."""
    if not lines:
        return []

    max_width = [len(x.rstrip()) + right_margin for x in lines[0].split("|")]
    max_cols = len(max_width)
    for line in lines:
        cols = [x.rstrip() for x in line.split("|")]
        num_cols = len(cols)
        # don't drop any data if colspan attributes result in unequal lengths
        if num_cols < max_cols:
            cols += [""] * (max_cols - num_cols)
        elif max_cols < num_cols:
            max_width += [len(x) + right_margin for x in cols[-(num_cols - max_cols) :]]
            max_cols = num_cols
        max_width = [
            max(len(x) + right_margin, old_len) for x, old_len in zip(cols, max_width)
        ]

    new_lines = []
    for line in lines:
        cols = [x.rstrip() for x in line.split("|")]
        trimmed = line.strip()
        if trimmed and set(trimmed) <= {"-", "|"}:
            filler = "-"
            new_cols = [
                x.rstrip() + (filler * (M - len(x.rstrip())))
                for x, M in zip(cols, max_width)
            ]
            new_lines.append("|-" + "|".join(new_cols) + "|")
        else:
            filler = " "
            new_cols = [
                x.rstrip() + (filler * (M - len(x.rstrip())))
                for x, M in zip(cols, max_width)
            ]
            new_lines.append("| " + "|".join(new_cols) + "|")
    return new_lines


class PadTableState:
    """Carry-over for pad_tables_in_text across interleaved segments: an
    open sentinel block at a segment boundary keeps buffering into the
    next segment instead of being silently discarded."""

    def __init__(self) -> None:
        self.table_buffer: List[str] = []
        self.table_started = False


def pad_tables_in_text(
    text: str,
    right_margin: int = 1,
    state: "PadTableState" = None,
    flush: bool = None,
) -> str:
    """Reformat every sentinel-delimited table block in the wrapped output.

    ``flush`` closes a still-open sentinel block at the end (malformed
    HTML with an unclosed <table> must not lose the buffered rows or any
    content after them).  Defaults to True for standalone calls; pass an
    explicit ``state``/``flush`` when threading segments and flush only
    on the last one.
    """
    standalone = state is None
    if state is None:
        state = PadTableState()
    if flush is None:
        flush = standalone
    lines = text.split("\n")
    new_lines: List[str] = []
    for line in lines:
        if constants.TABLE_MARKER_FOR_PAD in line:
            state.table_started = not state.table_started
            if not state.table_started:
                new_lines.extend(
                    reformat_table(state.table_buffer, right_margin)
                )
                state.table_buffer = []
                new_lines.append("")
            continue
        if state.table_started:
            state.table_buffer.append(line)
        else:
            new_lines.append(line)
    if flush and state.table_started:
        new_lines.extend(reformat_table(state.table_buffer, right_margin))
        state.table_buffer = []
        state.table_started = False
        new_lines.append("")
    return "\n".join(new_lines)


_RE_MARGIN = re.compile(r"^(-?\d+(?:\.\d+)?)(px|pt)?$", re.IGNORECASE)


def google_nest_count(style: Dict[str, Optional[str]], google_list_indent: int) -> int:
    """Nesting level of a google-docs list item from its margin-left."""
    nest_count = 0
    value = style.get("margin-left")
    if value is not None:
        m = _RE_MARGIN.match(value.strip())
        if m and google_list_indent > 0:
            nest_count = int(round(float(m.group(1))) // google_list_indent)
    return nest_count
