"""HTML -> markdown span extraction: a single-pass tokenizer + tag-stack
state machine.

This is a fresh, idiomatic-Python implementation of the computation performed
by the reference (ineersa/html2text).  Parity targets, cited per behavior:

  * tag dispatch           /root/reference/src/Processors/TagProcessor.php:60-545
  * output state machine   /root/reference/src/DataContainer.php:74-407
  * text pipeline          /root/reference/src/Processors/TextProcessor.php:23-152
  * entity pre-pass        /root/reference/src/HTML2Markdown.php:147-164
  * wrap pass              /root/reference/src/Processors/WrapProcessor.php:22-127

Architectural note (why this is NOT a port): the reference parses with a
repairing DOM (libxml HTML5) and then runs three regex pre-scans
(TrProcessor, AnchorUtilities, ListProcessor) purely to *undo* the DOM's
auto-repair so its event stream matches a raw tokenizer.  We tokenize with
``html.parser.HTMLParser`` directly, so the raw event stream is native and
the entire pre-scan/depth-repair machinery disappears.  Malformed HTML never
raises: the tokenizer simply emits the events as written.

Entities are rewritten to inert placeholder tokens before tokenization
(``__PH2T__ENT_x__`` / ``__PH2T__CHAR_x__``) so HTMLParser's attribute
unescaping can't bypass the unifiable/charref tables; the text pipeline
decodes them with full WHATWG control-character remapping.

The converter is instantiated once per document inside a vectorized Arrow
batch loop -- state never crosses rows, so documents are embarrassingly
parallel (see html2text_spark.pipeline).
"""

from __future__ import annotations

import functools
import html.entities
import re
import textwrap
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import Callable, Dict, List, Optional, Tuple

from . import constants, utils
from .config import Config
from .urljoin import url_join

_PLACEHOLDER_RE = re.compile(r"__PH2T__(CHAR|ENT|RAW)_([^_]+(?:_[^_]+)*?)__")
_ENTITY_RE = re.compile(r"&(#[xX][0-9A-Fa-f]+|#[0-9]+|[A-Za-z][A-Za-z0-9]+);")
# ASCII whitespace only, matching the reference's non-unicode /\s+/
# (src/DataContainer.php:157)
_WS_RE = re.compile(r"[ \t\n\r\f\v]+")

#: push()'s stressed-boundary test, precompiled (re.match with a literal
#: pattern pays the pattern-cache lookup on every stressed-adjacent run)
_STRESSED_BOUNDARY_RE = re.compile(r"[^\[\](){}\s.!?]")

#: shared read-only empty style dict (see handle_tag)
_EMPTY_STYLE: Dict[str, str] = {}


# ----------------------------------------------------------------------
# fast tokenizer (regex) with strict eligibility + HTMLParser fallback
# ----------------------------------------------------------------------
#
# html.parser.HTMLParser costs ~25us per tag in pure-Python dispatch.  The
# common case -- well-formed markup with no residual entities after the
# placeholder pre-pass -- can be tokenized ~4x faster with one compiled
# regex.  Eligibility is checked strictly; ANY construct whose HTMLParser
# semantics we do not replicate bit-for-bit (residual '&', CDATA sections,
# unmatched '<', script/style bodies containing '<', exotic tag syntax)
# aborts to the HTMLParser path for the whole document.  A differential
# fuzz test (tests/test_fast_tokenizer.py) asserts both paths convert
# identically on generated and fixture corpora.
#
# The attrs group is atomic: a quoted value also matches the unquoted
# branch, so without it a start tag with n attributes and no closing '>'
# backtracks through 2**n parses before failing.  A tag that only matches
# by re-reading a quoted value as unquoted goes to HTMLParser instead.
# The group is captured inside a lookahead and consumed by a backreference,
# which is atomic on every Python; ``(?>...)`` needs 3.11.

_FAST_TAG_RE = re.compile(
    r"""<(?:
          (?P<end>/)\s*(?P<ename>[a-zA-Z][a-zA-Z0-9:_.-]*)\s*>
        | (?P<name>[a-zA-Z][a-zA-Z0-9:_.-]*)
          (?=(?P<attrs>(?:\s+[^\s/>=]+(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s>]+))?)*))(?P=attrs)
          \s*(?P<selfclose>/?)>
        | !--(?P<comment>.*?)--\s*>
        | !(?P<decl>[^>]*)>
        | \?(?P<pi>[^>]*)>
        )""",
    re.VERBOSE | re.DOTALL,
)

_FAST_ATTR_RE = re.compile(
    r"""([^\s/>=]+)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]+))?"""
)

_CDATA_ELEMS = ("script", "style")


def _fast_tokenize(html_text: str) -> Optional[list]:
    """Tokenize into [(kind, payload)] events identical to HTMLParser's,
    or None if the document is not eligible for the fast path."""
    if "&" in html_text or "<![" in html_text:
        return None
    events: list = []
    pos = 0
    n = len(html_text)
    lower_cache: Optional[str] = None
    while True:
        lt = html_text.find("<", pos)
        if lt == -1:
            if pos < n:
                events.append(("data", html_text[pos:]))
            return events
        if lt > pos:
            events.append(("data", html_text[pos:lt]))
        m = _FAST_TAG_RE.match(html_text, lt)
        if m is None:
            return None  # exotic construct: let HTMLParser decide
        pos = m.end()
        # one groups() call instead of up to 8 group() calls per tag --
        # this loop runs once per tag of every eligible document
        end, ename, name, raw_attrs, selfclose, comment, decl, pi = m.groups()
        if decl is not None and decl.startswith("--"):
            # '<!--' without a well-formed '-->' (e.g. '<!-->'): HTMLParser
            # treats these as unterminated-comment lookalikes with their
            # own recovery rules -- fall back rather than guess
            return None
        if comment is not None or decl is not None or pi is not None:
            continue  # dropped, like handle_comment/decl/pi
        if end:
            events.append(("end", ename.lower()))
            continue
        name = name.lower()
        if raw_attrs:
            attrs = _FAST_ATTR_RE.findall(raw_attrs)
            attrs = [
                (k, v[1:-1] if v[:1] in ('"', "'") else (v if v else None))
                for k, v in attrs
            ]
        else:
            attrs = []
        events.append(("start", name, attrs))
        if selfclose:
            events.append(("end", name))
            continue
        if name in _CDATA_ELEMS:
            # replicate HTMLParser CDATA mode only for the simple case:
            # raw content with no '<' up to the matching close tag
            if lower_cache is None:
                lower_cache = html_text.lower()
            close = lower_cache.find("</" + name, pos)
            if close == -1:
                return None  # unterminated: fall back
            content = html_text[pos:close]
            if "<" in content:
                return None
            m2 = _FAST_TAG_RE.match(html_text, close)
            if m2 is None or not m2.group("end") \
                    or m2.group("ename").lower() != name:
                return None
            if content:
                events.append(("data", content))
            events.append(("end", name))
            pos = m2.end()


def _preprocess_entities(html_text: str) -> str:
    """Rewrite &ent;/&#nnn; to inert placeholder tokens pre-tokenization."""

    def repl(match: re.Match) -> str:
        entity = match.group(1)
        if entity[0] == "#":
            return "__PH2T__CHAR_" + entity[1:].lower() + "__"
        # NB: HTML5 entity names are case-sensitive (&Delta; != &delta;);
        # the PHP reference lowercases here, corrupting uppercase-named
        # entities -- no golden fixture distinguishes, so we keep the
        # spec-correct (and upstream-Python) behavior
        return "__PH2T__ENT_" + entity + "__"

    # fast path: no '&' means _ENTITY_RE cannot match and no sentinel
    # means the self-encode below is a no-op -- skip both scans (runs
    # once per html fragment of every document)
    if "&" not in html_text:
        if "__PH2T__" not in html_text:
            return html_text
        return html_text.replace("__PH2T__", "__PH2T__RAW_x__")
    # input text that literally contains the sentinel (adversarial or
    # unlucky documents) must survive the round trip: self-encode it as a
    # RAW placeholder BEFORE generating real ones, decoded back verbatim
    if "__PH2T__" in html_text:
        html_text = html_text.replace("__PH2T__", "__PH2T__RAW_x__")
    return _ENTITY_RE.sub(repl, html_text)


@dataclass
class AnchorElement:
    attrs: Dict[str, Optional[str]]
    count: int
    outcount: int


@dataclass
class ListElement:
    name: str
    num: int


class _Parser(HTMLParser):
    """Tokenizer + state machine.  One instance per document."""

    def __init__(self, cfg: Config):
        super().__init__(convert_charrefs=False)
        self.cfg = cfg

        # --- output buffer state (reference DataContainer) ---
        self.outtextlist: List[str] = []
        self.quiet = 0
        self.p_p = 0  # number of newlines to print before next output
        self.space = False
        self.last_was_nl = False
        self.start = True
        self.blockquote = 0
        self.pre = False
        self.startpre = False
        self.code = False
        self.br_toggle = ""
        self.lst: List[ListElement] = []
        self.list_code_indent = ""
        self.pre_indent = ""
        self.abbr_data: Optional[List[str]] = None
        self.abbr_list: Dict[str, str] = {}
        self.maybe_automatic_link: Optional[str] = None
        self.empty_link = False
        self.a: List[AnchorElement] = []
        # footnote entries of self.a with an href, keyed by (href, title
        # present, title): the pair an anchor must match to share one
        self.a_index: Dict[tuple, AnchorElement] = {}
        self.acount = 0
        self.outcount = 0
        self.emphasis = 0
        self.drop_white_space = 0
        self.style = 0
        self.style_def: Dict[str, Dict[str, str]] = {}
        self.stressed = False
        self.preceding_stressed = False
        self.preceding_data = ""
        self.current_tag = ""

        # --- tag dispatch state (reference TagProcessor) ---
        self.tag_stack: List[Tuple[str, dict, dict]] = []
        self.tag_style: Dict[str, str] = {}
        self.parent_style: Dict[str, str] = {}
        self.astack: List[Optional[dict]] = []
        self.inheader = False
        self.split_next_td = False
        self.abbr_title: Optional[str] = None
        self.quote = False
        self.last_was_list = False
        self.table_start = False
        self.td_count = 0

        # --- media span tracking (graft addition) ---
        # media refs of each html segment in document order: its <img>
        # srcs, then the passthrough media span that ends it
        self.media: List[List[str]] = [[]]

    # ------------------------------------------------------------------
    # tokenizer event entry points
    # ------------------------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        self.handle_tag(tag, self._attr_dict(attrs), start=True)

    def handle_endtag(self, tag: str) -> None:
        self.handle_tag(tag, {}, start=False)

    # handle_startendtag default = starttag + endtag, matching the
    # reference's paired DOM events for explicitly self-closed tags.

    def _attr_dict(self, attrs) -> Dict[str, Optional[str]]:
        # first occurrence wins, like the reference's DOM attribute map
        out: Dict[str, Optional[str]] = {}
        for name, value in attrs:
            name = name.lower()
            if name not in out:
                out[name] = self._decode_attr(value)
        return out

    def _decode_attr(self, value: Optional[str]) -> Optional[str]:
        if not value:
            return value
        if "__PH2T__" not in value:  # fast path: no entities in the value
            return self._normalize_plain_text(value)
        result: List[str] = []
        pos = 0
        for m in _PLACEHOLDER_RE.finditer(value):
            if m.start() > pos:
                result.append(value[pos : m.start()])
            result.append(self._convert_placeholder(m.group(1), m.group(2)))
            pos = m.end()
        result.append(value[pos:])
        return self._normalize_plain_text("".join(result))

    def handle_data(self, data: str) -> None:
        if "__PH2T__" not in data:  # fast path: no entities in this run
            self.push(data if data.isascii() else self._normalize_plain_text(data))
            return
        pos = 0
        for m in _PLACEHOLDER_RE.finditer(data):
            if m.start() > pos:
                self.push(self._normalize_plain_text(data[pos : m.start()]))
            converted = self._convert_placeholder(m.group(1), m.group(2))
            if converted:
                # a restored RAW literal is ordinary text, not an entity:
                # it must take the normal escape_md path
                self.push(converted, entity_char=(m.group(1) != "RAW"))
            pos = m.end()
        if pos < len(data):
            self.push(self._normalize_plain_text(data[pos:]))

    def handle_entityref(self, name: str) -> None:
        # residual refs the placeholder pre-pass didn't match (1-char names)
        converted = self.entityref(name)
        if converted:
            self.push(converted, entity_char=True)

    def handle_charref(self, name: str) -> None:
        converted = self.charref(name)
        if converted:
            self.push(converted, entity_char=True)

    # comments / PIs / doctype are dropped (boilerplate strip rule #1) by
    # HTMLParser's own no-op handle_comment/handle_decl/handle_pi

    # ------------------------------------------------------------------
    # entity decoding (reference TextProcessor:82-152)
    # ------------------------------------------------------------------

    def charref(self, name: str) -> str:
        if not name:
            return ""
        if name[0] in ("x", "X"):
            try:
                c = int(name[1:], 16)
            except ValueError:
                c = 0
        else:
            try:
                c = int(name)
            except ValueError:
                c = 0
        if c <= 0 or c >= 0x110000 or (0xD800 <= c < 0xE000):
            c = 0xFFFD  # REPLACEMENT CHARACTER
        c = constants.CONTROL_CHARACTER_REPLACEMENTS.get(c, c)
        if not self.cfg.unicode_snob and c in constants.UNIFIABLE_N:
            return constants.UNIFIABLE_N[c]
        return chr(c)

    def entityref(self, c: str) -> str:
        if not self.cfg.unicode_snob and c in constants.UNIFIABLE:
            return constants.UNIFIABLE[c]
        if c == "nbsp":
            return constants.UNIFIABLE["nbsp"]
        decoded = html.entities.html5.get(c + ";")
        if decoded is None:
            return "&" + c + ";"
        return decoded

    def _convert_placeholder(self, kind: str, value: str) -> str:
        if kind == "CHAR":
            return self.charref(value)
        if kind == "RAW":  # literal __PH2T__ present in the source text
            return "__PH2T__"
        return self.entityref(value)

    @staticmethod
    def _normalize_plain_text(text: str) -> str:
        if not text:
            return text
        text = text.replace("\u200e", "").replace("\u200f", "")
        return text.replace("\u00a0", constants.NBSP_PLACEHOLDER)

    # ------------------------------------------------------------------
    # output state machine (reference DataContainer:74-305)
    # ------------------------------------------------------------------

    def out(self, s: str) -> None:
        self.outtextlist.append(s)
        if s:
            self.last_was_nl = s[-1] == "\n"

    def push(self, data: str, entity_char: bool = False) -> None:
        if not data:
            # data may be empty for some entities (e.g. LEFT-TO-RIGHT MARK)
            return

        if self.stressed:
            data = data.strip()
            self.stressed = False
            self.preceding_stressed = True
        elif self.preceding_stressed:
            if (
                _STRESSED_BOUNDARY_RE.match(data[0])
                and utils.hn(self.current_tag) == 0
                and self.current_tag not in ("a", "code", "pre")
            ):
                # should match a letter or common punctuation
                data = " " + data
            self.preceding_stressed = False

        if self.style:
            self.style_def.update(utils.dumb_css_parser(data))

        if self.maybe_automatic_link is not None:
            href = self.maybe_automatic_link
            if (
                href == data
                and constants.RE_ABSOLUTE_URL_MATCHER.match(href)
                and self.cfg.use_automatic_links
            ):
                self.o("<" + data + ">")
                self.empty_link = False
                return
            self.o("[")
            self.maybe_automatic_link = None
            self.empty_link = False

        if not self.code and not self.pre and not entity_char:
            data = utils.escape_md_section(data, self.cfg.escape_snob)
        self.preceding_data = data
        self.empty_link = False
        self.o(data, True)

    def o(self, data: str, puredata: bool = False, force=False) -> None:
        """Emit output, handling indentation, whitespace and footnotes."""
        if self.abbr_data is not None:
            self.abbr_data.append(data)

        if self.quiet:
            return

        if self.cfg.google_doc:
            # prevent whitespace immediately after 'begin emphasis' marks
            lstripped_data = data.lstrip()
            if self.drop_white_space and not (self.pre or self.code):
                data = lstripped_data
            if lstripped_data:
                self.drop_white_space = 0

        if puredata and not self.pre:
            # collapse is only needed for a double space or a non-space
            # ws char (all unprintable); a lone space is already collapsed.
            # Two C string scans cost a fifth of one regex search here.
            if "  " in data or not data.isprintable():
                data = _WS_RE.sub(" ", data)
            if data and data[0] == " ":
                self.space = True
                data = data[1:]
        if not data and force is False:
            return

        bq = ""
        if self.startpre or self.pre or self.blockquote > 0:
            data, bq = self._line_prefix(data, force)

        if self.start:
            self.space = False
            self.p_p = 0
            self.start = False

        if force == "end":
            # It's the end.
            self.p_p = 0
            self.out("\n")
            self.space = False

        outtextlist = self.outtextlist
        if self.p_p:
            # ends in bq, or in the newline when there is no bq
            outtextlist.append((self.br_toggle + "\n" + bq) * self.p_p)
            self.last_was_nl = not bq
            self.space = False
            self.br_toggle = ""

        if self.space:
            if not self.last_was_nl:
                outtextlist.append(" ")
            self.space = False

        if self.a and (
            (self.p_p == 2 and self.cfg.links_each_paragraph) or force == "end"
        ):
            self._flush_links(force == "end")

        if self.abbr_list and force == "end":
            for abbr, definition in self.abbr_list.items():
                self.out("  *[" + abbr + "]: " + definition + "\n")

        self.p_p = 0
        outtextlist.append(data)
        if data:
            self.last_was_nl = data[-1] == "\n"
        self.outcount += 1

    def _line_prefix(self, data: str, force) -> Tuple[str, str]:
        """Open a pending <pre> block and indent ``data`` inside one.
        Returns the data and the prefix of each new output line (the
        blockquote marks, plus the code indent inside <pre>)."""
        if self.startpre:
            if not data.startswith("\n") and not data.startswith("\r\n"):
                data = "\n" + data
            if self.cfg.mark_code:
                self.out("\n[code]")
                self.p_p = 0

        bq = ""
        if self.blockquote > 0:  # a stray </blockquote> takes it below 0
            bq = ">" * self.blockquote
            if not (force in (True, "end") and data and data[0] == ">"):
                bq += " "

        if self.pre:
            if self.lst or self.list_code_indent:
                bq += self.list_code_indent
            if not self.cfg.backquote_code_style:
                bq += "    "
            data = data.replace("\n", "\n" + bq)
            self.pre_indent = bq

        if self.startpre:
            self.startpre = False
            if self.cfg.backquote_code_style:
                self.out("\n" + self.pre_indent + "```")
                self.p_p = 0
            elif self.list_code_indent or self.lst:
                # drop the first newline+indent so list-wrapped <pre> blocks
                # don't open with a blank line
                data = re.sub(
                    r"^\r?\n" + re.escape(self.pre_indent), "", data, count=1
                )
        return data, bq

    def _flush_links(self, end: bool) -> None:
        """Print the reference links used by earlier output and drop them
        from self.a and its index."""
        if end:
            self.out("\n")
        newa = []
        for link in self.a:
            if self.outcount > link.outcount:
                self.out(
                    "   ["
                    + str(link.count)
                    + "]: "
                    + url_join(self.cfg.base_url, link.attrs.get("href") or "")
                )
                title = link.attrs.get("title")
                if title is not None and str(title).strip():
                    self.out(" (" + title + ")")
                self.out("\n")
            else:
                newa.append(link)
        if len(self.a) != len(newa):
            # don't need an extra line when nothing was done
            self.out("\n")
            self.a_index = {
                k: link
                for k, link in self.a_index.items()
                if not self.outcount > link.outcount
            }
        self.a = newa

    def p(self) -> None:
        """Set pretty print to 1 or 2 lines."""
        self.p_p = 1 if self.cfg.single_line_break else 2

    def pbr(self) -> None:
        """Pretty print has a line break."""
        if self.p_p == 0:
            self.p_p = 1

    def soft_br(self) -> None:
        """Soft breaks."""
        self.pbr()
        self.br_toggle = "  "

    # ------------------------------------------------------------------
    # google-docs emphasis (reference DataContainer:311-399)
    # ------------------------------------------------------------------

    def add_emphasis(self, start: bool, tag_style: dict, parent_style: dict) -> None:
        tag_emphasis = utils.google_text_emphasis(tag_style)
        parent_emphasis = utils.google_text_emphasis(parent_style)

        # crossed-out text must be handled before other attributes in order
        # not to output qualifiers unnecessarily
        strikethrough = "line-through" in tag_emphasis and self.cfg.hide_strikethrough
        bold = False
        for bold_marker in self.cfg.bold_text_style_values:
            bold = bold_marker in tag_emphasis and bold_marker not in parent_emphasis
            if bold:
                break
        italic = "italic" in tag_emphasis and "italic" not in parent_emphasis
        fixed = (
            utils.google_fixed_width_font(tag_style)
            and not utils.google_fixed_width_font(parent_style)
            and not self.pre
        )

        if start:
            if bold or italic or fixed:
                self.emphasis += 1
            if strikethrough:
                self.quiet += 1
            if italic:
                self.o(self.cfg.emphasis_mark)
                self.drop_white_space += 1
            if bold:
                self.o(self.cfg.strong_mark)
                self.drop_white_space += 1
            if fixed:
                self.o("`")
                self.drop_white_space += 1
                self.code = True
        else:
            if bold or italic or fixed:
                # there must not be whitespace before closing emphasis mark
                self.emphasis -= 1
                self.space = False
            if fixed:
                if self.drop_white_space:
                    self.drop_white_space -= 1  # empty emphasis, drop it
                else:
                    self.o("`")
                self.code = False
            if bold:
                if self.drop_white_space:
                    self.drop_white_space -= 1  # empty emphasis, drop it
                else:
                    self.o(self.cfg.strong_mark)
            if italic:
                if self.drop_white_space:
                    self.drop_white_space -= 1  # empty emphasis, drop it
                else:
                    self.o(self.cfg.emphasis_mark)
            # space is only allowed after *all* emphasis marks
            if (bold or italic) and not self.emphasis:
                self.o(" ")
            if strikethrough:
                self.quiet -= 1

    # ------------------------------------------------------------------
    # tag dispatch (reference TagProcessor:60-545)
    # ------------------------------------------------------------------

    def handle_tag(self, tag: str, attrs: Dict[str, Optional[str]], start: bool):
        self.current_tag = tag
        # shared empty dict, not two fresh allocations per tag event:
        # both fields are only READ (google_text_emphasis & co), and the
        # google_doc block below rebinds them to real dicts
        self.parent_style = _EMPTY_STYLE
        self.tag_style = _EMPTY_STYLE

        cfg = self.cfg
        if cfg.tag_callback is not None:
            if cfg.tag_callback(self, tag, attrs, start) is True:
                return

        # first thing inside the anchor tag is another tag that produces
        # some output
        if (
            start
            and self.maybe_automatic_link is not None
            and tag not in ("p", "div", "style", "dl", "dt")
            and (tag != "img" or cfg.ignore_images)
        ):
            self.o("[")
            self.maybe_automatic_link = None
            self.empty_link = False

        google_doc = cfg.google_doc
        if google_doc:
            # the attrs dict is empty for a closing tag, and we need the
            # parent styles to resolve the effective style of this element
            if start:
                if self.tag_stack:
                    self.parent_style = self.tag_stack[-1][2]
                self.tag_style = utils.element_style(
                    attrs, self.style_def, self.parent_style
                )
                self.tag_stack.append((tag, attrs, self.tag_style))
            else:
                if self.tag_stack:
                    _, attrs, self.tag_style = self.tag_stack.pop()
                else:
                    attrs = {}
                    self.tag_style = {}
                if self.tag_stack:
                    self.parent_style = self.tag_stack[-1][2]

        # a handler that returns True skips googleDoc's add_emphasis (when
        # it runs before it) and the list reset below
        handler, before = _TAG_TABLE.get(tag, (None, False))
        if before and handler(self, tag, attrs, start):
            return
        if google_doc and not self.inheader:
            # handle some font attributes, but leave headers clean
            self.add_emphasis(start, self.tag_style, self.parent_style)
        if not before and handler is not None and handler(self, tag, attrs, start):
            return
        # the reference's ol/ul else-branch: every tag event that gets here
        # (no early return, not ol/ul) resets the flag
        self.last_was_list = False

    # One handler per tag family, called as handler(self, tag, attrs,
    # start); _TAG_TABLE (after the class) says which tags reach it and
    # whether it runs before or after googleDoc's add_emphasis.

    def _tag_heading(self, tag, attrs, start):
        # header inside an 'a' tag (incorrect but found in the wild)
        if self.astack:
            if start:
                self.inheader = True
                # only add '#' if it can appear before '['
                if self.outtextlist and self.outtextlist[-1] == "[":
                    self.outtextlist.pop()
                    self.space = False
                    self.o("#" * int(tag[1]) + " ")
                    self.o("[")
            else:
                self.p_p = 0  # don't break up link name
                self.inheader = False
                return True  # prevent redundant emphasis marks on headers
        else:
            self.p()
            if start:
                self.inheader = True
                self.o("#" * int(tag[1]) + " ")
            else:
                self.inheader = False
                self.p()
                return True  # prevent redundant emphasis marks on headers

    def _tag_p(self, tag, attrs, start):
        if self.cfg.google_doc:
            if start and utils.google_has_height(self.tag_style):
                self.p()
            else:
                self.soft_br()
        elif not (self.astack or self.split_next_td):
            self.p()

    def _tag_br(self, tag, attrs, start):
        if start:
            # avoid carrying over pending spaces before explicit breaks
            self.space = False
            if self.blockquote > 0:
                self.o("  \n> ")
            else:
                self.o("  \n")

    def _tag_hr(self, tag, attrs, start):
        if start:
            self.p()
            self.o("* * *")
            self.p()

    def _tag_quiet(self, tag, attrs, start):
        if tag == "body":
            self.quiet = 0  # sites like 9rules.com never close <head>
            return
        step = 1 if start else -1
        self.quiet += step
        if tag == "style":
            self.style += step

    def _tag_blockquote(self, tag, attrs, start):
        if start:
            self.p()
            self.o("> ", puredata=False, force=True)
            self.start = True
            self.blockquote += 1
        else:
            self.blockquote -= 1
            self.p()

    def _tag_em(self, tag, attrs, start):
        if not self.cfg.ignore_emphasis:
            # Separate with a space if we immediately follow an
            # alphanumeric character, since otherwise Markdown won't
            # render the emphasis marks ('foo_bar_' stays visible).
            if (
                start
                and self.preceding_data
                and not self.preceding_data[-1].isspace()
                and not _is_punctuation(self.preceding_data[-1])
            ):
                emphasis = " " + self.cfg.emphasis_mark
                self.preceding_data += " "
            else:
                emphasis = self.cfg.emphasis_mark
            self.o(emphasis)
            if start:
                self.stressed = True

    def _tag_strong(self, tag, attrs, start):
        if not self.cfg.ignore_emphasis:
            # Separate with space if we immediately follow an *
            # character, else Markdown won't render the resulting ***.
            if (
                start
                and self.preceding_data
                # empty strong_mark: the lookup would IndexError
                and self.cfg.strong_mark
                and self.preceding_data[-1] == self.cfg.strong_mark[0]
            ):
                strong = " " + self.cfg.strong_mark
                self.preceding_data += " "
            else:
                strong = self.cfg.strong_mark
            self.o(strong)
            if start:
                self.stressed = True

    def _tag_strike(self, tag, attrs, start):
        if start and self.preceding_data and self.preceding_data.endswith("~"):
            strike = " ~~"
            self.preceding_data += " "
        else:
            strike = "~~"
        self.o(strike)
        if start:
            self.stressed = True

    def _tag_code(self, tag, attrs, start):
        if not self.pre:
            self.o("`")  # TODO: `` `this` ``
            self.code = not self.code

    def _tag_abbr(self, tag, attrs, start):
        if start:
            self.abbr_title = None
            self.abbr_data = []
            if attrs.get("title") is not None:
                self.abbr_title = attrs["title"]
        else:
            if self.abbr_title is not None and self.abbr_data is not None:
                self.abbr_list["".join(self.abbr_data)] = self.abbr_title
                self.abbr_title = None
            self.abbr_data = None

    def _tag_q(self, tag, attrs, start):
        if not self.quote:
            self.o(self.cfg.open_quote)
        else:
            self.o(self.cfg.close_quote)
        self.quote = not self.quote

    def _tag_a(self, tag, attrs, start):
        if self.cfg.ignore_anchors:
            return
        if start:
            href = attrs.get("href")
            if (
                href is not None
                and not (self.cfg.skip_internal_links and href.startswith("#"))
                and not (
                    self.cfg.ignore_mailto_links and href.startswith("mailto:")
                )
            ):
                if self.cfg.protect_links:
                    attrs = dict(attrs)
                    attrs["href"] = "<" + href + ">"
                self.astack.append(attrs)
                self.maybe_automatic_link = attrs["href"]
                self.empty_link = True
            else:
                self.astack.append(None)
        else:
            if self.astack:
                a = self.astack.pop()
                if self.maybe_automatic_link is not None and not self.empty_link:
                    self.maybe_automatic_link = None
                else:
                    if a is not None and self.empty_link:
                        self.o("[")
                        self.empty_link = False
                        self.maybe_automatic_link = None
                    if a is not None:
                        self._finalize_anchor(a)

    def _tag_img(self, tag, attrs, start):
        src = attrs.get("src")
        if not start or not src:
            return
        self.media[-1].append(src)
        if self.cfg.ignore_images:
            return
        if not self.cfg.images_to_alt:
            attrs = dict(attrs)
            attrs["href"] = src
        alt = attrs.get("alt")
        if alt is None:
            alt = self.cfg.default_image_alt

        # with images_with_size, write raw html including width,
        # height, and alt attributes
        if self.cfg.images_as_html or (
            self.cfg.images_with_size
            and ("width" in attrs or "height" in attrs)
        ):
            self.o("<img src='" + src + "' ")
            if attrs.get("width"):
                self.o("width='" + str(attrs["width"]) + "' ")
            if attrs.get("height"):
                self.o("height='" + str(attrs["height"]) + "' ")
            if alt:
                self.o("alt='" + alt + "' ")
            self.o("/>")
            return True

        # if we have a link to create, output the start
        if self.maybe_automatic_link is not None:
            href = self.maybe_automatic_link
            if (
                self.cfg.images_to_alt
                and utils.escape_md(alt) == href
                and constants.RE_ABSOLUTE_URL_MATCHER.match(href)
            ):
                self.o("<" + utils.escape_md(alt) + ">")
                self.empty_link = False
                return True
            self.o("[")
            self.maybe_automatic_link = None
            self.empty_link = False

        # with images_to_alt we discard the image itself and keep
        # only the alt text
        if self.cfg.images_to_alt:
            self.o(utils.escape_md(alt))
        else:
            self.o("![" + utils.escape_md(alt) + "]")
            if self.cfg.inline_links:
                href = attrs.get("href") or ""
                self.o(
                    "("
                    + utils.escape_md(url_join(self.cfg.base_url, href))
                    + ")"
                )
            else:
                a_props = self._footnote_props(attrs)
                self.o("[" + str(a_props.count) + "]")

    def _tag_dl(self, tag, attrs, start):
        if tag == "dl":
            if start:
                self.p()
        elif tag == "dt":
            if not start:
                self.pbr()
        elif start:
            self.o("    ")
        else:
            self.pbr()

    def _tag_list(self, tag, attrs, start):
        # Google Docs create sub lists as top level lists
        if not self.lst and not self.last_was_list:
            self.p()
        if start:
            if self.cfg.google_doc:
                list_style = utils.google_list_style(self.tag_style)
            else:
                list_style = tag
            numbering_start = utils.list_numbering_start(attrs)
            self.lst.append(ListElement(list_style, numbering_start))
        else:
            if self.lst:
                self.lst.pop()
                if not self.cfg.google_doc and not self.lst:
                    self.o("\n")
        self.last_was_list = True
        return True  # reference's else-branch reset must not fire for ol/ul

    def _tag_li(self, tag, attrs, start):
        self.list_code_indent = ""
        self.pbr()
        if start:
            if self.lst:
                li = self.lst[-1]
            else:
                li = ListElement("ul", 0)
            if self.cfg.google_doc:
                self.o(
                    "  "
                    * utils.google_nest_count(
                        self.tag_style, self.cfg.google_list_indent
                    )
                )
            else:
                # indent two spaces per enclosing list, except three for
                # lists nested under an ordered list (whose "N. " marker
                # is three chars wide)
                parent_list = None
                for list_element in self.lst:
                    self.list_code_indent += (
                        "   " if parent_list == "ol" else "  "
                    )
                    parent_list = list_element.name
                self.o(self.list_code_indent)

            if li.name == "ul":
                self.list_code_indent += "  "
                self.o(self.cfg.ul_item_mark + " ")
            elif li.name == "ol":
                li.num += 1
                self.list_code_indent += "   "
                self.o(str(li.num) + ". ")
            self.start = True

    def _tag_table(self, tag, attrs, start):
        if self.cfg.ignore_tables:
            if tag == "tr" and not start:
                self.soft_br()
        elif self.cfg.bypass_tables:
            if start:
                self.soft_br()
            if tag in ("td", "th"):
                if start:
                    self.o("<{}>\n\n".format(tag))
                else:
                    self.o("\n</{}>".format(tag))
            else:
                if start:
                    self.o("<{}>".format(tag))
                else:
                    self.o("</{}>".format(tag))
        else:
            if tag == "table":
                if start:
                    self.table_start = True
                    if self.cfg.pad_tables:
                        self.o("<" + constants.TABLE_MARKER_FOR_PAD + ">")
                        self.o("  \n")
                else:
                    if self.cfg.pad_tables:
                        # break in case the table is empty or a 1-row table
                        self.soft_br()
                        self.o("</" + constants.TABLE_MARKER_FOR_PAD + ">")
                        self.o("  \n")
            if tag in ("td", "th") and start:
                if self.split_next_td:
                    self.o("| ")
                self.split_next_td = True
            if tag == "tr" and start:
                self.td_count = 0
            if tag == "tr" and not start:
                self.split_next_td = False
                self.soft_br()
            if tag == "tr" and not start and self.table_start:
                # underline table header
                if self.td_count > 0:
                    self.o("|".join(["---"] * self.td_count))
                self.soft_br()
                self.table_start = False
            if tag in ("td", "th") and start:
                self.td_count += 1

    def _tag_pre(self, tag, attrs, start):
        if start:
            self.startpre = True
            self.pre = True
            self.pre_indent = ""
        else:
            self.pre = False
            if self.cfg.backquote_code_style:
                self.out("\n" + self.pre_indent + "```")
            if self.cfg.mark_code:
                self.out("\n[/code]")
        self.p()

    def _tag_sup_sub(self, tag, attrs, start):
        if self.cfg.include_sup_sub:
            if start:
                self.o("<{}>".format(tag))
            else:
                self.o("</{}>".format(tag))

    # ------------------------------------------------------------------
    # anchors (reference TagProcessor:572-716)
    # ------------------------------------------------------------------

    def _finalize_anchor(self, attrs: Dict[str, Optional[str]]) -> None:
        if self.cfg.inline_links:
            self.p_p = 0
            title = attrs.get("title")
            title_part = ""
            if title and not title.isspace():
                title_part = ' "' + utils.escape_md(title) + '"'
            href = attrs.get("href") or ""
            url = url_join(self.cfg.base_url, href)
            self.o("](" + utils.escape_md(url) + title_part + ")")
            return
        a_props = self._footnote_props(attrs)
        self.o("][" + str(a_props.count) + "]")

    def _footnote_props(self, attrs: Dict[str, Optional[str]]) -> AnchorElement:
        """Look up (or register) the footnote entry for these attrs: an
        entry with the same href and the same title, or the same lack of
        one.  An anchor without an href never matches."""
        href = attrs.get("href")
        key = (href, "title" in attrs, attrs.get("title"))
        a_props = self.a_index.get(key)
        if a_props is None:
            self.acount += 1
            a_props = AnchorElement(attrs, self.acount, self.outcount)
            self.a.append(a_props)
            if href is not None:
                self.a_index[key] = a_props
        return a_props

    # ------------------------------------------------------------------
    # document finalization (reference HTML2Markdown:59-73)
    # ------------------------------------------------------------------

    def flush(self) -> None:
        """Emit the final chunks (pending break, reference footnotes)."""
        self.pbr()
        self.o("", force="end")


#: tag -> (handler, whether it runs before googleDoc's add_emphasis); the
#: phases are the reference's order.  Any other tag is a pass-through.
_TAG_TABLE: Dict[str, Tuple[Callable, bool]] = {
    tag: (handler, before)
    for tags, handler, before in (
        ("h1 h2 h3 h4 h5 h6 h7 h8 h9", _Parser._tag_heading, True),
        ("p div", _Parser._tag_p, True),
        ("br", _Parser._tag_br, True),
        ("hr", _Parser._tag_hr, True),
        ("head style script body", _Parser._tag_quiet, True),
        ("blockquote", _Parser._tag_blockquote, True),
        ("em i u", _Parser._tag_em, True),
        ("strong b", _Parser._tag_strong, True),
        ("del strike s", _Parser._tag_strike, True),
        ("kbd code tt", _Parser._tag_code, False),
        ("abbr", _Parser._tag_abbr, False),
        ("q", _Parser._tag_q, False),
        ("a", _Parser._tag_a, False),
        ("img", _Parser._tag_img, False),
        ("dl dt dd", _Parser._tag_dl, False),
        ("ol ul", _Parser._tag_list, False),
        ("li", _Parser._tag_li, False),
        ("table tr td th", _Parser._tag_table, False),
        ("pre", _Parser._tag_pre, False),
        ("sup sub", _Parser._tag_sup_sub, False),
    )
    for tag in tags.split()
}


def _is_punctuation(ch: str) -> bool:
    """Unicode general-category P test (the reference's \\p{P})."""
    import unicodedata

    return unicodedata.category(ch).startswith("P")


# ----------------------------------------------------------------------
# wrap pass (reference WrapProcessor:22-127)
# ----------------------------------------------------------------------


@functools.lru_cache(maxsize=None)  # a few widths per Config
def _line_re(width: int) -> "re.Pattern[str]":
    """Pattern matching one wrapped line plus the spaces that end it.

    Group 1 is the longest prefix of at most ``width`` characters that
    ends in a non-space followed by a space or the end of the text, or,
    when not even one word fits, that single long word
    (break_long_words=False).  A width below 1 leaves one word per line.
    """
    if width < 1:
        return re.compile(r"([^ ]+) *")
    return re.compile(r"(.{0,%d}[^ ](?= |\Z)|[^ ]+) *" % (width - 1))


def _fast_wrap(para: str, width: int, indent: str) -> List[str]:
    """Greedy wrap on spaces: one regex match per output line.

    A space run between two lines is dropped; leading spaces are kept on
    the first line when the first word still fits after them, and dropped
    otherwise (textwrap then starts the first line at that word).  Every
    other character, Unicode whitespace included, is part of a word.
    """
    first = _line_re(width)
    m = first.match(para)
    if m is None:
        m = first.match(para, len(para) - len(para.lstrip(" ")))
        if m is None:
            return []  # blank paragraph
    lines = [m.group(1)]
    rest = _line_re(width - len(indent)).findall(para, m.end())
    if indent:
        lines.extend([indent + line for line in rest])
    else:
        lines.extend(rest)
    return lines


def _single_spaced(para: str) -> bool:
    """Words split by single spaces, none at either end, no hyphen, and
    no whitespace textwrap expands or turns into spaces."""
    return (
        "-" not in para
        and "  " not in para
        and para == para.strip()
        and "\t" not in para
        and "\r" not in para
        and "\x0b" not in para
        and "\x0c" not in para
    )


def _wrap_para(para: str, width: int, indent: str) -> List[str]:
    """Wrap one paragraph: textwrap.wrap(para, width,
    break_long_words=False, subsequent_indent=indent), except that a
    single-spaced paragraph always takes the greedy wrap, and so does
    every paragraph at a width below 1 (one word per line, split at runs
    of spaces), where textwrap raises.

    The greedy wrap equals textwrap on a printable paragraph (so with no
    whitespace but " ") with no hyphen, at width >= 1.  On a single-spaced
    paragraph it keeps a word of only Unicode whitespace at a line break,
    where textwrap drops it, as the output always has.
    """
    if width < 1:
        return _fast_wrap(para, width, indent)
    if para.isprintable():
        if len(para) <= width:
            # fits on one line: textwrap would only drop trailing spaces
            line = para.rstrip(" ")
            return [line] if line else []
        if "-" not in para:  # hyphens are break points only textwrap finds
            return _fast_wrap(para, width, indent)
    elif _single_spaced(para):
        return _fast_wrap(para, width, indent)
    return textwrap.wrap(
        para, width, break_long_words=False, subsequent_indent=indent
    )


@dataclass
class WrapState:
    """optwrap carry-over so interleaved segments wrap like one document."""

    newlines: int = 0
    start_code: bool = False


def optwrap(text: str, cfg: Config, state: Optional[WrapState] = None) -> str:
    """Wrap all paragraphs of converted output at cfg.body_width."""
    width = cfg.body_width
    if not width:
        return text
    if state is None:
        state = WrapState()

    result: List[str] = []
    append = result.append
    skipwrap = utils.skipwrap
    wrap_links = cfg.wrap_links
    wrap_list_items = cfg.wrap_list_items
    wrap_tables = cfg.wrap_tables
    backquote = cfg.backquote_code_style
    list_item = "  " + cfg.ul_item_mark
    newlines = state.newlines
    start_code = state.start_code
    for para in text.split("\n"):
        if not para and not start_code:
            if newlines < 2:
                append("\n")
                newlines += 1
            continue
        # text between tri-backquote pairs is a code block; don't wrap
        if backquote and para.lstrip().startswith("```"):
            start_code = not start_code
        if start_code:
            append(para + "\n")
            newlines = 1
        elif skipwrap(para, wrap_links, wrap_list_items, wrap_tables):
            # warning for the tempted: this is NOT line.isspace().
            # Anchored match (upstream-Python semantics): the PHP port
            # searches /\s\+/ anywhere, which silently DROPS list items
            # when ul_item_mark='+' ("  + a" contains " +"); no fixture
            # distinguishes, so we keep the content-preserving form.
            if not constants.RE_SPACE.match(para):
                append(para + "\n")
                newlines = 1
        else:
            indent = ""
            if para.startswith(list_item):
                # list item continuation: double indent on new lines
                indent = "    "
            elif para.startswith("> "):
                # blockquote continuation: prefix '>' on new lines
                indent = "> "
            append("\n".join(_wrap_para(para, width, indent)))
            if para.endswith("  "):
                append("  \n")
                newlines = 1
            elif indent:
                append("\n")
                newlines = 1
            else:
                append("\n\n")
                newlines = 2
    state.newlines = newlines
    state.start_code = start_code
    return "".join(result)


# ----------------------------------------------------------------------
# public per-document API
# ----------------------------------------------------------------------


#: test hook: force the HTMLParser path (differential fuzzing)
_FORCE_FALLBACK = False


def _dispatch_events(parser: "_Parser", events: list) -> None:
    """Replay fast-tokenizer events into the parser's handlers."""
    handle_data = parser.handle_data
    handle_tag = parser.handle_tag
    attr_dict = parser._attr_dict
    for ev in events:
        kind = ev[0]
        if kind == "data":
            handle_data(ev[1])
        elif kind == "start":
            handle_tag(ev[1], attr_dict(ev[2]), True)
        else:
            handle_tag(ev[1], {}, False)


def convert(html_text: str, cfg: Optional[Config] = None) -> str:
    """Convert one HTML document to markdown-formatted plain text: the
    'text' spans of ``convert_spans`` on the one-span document (which
    trims the document's ends)."""
    spans = convert_spans([("html", html_text, "")], cfg)
    return "".join(text for kind, text, _media in spans if kind == "text")


def convert_spans(
    spans: List[Tuple[str, str, str]], cfg: Optional[Config] = None
) -> List[Tuple[str, str, str]]:
    """Convert one interleaved document (the graft's span pipeline).

    ``spans`` is the input span list in offset order as (kind, text,
    media_ref) with kind in {'html', 'media'}.  Returns output spans
    (kind, text, media_ref) with kind in {'text', 'media_ref'} such that

      * for a pure-html document, concatenating the 'text' spans in order
        reproduces ``convert()`` of the concatenated html (invariant 1):
        the document's ends are trimmed here, once for every surface, by
        left-stripping the first html span and right-stripping the last
        (after coalescing, with ``str.strip``'s character set);
      * 'media_ref' spans appear once per input media span and once per
        <img> element, in document order (invariant 2).

    html fragments are fed incrementally to one tokenizer so conversion
    state (lists, blockquotes, footnotes) crosses fragments exactly as if
    the document were contiguous.  A passthrough media span acts as a
    block boundary: the pending paragraph break is flushed so each text
    segment ends on a line boundary, and the wrap pass runs per segment
    with carried state (equivalent to wrapping the whole document because
    ``optwrap`` is line-at-a-time with only the blank-line counter as
    cross-line state).
    """
    cfg = cfg or Config()
    # (str.isspace and str.strip agree on what whitespace is)
    if all(not t or t.isspace() for k, t, _m in spans if k == "html"):
        return [
            ("media_ref", "", media)
            for kind, _text, media in spans
            if kind == "media"
        ]

    parser = _Parser(cfg)
    raw_boundaries: List[int] = []  # outtextlist index at each segment end
    # coalesce runs of consecutive html spans: a fragment boundary is only
    # meaningful where a media span sits between them (feeding fragments
    # separately would let tokenizer-buffer chunking interact with the
    # stressed/whitespace state machine and break invariant 1).  Runs are
    # joined once, so n consecutive spans cost O(total length).
    coalesced: List[Tuple[str, str, str]] = []
    run: List[str] = []
    for kind, text, media in spans:
        if kind == "html":
            run.append(text)
            continue
        if run:
            coalesced.append(("html", "".join(run), ""))
            run = []
        coalesced.append((kind, text, media))
    if run:
        coalesced.append(("html", "".join(run), ""))
    # the early return above leaves at least one html span
    html_at = [i for i, (kind, _t, _m) in enumerate(coalesced) if kind == "html"]
    first, last = html_at[0], html_at[-1]
    coalesced[first] = ("html", coalesced[first][1].lstrip(), "")
    coalesced[last] = ("html", coalesced[last][1].rstrip(), "")
    spans = coalesced
    # one rule for every document: if EVERY html fragment fast-tokenizes
    # on its own, no fragment ends mid-token (the fast tokenizer rejects
    # dangling '<'/unterminated constructs), so direct event dispatch is
    # event-identical to HTMLParser's incremental feed; otherwise every
    # fragment goes to HTMLParser, whose buffer carries a tag that
    # straddles a media boundary.  Differentially fuzzed in
    # tests/test_fast_tokenizer.py.
    html = {
        i: _preprocess_entities(text)
        for i, (kind, text, _media) in enumerate(spans)
        if kind == "html"
    }
    events: Dict[int, list] = {}
    if not _FORCE_FALLBACK:
        for i, text in html.items():
            tokens = _fast_tokenize(text)
            if tokens is None:
                events.clear()
                break
            events[i] = tokens
    fast = bool(events)
    if fast:
        html.clear()
    # each fragment is released once fed, before the join and wrap passes
    for i, (kind, text, media) in enumerate(spans):
        if kind == "html":
            if fast:
                _dispatch_events(parser, events.pop(i))
            else:
                parser.feed(html.pop(i))
        elif kind == "media":
            # flush the pending paragraph break so the segment ends on a
            # clean line boundary before the media asset
            parser.pbr()
            parser.o("", puredata=False, force=True)
            raw_boundaries.append(len(parser.outtextlist))
            parser.media[-1].append(media)
            parser.media.append([])
    parser.close()
    parser.flush()

    chunks = parser.outtextlist
    nbsp = "\u00a0" if cfg.unicode_snob else " "

    def _join(lo: int, hi: int) -> str:
        return "".join(chunks[lo:hi]).replace(constants.NBSP_PLACEHOLDER, nbsp)

    segment_texts: List[str] = []
    prev = 0
    for b in raw_boundaries:
        segment_texts.append(_join(prev, b))
        prev = b
    segment_texts.append(_join(prev, len(chunks)))

    # wrap per segment with carried state; segments end on line boundaries
    if cfg.body_width:
        state = WrapState()
        segment_texts = [optwrap(seg, cfg, state) for seg in segment_texts]
    if cfg.pad_tables:
        # thread the sentinel-block state across segments (a media span
        # inside a padded table must not drop the buffered rows)
        pad_state = utils.PadTableState()
        last = len(segment_texts) - 1
        segment_texts = [
            utils.pad_tables_in_text(s, state=pad_state, flush=(i == last))
            for i, s in enumerate(segment_texts)
        ]

    out_spans: List[Tuple[str, str, str]] = []
    for seg_text, media_refs in zip(segment_texts, parser.media):
        if seg_text:
            out_spans.append(("text", seg_text, ""))
        out_spans.extend(("media_ref", "", media) for media in media_refs)
    return out_spans
