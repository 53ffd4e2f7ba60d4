"""Differential test: the fast regex tokenizer must convert every document
identically to the HTMLParser fallback path (it aborts to the fallback on
anything it cannot replicate bit-for-bit)."""

import random
import sys

import pytest

import html2text_spark.core.converter as C
from html2text_spark.core.config import Config
from golden import ERROR_FIXTURES, iter_fixtures
from htmlgen import pad_ends, random_html, split_html


def _both_paths(html, cfg=None):
    fast = C.convert(html, cfg)
    C._FORCE_FALLBACK = True
    try:
        slow = C.convert(html, cfg)
    finally:
        C._FORCE_FALLBACK = False
    return fast, slow


def test_fixture_corpus_differential():
    for name, html, _expected, cfg in iter_fixtures():
        if name in ERROR_FIXTURES:
            continue
        fast, slow = _both_paths(html, cfg)
        assert fast == slow, f"fast/slow divergence on fixture {name}"


@pytest.mark.parametrize("seed", range(150))
def test_random_differential(seed):
    rng = random.Random(seed)
    html = random_html(rng)
    fast, slow = _both_paths(html)
    assert fast == slow, f"divergence seed={seed}\nhtml={html!r}"


_DIFF_CONFIGS = {
    "google_doc": Config(google_doc=True),
    "reference_links": Config(inline_links=False),
    "bypass_tables": Config(bypass_tables=True),
    "pad_tables": Config(pad_tables=True),
    "include_sup_sub": Config(include_sup_sub=True),
    "images_with_size": Config(images_with_size=True),
}


@pytest.mark.parametrize("cfg_name", sorted(_DIFF_CONFIGS))
@pytest.mark.parametrize("seed", range(150))
def test_random_differential_configs(seed, cfg_name):
    """The same documents under the options that change tag dispatch."""
    html = random_html(random.Random(seed))
    fast, slow = _both_paths(html, _DIFF_CONFIGS[cfg_name])
    assert fast == slow, f"divergence seed={seed} {cfg_name}\nhtml={html!r}"


@pytest.mark.parametrize(
    "html, cfg, expected",
    [
        # kbd/code/tt run after googleDoc's emphasis: the bold mark opens
        # before the backtick and closes after it
        ('<p>a <code style="font-weight:bold">x</code> b</p>',
         Config(google_doc=True), "a **`x** ` b\n\n"),
        # em/i/u run before it: the emphasis mark comes first
        ('<p>a <em style="font-weight:bold">x</em> b</p>',
         Config(google_doc=True), "a _**x_**  b\n\n"),
        # a heading inside a link: '#' goes before '[', and the end tag
        # does not break up the link name
        ('<a href="http://e.com"><h2>T</h2></a>', None,
         "## [T](http://e.com)\n\n"),
        # a heading's end tag returns early: no emphasis step to close a
        # bold mark that was never opened
        ('<h2 style="font-weight:bold">T</h2><p>x</p>',
         Config(google_doc=True), "## T  \n  \nx\n\n"),
        # so does ol/ul's: last_was_list survives, so the next list opens
        # without a paragraph break
        ("<ul><li>a</li></ul><ul><li>b</li></ul>",
         Config(google_doc=True), "1. a\n1. b\n\n"),
    ],
)
def test_dispatch_phase_and_early_return(html, cfg, expected):
    for out in _both_paths(html, cfg):
        assert out == expected


def _both_span_paths(spans, cfg=None):
    fast = C.convert_spans(spans, cfg)
    C._FORCE_FALLBACK = True
    try:
        slow = C.convert_spans(spans, cfg)
    finally:
        C._FORCE_FALLBACK = False
    return fast, slow


@pytest.mark.parametrize("seed", range(150))
def test_random_differential_interleaved_spans(seed):
    """Multi-fragment (html-media-html) documents take the per-fragment
    fast dispatch when every fragment is eligible; the event stream must
    equal HTMLParser's incremental feed across media boundaries."""
    rng = random.Random(1000 + seed)
    spans = []
    offset = 0
    for _ in range(rng.randint(2, 5)):
        spans.append(("html", random_html(rng), ""))
        if rng.random() < 0.7:
            spans.append(("media", "", f"asset://{rng.randint(0, 99)}"))
        offset += 1
    fast, slow = _both_span_paths(spans)
    assert fast == slow, f"divergence seed={seed}\nspans={spans!r}"


_EDGE_CONFIGS = [
    Config(),
    Config(body_width=0, unicode_snob=True),
    Config(google_doc=True),
    Config(inline_links=False),
    Config(pad_tables=True),
    Config(single_line_break=True),
]


@pytest.mark.parametrize("seed", range(10))
def test_convert_is_joined_text_spans_of_padded_documents(seed):
    """convert_spans invariant 1 on documents whose ends carry ASCII or
    Unicode whitespace, cut into three html spans: convert_spans trims
    the document once, so convert (its one-span case) and the joined
    'text' spans of the cut document agree."""
    rng = random.Random(2000 + seed)
    for _ in range(20):
        html = pad_ends(rng, random_html(rng))
        spans = split_html(rng, html)
        for cfg in _EDGE_CONFIGS:
            out = C.convert_spans(spans, cfg)
            joined = "".join(t for k, t, _m in out if k == "text")
            assert joined == C.convert(html, cfg), f"spans={spans!r}"


try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAVE_HYPOTHESIS = False


if _HAVE_HYPOTHESIS:
    _soup_alphabet = st.sampled_from(
        list("<>&;/= \n\t\"'") + ["p", "b", "a", "em", "pre", "li", "ul",
                                  "img", "x", "y", "amp", "#65", "--", "!",
                                  "__PH2T__", "href", "src"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(_soup_alphabet, min_size=0, max_size=40))
    def test_hypothesis_soup_differential(parts):
        """Pathological tag soup: fast path and HTMLParser fallback must
        convert identically (hypothesis shrinks any divergence to a
        minimal reproducer)."""
        html = "".join(parts)
        fast, slow = _both_paths(html)
        assert fast == slow, f"divergence on {html!r}"

    @settings(max_examples=150, deadline=None)
    @given(st.lists(_soup_alphabet, min_size=0, max_size=24), st.integers(1, 20))
    def test_hypothesis_soup_spans_differential(parts, split):
        """Same soup split across a media boundary: per-fragment dispatch
        vs incremental HTMLParser feed."""
        html = "".join(parts)
        cut = min(split, len(html))
        spans = [
            ("html", html[:cut], ""),
            ("media", "", "asset://h"),
            ("html", html[cut:], ""),
        ]
        fast, slow = _both_span_paths(spans)
        assert fast == slow, f"divergence on {html!r} split at {cut}"


def test_interleaved_mid_tag_fragment_falls_back():
    """A tag split across a media boundary must take the HTMLParser
    incremental path and still parse (buffered across fragments)."""
    spans = [
        ("html", "<p>before <b", ""),
        ("media", "", "asset://1"),
        ("html", ">bold</b> after</p>", ""),
    ]
    fast, slow = _both_span_paths(spans)
    assert fast == slow
    text = "".join(t for k, t, _ in fast if k == "text")
    assert "bold" in text and "after" in text


@pytest.mark.parametrize(
    "html",
    [
        "<p>no tags at all",
        "plain text only",
        "<SCRIPT>var x = 1;</SCRIPT>after",
        "<script>if (a < b) {}</script>after",  # '<' in script -> fallback
        "<style>p { color: red }</style><p class=x>body</p>",
        "<p>unterminated <b>bold",
        "<div><p>a</div></p>",
        "<p>a<p>b<p>c",
        "<td>stray</td>",
        "<!DOCTYPE html><html><body><p>hi</p></body></html>",
        "<?php echo 1; ?><p>x</p>",
        "<p>a < b and c > d</p>",
        "<img src=unquoted/ alt=x><p>after</p>",
        "<p attr='val>with gt'>t</p>",
        "<a href='x'><h2>header in link</h2></a>",
    ],
)
def test_tricky_cases_differential(html):
    fast, slow = _both_paths(html)
    assert fast == slow


def test_fast_path_actually_taken():
    events = C._fast_tokenize("<p>hello <b>world</b></p>")
    assert events is not None
    kinds = [e[0] for e in events]
    assert kinds == ["start", "data", "start", "data", "end", "end"]


def test_fallback_on_residual_ampersand():
    assert C._fast_tokenize("<p>a & b</p>") is None


def test_fallback_on_cdata_section():
    assert C._fast_tokenize("<p><![CDATA[x]]></p>") is None


# ----------------------------------------------------------------------
# fast wrapper differential (vs textwrap)
# ----------------------------------------------------------------------

import textwrap

from hypothesis import given, settings, strategies as st

_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Po")),
    min_size=1,
    max_size=14,
).filter(lambda w: "-" not in w and not w.isspace())


def _textwrap(para, width, indent):
    return textwrap.wrap(
        para, width, break_long_words=False, subsequent_indent=indent
    )


@settings(max_examples=500, deadline=None)
@given(
    words=st.lists(_word, min_size=1, max_size=40),
    gaps=st.lists(st.integers(min_value=1, max_value=4), min_size=40,
                  max_size=40),
    lead=st.integers(min_value=0, max_value=3),
    trail=st.integers(min_value=0, max_value=3),
    width=st.integers(min_value=1, max_value=80),
    indent=st.one_of(
        st.sampled_from(["", "    ", "> "]),
        st.integers(min_value=0, max_value=90).map(lambda k: " " * k),
    ),
)
def test_fast_wrap_matches_textwrap(words, gaps, lead, trail, width, indent):
    """Every shape the fast wrap accepts: leading spaces (a line that opens
    with a space after emphasis), runs of spaces, trailing spaces (table
    rows end in two), words longer than the width, and an indent as wide
    as the width or wider."""
    body = "".join(w + " " * g for w, g in zip(words, gaps)).rstrip(" ")
    para = " " * lead + body + " " * trail
    expected = _textwrap(para, width, indent)
    assert C._fast_wrap(para, width, indent) == expected, (para, width, indent)


@settings(max_examples=500, deadline=None)
@given(
    para=st.text(
        alphabet=st.sampled_from(list("ab-. \t\r\x0b\x0cé")),
        max_size=60,
    ),
    width=st.integers(min_value=1, max_value=30),
    indent=st.sampled_from(["", "    ", "> ", " " * 31]),
)
def test_wrap_para_matches_textwrap(para, width, indent):
    """The dispatcher equals textwrap on any paragraph without Unicode
    whitespace: one-line fits, the fast wrap, and the textwrap fallback
    (hyphens, tabs, CR, VT, FF)."""
    assert C._wrap_para(para, width, indent) == _textwrap(para, width, indent)


def _greedy_wrap(para, width, indent):
    """The converter's original word-by-word greedy wrap."""
    lines, cur, cur_len, avail = [], [], 0, width
    for word in para.split(" "):
        add = len(word) + 1 if cur else len(word)
        if not cur or cur_len + add <= avail:
            cur.append(word)
            cur_len += add
        else:
            lines.append(" ".join(cur))
            avail = width - len(indent)
            cur, cur_len = [word], len(word)
    if cur:
        lines.append(" ".join(cur))
    return lines[:1] + [indent + line for line in lines[1:]]


def _original_wrap_para(para, width, indent):
    """The converter's original dispatch: the greedy wrap for single-spaced
    paragraphs with no hyphen, no whitespace at either end and no tab, CR,
    VT or FF; textwrap for the rest."""
    if (
        "-" not in para
        and "  " not in para
        and para == para.strip()
        and not any(c in para for c in "\t\r\x0b\x0c")
    ):
        return _greedy_wrap(para, width, indent)
    return _textwrap(para, width, indent)


def _check_original_wrap(para, width, indent):
    try:
        expected = _original_wrap_para(para, width, indent)
    except ValueError:  # textwrap rejects a width below 1
        # every paragraph then takes one word per line, split at runs of
        # spaces, like a single-spaced one
        words = [w for w in para.split(" ") if w]
        expected = words[:1] + [indent + w for w in words[1:]]
    assert C._wrap_para(para, width, indent) == expected, (para, width, indent)


@settings(max_examples=1000, deadline=None)
@given(
    para=st.text(
        alphabet=st.sampled_from(
            list("ab-. \t\r\x0b\x0cé\xa0\u2003\u3000\x1c\u200b")
        ),
        min_size=1,  # optwrap never wraps an empty paragraph
        max_size=60,
    ),
    width=st.integers(min_value=-1, max_value=30),
    indent=st.sampled_from(["", "    ", "> ", " " * 31]),
)
def test_wrap_para_matches_original_dispatch(para, width, indent):
    """Byte identity with the converter's original wrap on any paragraph,
    Unicode whitespace and widths below 1 included: textwrap drops a word
    of only Unicode whitespace at a line break, the greedy wrap keeps it."""
    _check_original_wrap(para, width, indent)


@pytest.mark.parametrize(
    "para",
    ["a \xa0", "\xa0", "a\u2003", "\u3000 b c", "a b \u2003 c d", "a \xa0 b"],
)
def test_wrap_para_non_ascii_whitespace_matches_original(para):
    for width in (0, 1, 2, 3, 5, 80):
        for indent in ("", "> "):
            _check_original_wrap(para, width, indent)


def test_every_whitespace_but_space_is_unprintable():
    # _wrap_para's textwrap-equal fast path takes printable paragraphs only
    for cp in range(sys.maxunicode + 1):
        ch = chr(cp)
        if ch.isspace() and ch != " ":
            assert not ch.isprintable(), hex(cp)


def test_wrap_para_dispatches_hyphens_to_textwrap():
    # hyphenated text must take the textwrap path (hyphen-aware breaks)
    para = "a long hyphen-separated-word sequence " * 4
    out = C._wrap_para(para.strip(), 20, "")
    expected = textwrap.wrap(
        para.strip(), 20, break_long_words=False, subsequent_indent=""
    )
    assert out == expected
