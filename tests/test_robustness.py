"""Regression tests for malformed/adversarial input robustness:
unclosed padded tables, sentinel-literal injection, and the documented
wrap divergence from the PHP reference (content preservation wins)."""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import html2text_spark.core.converter as C
from html2text_spark.core.config import Config
from html2text_spark.core.converter import convert, convert_spans


def test_pad_tables_unclosed_table_preserves_content():
    """An unclosed <table> with pad_tables=True must not drop the buffered
    rows or anything after them (the reference's DOM repair closes the
    table; we flush the open sentinel block at end-of-document)."""
    out = convert(
        "<table><tr><td>a</td><td>b</td></tr><p>text</p>",
        Config(pad_tables=True),
    )
    assert "a" in out and "b" in out and "text" in out


def test_pad_tables_unclosed_flush_in_span_pipeline():
    """Same flush guarantee through the segment-threaded spans path."""
    spans = [
        ("html", "<table><tr><td>xcell</td></tr>", ""),
        ("media", "", "asset://1"),
    ]
    out = convert_spans(spans, Config(pad_tables=True))
    text = "".join(t for k, t, _ in out if k == "text")
    assert "xcell" in text
    assert any(k == "media_ref" and m == "asset://1" for k, _, m in out)


def test_placeholder_literal_not_decoded_as_entity():
    """Text literally containing the internal placeholder sentinel must
    round-trip verbatim, never be decoded as if it were an entity."""
    out = convert("<p>keep __PH2T__ENT_amp__ literal</p>", Config())
    assert "&" not in out
    assert "PH2T" in out and "ENT_amp" in out.replace("\\", "")


def test_placeholder_sentinel_self_encoding_roundtrip():
    for payload in ["__PH2T__", "__PH2T__RAW_x__", "__PH2T__CHAR_38__"]:
        out = convert(f"<p>x {payload} y</p>", Config())
        assert payload in out.replace("\\", ""), (payload, out)
    # real entities still decode alongside escaped literals
    out = convert("<p>__PH2T__ and &amp;</p>", Config())
    assert "&" in out and "PH2T" in out.replace("\\", "")


def test_skipwrap_line_with_interior_plus_preserved():
    """Documented divergence from the PHP reference: its /\\s\\+/ search
    drops a skipwrap'd line containing whitespace+'+' ANYWHERE (e.g. a
    4-space code line with ' + '); we use the anchored upstream-Python
    form and preserve the content.  Pin the chosen behavior."""
    out = convert("<pre>x + y</pre>", Config(body_width=20))
    assert "x + y" in out
    # anchored semantics retained: a para starting with whitespace-'+'
    # outside a list context is still suppressed like upstream
    out2 = convert("<p>before</p><pre>x + y = z</pre><p>after</p>", Config())
    assert "x + y = z" in out2 and "before" in out2 and "after" in out2


def test_stray_blockquote_close_adds_no_quote_prefix():
    # a close tag without an open one takes the depth below zero; that
    # must not prefix later lines with "> " or " "
    assert convert("</blockquote><p>a</p><p>b</p>") == "a\n\nb\n\n"
    assert convert(
        "<p>x</p></blockquote></blockquote><h2>t</h2><br>y"
    ) == "x\n\n## t\n\n  \ny\n\n"


def _timed_convert(html, cfg=None):
    t0 = time.perf_counter()
    out = convert(html, cfg)
    return out, time.perf_counter() - t0


def test_unterminated_tag_with_many_attributes_is_linear():
    # each quoted value also parses as an unquoted one; a tag regex that
    # backtracks into the attributes tries 2**n parses before failing
    html = "<p " + " ".join(f'a{i}="v"' for i in range(10_000))
    fast, fast_s = _timed_convert(html)
    C._FORCE_FALLBACK = True
    try:
        slow, slow_s = _timed_convert(html)
    finally:
        C._FORCE_FALLBACK = False
    assert fast == slow
    assert fast_s < 2.0 and slow_s < 2.0, (fast_s, slow_s)


def test_many_reference_links_are_linear():
    html = "".join(f'<a href="http://e.com/{i}">l{i}</a> ' for i in range(10_000))
    out, seconds = _timed_convert(html, Config(inline_links=False))
    assert seconds < 2.0, seconds
    assert "[l9999][10000]" in out
    assert out.endswith("   [10000]: http://e.com/9999\n\n")


def test_reference_links_share_an_entry_per_href_and_title():
    html = (
        '<p><a href="http://u">x</a> <a href="http://u">y</a> '
        '<a href="http://u" title="t">z</a> <a href="http://u" title="t">w</a> '
        '<a>n</a> <a href="http://u" title>v</a></p>'
        '<p><a href="http://u">again</a></p>'
    )
    assert convert(html, Config(inline_links=False)) == (
        "[x][1] [y][1] [z][2] [w][2] n [v][3]\n\n[again][1]\n\n"
        "   [1]: http://u\n\n   [2]: http://u (t)\n\n   [3]: http://u\n\n"
    )
    # a printed entry is dropped: the same href then takes a new number
    assert convert(
        html, Config(inline_links=False, links_each_paragraph=True)
    ) == (
        "[x][1] [y][1] [z][2] [w][2] n [v][3]\n\n"
        "   [1]: http://u\n\n   [2]: http://u (t)\n\n   [3]: http://u\n\n"
        "[again][4]\n\n   [4]: http://u\n\n"
    )


def test_long_abbreviation_is_linear():
    # every output call inside an <abbr> adds to the captured text; copying
    # the text so far on each call made this quadratic (about 11 s here)
    html = "<abbr title=t>" + "<b>xy</b> " * 120_000 + "</abbr>"
    out, seconds = _timed_convert(html, Config(body_width=0))
    assert seconds < 5.0, seconds
    assert out.endswith("**xy** ]: t\n")
    assert out.count("**xy**") == 2 * 120_000


@pytest.mark.parametrize(
    "open_tag, close_tag",
    [("<ul><li>", "</li></ul>"), ("<ol><li>", "</li></ol>"),
     ("<blockquote>", "</blockquote>")],
)
def test_deep_nesting_is_linear_in_output(open_tag, close_tag):
    # a depth-d item carries a 2d-character indent, so the output itself is
    # quadratic in the depth; the time per output byte must stay flat
    html = (open_tag + "x") * 1000 + close_tag * 1000
    out, seconds = _timed_convert(html)
    out_bytes = len(out.encode("utf-8"))
    assert out.count("x") == 1000
    assert seconds < 2.0, seconds
    assert seconds / out_bytes < 2e-6, (seconds, out_bytes)
