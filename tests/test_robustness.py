"""Regression tests for malformed/adversarial input robustness:
unclosed padded tables, sentinel-literal injection, and the documented
wrap divergence from the PHP reference (content preservation wins)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
