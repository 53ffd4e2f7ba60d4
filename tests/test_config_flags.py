"""Behavioral coverage for Config options no golden fixture exercises
(the reference surface is 36 options; the fixture harness drives ~20)."""

from html2text_spark.core.config import Config
from html2text_spark.core.converter import convert


def test_ignore_emphasis():
    assert (
        convert("A <b>B</b> <i>C</i>.", Config(ignore_emphasis=True))
        == "A B C.\n\n"
    )


def test_ignore_anchors():
    assert (
        convert('see <a href="http://x/">the link</a> here',
                Config(ignore_anchors=True))
        == "see the link here\n\n"
    )


def test_ignore_images():
    # double space is faithful reference behavior: text nodes on both
    # sides of the removed inline element each contribute their space
    assert (
        convert('x <img src="s.png" alt="a"/> y', Config(ignore_images=True))
        == "x  y\n\n"
    )


def test_use_automatic_links_off():
    out = convert(
        '<a href="http://a/">http://a/</a>', Config(use_automatic_links=False)
    )
    assert out == "[http://a/](http://a/)\n\n"
    # and on (default): identical text+href collapses to <url>
    assert convert('<a href="http://a/">http://a/</a>') == "<http://a/>\n\n"


def test_custom_quote_marks():
    assert (
        convert("<q>word</q>", Config(open_quote="«", close_quote="»"))
        == "«word»\n\n"
    )


def test_links_each_paragraph():
    out = convert(
        '<p><a href="http://a/">one</a></p><p><a href="http://b/">two</a></p>',
        Config(inline_links=False, links_each_paragraph=True),
    )
    # footnote [1] must flush between the paragraphs, before "two"
    assert out.index("[1]: http://a/") < out.index("[two]")
    assert "[2]: http://b/" in out
    # without the flag both footnotes trail the document
    out2 = convert(
        '<p><a href="http://a/">one</a></p><p><a href="http://b/">two</a></p>',
        Config(inline_links=False),
    )
    assert out2.index("[two]") < out2.index("[1]: http://a/")


def test_custom_ul_item_mark():
    assert convert("<ul><li>a</li></ul>", Config(ul_item_mark="+")) == "  + a\n\n"


def test_google_list_indent_option():
    html = '<ul><li style="margin-left:72px">deep</li></ul>'
    narrow = convert(html, Config(google_doc=True, google_list_indent=36,
                                  body_width=0))
    wide = convert(html, Config(google_doc=True, google_list_indent=72,
                                body_width=0))
    # 72px = 2 levels at indent 36, 1 level at indent 72
    assert narrow.startswith("    ")
    assert not wide.startswith("    ")


def test_config_from_options_aliases():
    from golden import config_from_options

    cfg = config_from_options(
        {"bodyWidth": 0, "ulItemMark": "-", "baseurl": "http://x/",
         "bold_text_style_values": ["bold"], "googleDoc": True}
    )
    assert cfg.body_width == 0
    assert cfg.ul_item_mark == "-"
    assert cfg.base_url == "http://x/"
    assert cfg.bold_text_style_values == ("bold",)
    assert cfg.google_doc is True


def test_unicode_snob_nbsp_at_paragraph_end():
    # the wrap pass drops a word of only Unicode whitespace at a paragraph
    # end (textwrap semantics), so a trailing or lone &nbsp; goes ...
    assert convert("<p>a &nbsp;</p>", Config(unicode_snob=True)) == "a \n\n"
    assert convert("<p>&nbsp;</p>", Config(unicode_snob=True)) == "\n\n"
    assert convert("<p>a &#8195;</p>") == "a \n\n"
    # ... but keeps one at a line break inside a single-spaced paragraph
    assert convert("<p>" + "x" * 76 + " &#8195; y</p>") == (
        "x" * 76 + " \u2003\ny\n\n"
    )


def test_negative_body_width_puts_one_word_per_line():
    assert convert("<p>a b</p>", Config(body_width=-1)) == "a\nb\n\n"
    # a hyphen sends the paragraph past the single-spaced test: it must
    # wrap the same way, not reach textwrap, which raises below width 1
    assert convert("<p>a-b c</p>", Config(body_width=-1)) == "a-b\nc\n\n"
