"""Golden-file end-to-end corpus: every reference .html/.md pair must
convert byte-identically (after the reference's CRLF/rtrim comparison
rule, /root/reference/tests/Html2MarkdownTest.php:26-35)."""

import pytest

from html2text_spark.core.converter import convert
from html2text_spark.core.urljoin import InvalidBaseUrl
from golden import ERROR_FIXTURES, iter_fixtures

FIXTURES = list(iter_fixtures())


@pytest.mark.parametrize(
    "name,html,expected,cfg", FIXTURES, ids=[f[0] for f in FIXTURES]
)
def test_fixture(name, html, expected, cfg):
    if name in ERROR_FIXTURES:
        with pytest.raises(InvalidBaseUrl):
            convert(html, cfg)
        return
    assert convert(html, cfg).rstrip() == expected


def test_corpus_size():
    assert len(FIXTURES) == 78


def test_empty_input():
    assert convert("") == ""
    assert convert("   \n ") == ""


def test_tag_callback():
    from html2text_spark.core.config import Config

    def skip_b(conv, tag, attrs, start):
        return tag == "b"

    out = convert(
        "this is a <b>txt</b> and this is a <b>with text</b> and some "
        "<i>italics</i> too.",
        Config(tag_callback=skip_b),
    )
    assert out == "this is a txt and this is a with text and some _italics_ too.\n\n"


def test_empty_strong_mark():
    from html2text_spark.core.config import Config

    assert convert("A <b>B</b> <i>C</i>.", Config(strong_mark="")) == "A B _C_.\n\n"
