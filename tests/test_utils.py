"""Scalar-function unit tests, vectors from the reference UtilsTest
(/root/reference/tests/UtilsTest.php:12-191)."""

import itertools

import pytest
from hypothesis import given, settings, strategies as st

from html2text_spark.core import constants, utils


def test_unifiable_n_matches_reference():
    assert constants.UNIFIABLE_N[0x2019] == "'"
    assert 0x00A0 not in constants.UNIFIABLE_N


@pytest.mark.parametrize(
    "tag,expected",
    [("h1", 1), ("h9", 9), ("h0", 0), ("h10", 0), ("div", 0)],
)
def test_hn(tag, expected):
    assert utils.hn(tag) == expected


def test_dumb_property_dict():
    style = "color: Red ; font-weight : Bold; missing; line-height: 1.5;"
    assert utils.dumb_property_dict(style) == {
        "color": "red",
        "font-weight": "bold",
        "line-height": "1.5",
    }


def test_dumb_css_parser():
    css = 'p { color: blue; } @import url("foo"); .highlight { font-weight: bold; }'
    assert utils.dumb_css_parser(css) == {
        "p": {"color": "blue"},
        ".highlight": {"font-weight": "bold"},
    }


def test_element_style():
    attrs = {"class": "highlight special", "style": "line-height: 1.5;"}
    style_def = {
        ".highlight": {"font-weight": "bold"},
        ".special": {"color": "red"},
    }
    parent_style = {"font-size": "12px"}
    assert utils.element_style(attrs, style_def, parent_style) == {
        "font-size": "12px",
        "font-weight": "bold",
        "color": "red",
        "line-height": "1.5",
    }


def test_google_list_style():
    assert utils.google_list_style({"list-style-type": "disc"}) == "ul"
    assert utils.google_list_style({"list-style-type": "decimal"}) == "ol"


def test_google_has_height():
    assert utils.google_has_height({"height": "10px"})
    assert not utils.google_has_height({"width": "10px"})


def test_google_text_emphasis():
    assert utils.google_text_emphasis(
        {
            "text-decoration": "underline",
            "font-style": "italic",
            "font-weight": "bold",
        }
    ) == ["underline", "italic", "bold"]


def test_google_fixed_width_font():
    assert utils.google_fixed_width_font({"font-family": "courier new"})
    assert not utils.google_fixed_width_font({"font-family": "arial"})


def test_list_numbering_start():
    assert utils.list_numbering_start({"start": "3"}) == 2
    assert utils.list_numbering_start({"start": "a"}) == 0


@pytest.mark.parametrize(
    "para,wrap_links,wrap_list_items,wrap_tables,expected",
    [
        ("Check this [link](http://example.com)", False, False, False, True),
        ("    code block", True, True, True, True),
        (" --dash", True, True, True, False),
        ("- list item", True, False, True, True),
        ("A | B", True, True, False, True),
        ("1. list", True, True, True, True),
        ("Regular paragraph", True, True, True, False),
    ],
)
def test_skipwrap(para, wrap_links, wrap_list_items, wrap_tables, expected):
    assert utils.skipwrap(para, wrap_links, wrap_list_items, wrap_tables) == expected


def test_escape_md():
    assert utils.escape_md("link [text](url)") == "link \\[text\\]\\(url\\)"


def test_escape_md_section():
    assert (
        utils.escape_md_section("1. one\n+ plus\n- dash")
        == "1\\. one\n\\+ plus\n\\- dash"
    )
    assert (
        utils.escape_md_section("Use (parentheses) and #hash!", snob=True)
        == "Use \\(parentheses\\) and \\#hash\\!"
    )


def test_escape_md_guard_fires_on_every_escaped_char():
    # escape_md scans for MD_CHARS before the regex; any character the
    # regex escapes must be in that scan
    for cp in range(0x3000):
        ch = chr(cp)
        text = "a" + ch + "b"
        assert utils.escape_md(text) == constants.RE_MD_CHARS_MATCHER.sub(
            r"\\\1", text
        ), hex(cp)


def test_escape_md_section_guard_fires_on_every_line_marker():
    # every string of up to 4 characters over the markers' alphabet (incl.
    # a non-ASCII digit and whitespace): the guarded path equals the regex
    alphabet = " \t\n\xa01\u0663a.+-*"
    for n in range(5):
        for chars in itertools.product(alphabet, repeat=n):
            text = "".join(chars)
            assert utils.escape_md_section(text) == utils._RE_MD_LINE_MARKER.sub(
                utils._line_marker_repl, text
            ), repr(text)


def _skipwrap_by_regex(para, wrap_links, wrap_list_items, wrap_tables):
    """skipwrap as the reference writes it, one regex per case."""
    if not wrap_links and constants.RE_LINK.search(para):
        return True
    if para.startswith("    ") or para.startswith("\t"):
        return True
    stripped = para.lstrip()
    if stripped.startswith("--") and len(stripped) > 2 and stripped[2] != "-":
        return False
    if stripped.startswith("-") or stripped.startswith("*"):
        if not stripped.startswith("**"):
            return not wrap_list_items
    if not wrap_tables and constants.RE_TABLE.search(para):
        return True
    if constants.RE_ORDERED_LIST_MATCHER.match(stripped):
        return True
    return constants.RE_UNORDERED_LIST_MATCHER.match(stripped) is not None


@settings(max_examples=1000, deadline=None)
@given(
    para=st.text(alphabet=" \t\xa0-*+1\u0663.|[]()a", max_size=10),
    flags=st.tuples(st.booleans(), st.booleans(), st.booleans()),
)
def test_skipwrap_matches_regex_form(para, flags):
    assert utils.skipwrap(para, *flags) == _skipwrap_by_regex(para, *flags)


def test_reformat_table():
    lines = ["col1|col2", "----|-----", "a|b"]
    assert utils.reformat_table(lines, 1) == [
        "| col1 |col2  |",
        "|------|------|",
        "| a    |b     |",
    ]


def test_pad_tables_in_text():
    marker = constants.TABLE_MARKER_FOR_PAD
    text = f"above\n{marker}\ncol1|col2\n----|-----\na|b\n{marker}\nbelow"
    assert (
        utils.pad_tables_in_text(text, 1)
        == "above\n| col1 |col2  |\n|------|------|\n| a    |b     |\n\nbelow"
    )
