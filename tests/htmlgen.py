"""Random HTML documents over every tag the converter handles.

One generator for the fast-tokenizer differential tests and for
``tools/converter_diff.py``: the tag list is the converter's own
``_TAG_TABLE`` plus pass-through tags, so a new table entry is generated
without an edit here.
"""

import random

import html2text_spark.core.converter as C

#: every tag with a handler, plus pass-through tags
TAGS = sorted(C._TAG_TABLE) + ["span", "font", "section"]

WORDS = ["alpha", "beta", "gamma", "x<y", "a&b", "&amp;", "&#65;", "&bogus;",
         "tail  space", "nb sp", "-dash-", "1. list", "* star", "*star*",
         "a-b", "x_y", "#h", "~~", "http://e.com/0",
         "&nbsp;", "&lt;b&gt;", "\u2003", "\u3000", "a\xa0b",
         "<!-->", "<!--->", "<![CDATA[z]]>", "<!doctype html>", "<?pi?>",
         "</stray>", "<", "< notatag", "a=b",
         "&Delta;", "&Aacute;", "&THORN;x", "<a href>v</a>",
         "<abbr title>T</abbr>", "<td nowrap>c</td>",
         # sentinel-literal injection: must round-trip, not decode
         "__PH2T__", "__PH2T__ENT_amp__", "__PH2T__CHAR_65__",
         "__PH2T__RAW_x__", "x__PH2T__y"]

# googleDoc styles, plus one that none of its rules read
STYLES = ["font-weight:bold", "font-weight:700", "font-style:italic",
          "text-decoration:line-through", "font-family:Courier New",
          "height:12pt", "margin-left:72pt", "list-style-type:decimal",
          "color: red"]


def _attrs(rng: random.Random, tag: str) -> str:
    attrs = ""
    if tag == "a":
        # few distinct hrefs and titles, so reference links repeat
        href = rng.choice(["http://e.com/%d" % rng.randint(0, 3), "#top",
                           "mailto:x@e.com", "rel/%d" % rng.randint(0, 2)])
        attrs = ' href="%s"' % href
        if rng.random() < 0.3:
            attrs += ' title="t%d"' % rng.randint(0, 1)
    elif tag == "abbr":
        attrs = ' title="T%d"' % rng.randint(0, 2)
    elif tag == "ol" and rng.random() < 0.3:
        attrs = ' start="%d"' % rng.randint(0, 5)
    if rng.random() < 0.2:
        attrs += " class=c%d" % rng.randint(0, 3)
    if rng.random() < 0.3:
        attrs += ' style="%s"' % ";".join(rng.sample(STYLES, rng.randint(1, 3)))
    return attrs


def _img(rng: random.Random) -> str:
    alt = rng.choice(["", ' alt="a%d"' % rng.randint(0, 9), " alt=http://e.com/0"])
    size = rng.choice(["", " width=10", " height='5'"])
    return '<img src="img%d.png"%s%s>' % (rng.randint(0, 9), alt, size)


def random_html(rng: random.Random, depth: int = 0) -> str:
    parts = []
    for _ in range(rng.randint(1, 6)):
        roll = rng.random()
        if roll < 0.4 or depth > 3:
            parts.append(" ".join(rng.choices(WORDS, k=rng.randint(1, 3))))
        elif roll < 0.5:
            parts.append("<!-- %s -->" % rng.choice(WORDS))
        elif roll < 0.55:
            parts.append("<br/>")
        elif roll < 0.6:
            parts.append(_img(rng))
        else:
            tag = rng.choice(TAGS)
            inner = random_html(rng, depth + 1)
            closer = "</%s>" % tag if rng.random() < 0.9 else ""  # broken nesting
            parts.append("<%s%s>%s%s" % (tag, _attrs(rng, tag), inner, closer))
    return rng.choice([" ", "", "\n"]).join(parts)


#: ASCII and Unicode whitespace, all of it removed by str.strip
EDGE_WHITESPACE = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x85",
                   "\xa0", "\u2003", "\u2028", "\u3000"]


def pad_ends(rng: random.Random, html: str) -> str:
    """html with 0-3 whitespace characters added at each end."""
    pads = ["".join(rng.choices(EDGE_WHITESPACE, k=rng.randint(0, 3)))
            for _ in range(2)]
    return pads[0] + html + pads[1]


def split_html(rng: random.Random, html: str, n: int = 3) -> list:
    """html cut at n - 1 random points into n consecutive html spans
    (kind, text, media_ref)."""
    cuts = [0] + sorted(rng.randint(0, len(html)) for _ in range(n - 1))
    return [("html", html[lo:hi], "") for lo, hi in zip(cuts, cuts[1:] + [len(html)])]
