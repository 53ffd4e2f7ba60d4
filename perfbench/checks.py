"""Output checks of the extraction benchmark.

Three checks, none inside a timed region except the sink aggregate,
which is how a timed pass consumes its output anyway:

* ``sink``: the aggregate every timed pass ends in.  Per document it
  tests convert_spans' invariant 2 (media_ref spans == media spans +
  ``<img>`` elements, expected count carried in the doc id) and counts
  malformed rows; over the corpus it counts rows and distinct doc ids
  (so a missing, extra or duplicated document fails) and folds an
  order-free digest of (doc_id, spans), so every pass of a run must print
  the same digest and two commits can be compared on the same seed.
* ``known_answers``: hand-checked html2text conversions run through
  Spark ``extract``, byte-exact after the fixture rule (rstrip).
* ``compare_sample``: Spark output on a seeded sample of the corpus must
  equal in-process ``convert_spans`` span for span.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INPUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# (name, input spans, expected markdown rstripped, expected media refs in
#  order) under the default Config
DEFAULT_CASES: List[Tuple[str, list, str, list]] = [
    ("heading_emphasis",
     [("html", "<h1>Title</h1><p>Body <b>bold</b> and <em>em</em>.</p>", "")],
     "# Title\n\nBody **bold** and _em_.", []),
    ("nested_list",
     [("html", "<ul><li>one</li><li>two<ul><li>nested</li></ul></li></ul>", "")],
     "  * one\n  * two\n    * nested", []),
    ("ordered_list",
     [("html", "<ol><li>first</li><li>second</li></ol>", "")],
     "  1. first\n  2. second", []),
    ("inline_link",
     [("html", '<p>See <a href="http://example.com/a">the docs</a> now.</p>', "")],
     "See [the docs](http://example.com/a) now.", []),
    ("automatic_link",
     [("html", '<p><a href="http://example.com/">http://example.com/</a></p>', "")],
     "<http://example.com/>", []),
    ("image",
     [("html", '<p>x <img src="pic.png" alt="Pic"/> y</p>', "")],
     "x ![Pic](pic.png) y", ["pic.png"]),
    ("blockquote",
     [("html", "<blockquote><p>quoted</p></blockquote>", "")],
     "> quoted", []),
    ("code_block",
     [("html", "<pre><code>a = 1\nb = 2</code></pre>", "")],
     "\n    a = 1\n    b = 2", []),
    ("entities",
     [("html", "<p>a &amp; b &lt; c</p>", "")],
     "a & b < c", []),
    ("inline_code",
     [("html", "<p>inline <code>x()</code> call</p>", "")],
     "inline `x()` call", []),
    ("table",
     [("html", "<table><tr><th>a</th><th>b</th></tr>"
               "<tr><td>1</td><td>2</td></tr></table>", "")],
     "a| b  \n---|---  \n1| 2", []),
    ("wrap_at_78",
     [("html", "<p>" + "word " * 30 + "</p>", "")],
     ("word " * 15).rstrip() + "\n" + ("word " * 15).rstrip(), []),
    ("horizontal_rule",
     [("html", "<hr><p>after</p>", "")],
     "* * *\n\nafter", []),
    ("interleaved_media",
     [("html", "<h2>Sec</h2><p>one</p>", ""), ("media", "", "asset://m1"),
      ("html", "<p>two <img src='i.png'/></p>", "")],
     "## Sec\n\none\n\ntwo ![](i.png)", ["asset://m1", "i.png"]),
    ("media_only",
     [("media", "", "asset://only")],
     "", ["asset://only"]),
]

#: cases under Config(inline_links=False): reference-style links
NO_INLINE_LINKS_CASES: List[Tuple[str, list, str, list]] = [
    ("reference_links",
     [("html", '<p>Read <a href="http://e.com/x">this</a> and '
               '<a href="http://e.com/y">that</a>.</p>', "")],
     "Read [this][1] and [that][2].\n\n   [1]: http://e.com/x\n\n"
     "   [2]: http://e.com/y", []),
]


def span_rows(spans) -> list:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for o, (k, t, m) in enumerate(spans)
    ]


def sink(extracted: DataFrame):
    """The aggregate a timed pass ends in: one small row per pass."""
    media_out = F.size(F.filter("spans", lambda s: s["kind"] == "media_ref"))
    media_want = F.regexp_extract("doc_id", r"m(\d+)$", 1).cast("int")
    return extracted.agg(
        F.count("*").alias("docs"),
        F.count_distinct("doc_id").alias("distinct_docs"),
        F.sum(F.col("metrics.malformed").cast("int")).alias("malformed"),
        F.sum((media_out != media_want).cast("int")).alias("media_bad"),
        F.bit_xor(F.xxhash64("doc_id", "spans")).alias("digest"),
    ).collect()[0]


def sink_failures(row, n_docs: int) -> int:
    """Documents that failed in one pass: missing, extra, duplicated,
    malformed or off-invariant (at most ``n_docs``)."""
    distinct = int(row["distinct_docs"])
    wrong_count = abs(n_docs - distinct) + (int(row["docs"]) - distinct)
    bad = wrong_count + int(row["malformed"] or 0) + int(row["media_bad"] or 0)
    return min(n_docs, bad)


def known_answers(spark, extract, cfg, cases, partitions: int) -> List[str]:
    """Run known-answer ``cases`` through Spark ``extract`` under ``cfg``
    (one job of ``partitions`` tasks); return the names of the cases that
    failed."""
    df = spark.createDataFrame(
        [(name, span_rows(spans)) for name, spans, _md, _media in cases], INPUT_DDL
    ).coalesce(partitions)
    got = {r["doc_id"]: r for r in extract(df, cfg).collect()}
    failures = []
    for name, _spans, want_md, want_media in cases:
        row = got.get(name)
        if row is None or row["metrics"]["malformed"]:
            failures.append(name)
            continue
        out = row["spans"]
        md = "".join(s["text"] for s in out if s["kind"] == "text").rstrip()
        media = [s["media_ref"] for s in out if s["kind"] == "media_ref"]
        if md != want_md or media != want_media:
            failures.append(name)
    return failures


def compare_sample(spark_rows, expected: dict) -> List[str]:
    """Doc ids whose Spark spans differ from in-process convert_spans."""
    got = {r["doc_id"]: r for r in spark_rows}
    bad = []
    for doc_id, want in expected.items():
        row = got.get(doc_id)
        if row is None or row["metrics"]["malformed"]:
            bad.append(doc_id)
            continue
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        if spans != [(k, t, m, o) for o, (k, t, m) in enumerate(want)]:
            bad.append(doc_id)
    return bad
