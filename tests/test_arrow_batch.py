"""The Arrow batch kernel behind every extraction surface
(pipeline._convert_batch), checked on edge rows against convert_spans and
against the per-row metrics of the mapInPandas path it replaced."""

import os
import subprocess
import sys

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_type

from html2text_spark.arrow import array_of
from html2text_spark.core.config import Config
from html2text_spark.core.converter import convert_spans
from html2text_spark.pipeline import INPUT_SCHEMA, _convert_batch


def _pandas_row(raw_spans, cfg):
    """Row conversion of the replaced mapInPandas path, as it was: Arrow ->
    pandas hands it a NULL list as None, each span struct as a dict and a
    NULL struct as None.  Returns (output spans, (spans, bytes_in,
    malformed))."""
    in_spans = []
    bytes_in = 0
    malformed = False
    try:
        spans_list = [] if raw_spans is None else raw_spans
        if len(spans_list) > 1:
            spans_list = sorted(spans_list, key=lambda x: x["offset"] or 0)
        for s in spans_list:
            kind = s["kind"] or ""
            text = s["text"] or ""
            media = s["media_ref"] or ""
            bytes_in += len(text.encode("utf-8", "ignore")) + len(media)
            in_spans.append((kind, text, media))
        out = convert_spans(in_spans, cfg)
    except Exception:
        malformed = True
        out = []
    return out, (len(out), bytes_in, malformed)


def _span(kind, text, media, offset):
    return {"kind": kind, "text": text, "media_ref": media, "offset": offset}


ROWS = [
    ("plain", [_span("html", "<p>a <b>b</b> c</p>", "", 0)]),
    ("null-spans", None),
    ("empty-spans", []),
    ("null-fields", [
        _span(None, None, None, None),
        _span("html", "<p>x <a href='l.html'>y</a></p>", None, None),
        _span("media", None, None, None),
    ]),
    ("out-of-order", [
        _span("html", "<p>third</p>", "", 7),
        _span("media", "", "asset://m", 3),
        _span("html", "<h2>first</h2>", "", 1),
    ]),
    ("non-ascii", [
        _span("html", "<p>héllo 漢字 <img src='ü.png'></p>", "", 0),
        _span("media", "", "münze.png", 1),
    ]),
    ("null-struct", [None]),
    ("null-struct-among", [_span("html", "<p>a</p>", "", 0), None]),
    ("link", [_span("html", "<p><a href='x.html'>x</a></p>", "", 0)]),
]

SCHEMA = pa.schema(list(to_arrow_type(INPUT_SCHEMA)))


def _batch(rows=ROWS):
    return pa.RecordBatch.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows], schema=SCHEMA
    )


def _expected(batch, cfg):
    return [_pandas_row(raw, cfg) for raw in batch.to_pandas()["spans"]]


def _check(batch, cfg):
    want = _expected(batch, cfg)
    got = _convert_batch(batch, cfg).to_pylist()
    assert [r["doc_id"] for r in got] == batch.column("doc_id").to_pylist()
    for row, (out, metrics) in zip(got, want):
        assert row["spans"] == [
            _span(k, t, m, i) for i, (k, t, m) in enumerate(out)
        ], row["doc_id"]
        m = row["metrics"]
        assert (m["spans"], m["bytes_in"], m["malformed"]) == metrics, row
        assert m["ms"] >= 0.0
    return got


@pytest.mark.parametrize("cfg", [Config(), Config(base_url="://bad base")])
def test_batch_matches_pandas_path(cfg):
    got = {r["doc_id"]: r for r in _check(_batch(), cfg)}
    # NULL list: empty output, not malformed (the pandas path read it as [])
    assert got["null-spans"]["metrics"]["malformed"] is False
    # a NULL span struct, or a row whose conversion raises, is malformed
    # with no output spans
    assert got["null-struct"]["metrics"]["malformed"] is True
    assert got["null-struct-among"]["spans"] == []
    link = got["link"]
    assert link["metrics"]["malformed"] is (cfg.base_url != "")
    # UTF-8 bytes of the text plus characters of the media ref
    text = "<p>héllo 漢字 <img src='ü.png'></p>"
    assert got["non-ascii"]["metrics"]["bytes_in"] == (
        len(text.encode("utf-8")) + len("münze.png")
    )
    media = [s["media_ref"] for s in got["out-of-order"]["spans"]
             if s["kind"] == "media_ref"]
    assert media == ["asset://m"]
    assert got["out-of-order"]["spans"][0]["text"].lstrip().startswith("## first")


def test_sliced_batch():
    batch = _batch().slice(2, 5)
    assert batch.column("spans").offset == 2
    _check(batch, Config())


def test_empty_batch():
    for output, names in [
        ("full", ["doc_id", "spans", "metrics"]),
        ("metrics", ["doc_id", "metrics"]),
        ("markdown", ["doc_id", "markdown"]),
    ]:
        out = _convert_batch(_batch().slice(0, 0), Config(), output)
        assert out.num_rows == 0 and out.schema.names == names


def test_pruned_outputs_and_passthrough():
    batch = _batch()
    lang = pa.array(["l%d" % i for i in range(batch.num_rows)])
    n = pa.array(range(batch.num_rows), pa.int64())
    batch = pa.RecordBatch.from_arrays(
        batch.columns + [lang, n], names=batch.schema.names + ["lang", "n"]
    )
    full = _convert_batch(batch, Config(), "full", ("lang", "n"))
    metrics = _convert_batch(batch, Config(), "metrics", ("lang", "n"))
    markdown = _convert_batch(batch, Config(), "markdown", ("lang", "n"))
    assert full.schema.names == ["doc_id", "spans", "metrics", "lang", "n"]
    assert metrics.schema.names == ["doc_id", "metrics", "lang", "n"]
    assert markdown.schema.names == ["doc_id", "markdown", "lang", "n"]
    for out in (full, metrics, markdown):
        # doc_id and passthrough columns ride through without a copy
        for c in ("doc_id", "lang", "n"):
            assert out.column(c).buffers()[-1].address == \
                batch.column(c).buffers()[-1].address
    want_metrics = [
        {k: v for k, v in m.items() if k != "ms"}
        for m in full.column("metrics").to_pylist()
    ]
    assert want_metrics == [
        {k: v for k, v in m.items() if k != "ms"}
        for m in metrics.column("metrics").to_pylist()
    ]
    assert markdown.column("markdown").to_pylist() == [
        "".join(s["text"] for s in spans if s["kind"] == "text")
        for spans in full.column("spans").to_pylist()
    ]


@pytest.mark.parametrize("values,typ", [
    (["", "a", "héllo 漢字", "x" * 300], pa.string()),
    ([], pa.string()),
    ([True, False] * 5 + [True], pa.bool_()),
    ([0, -1, 2**31 - 1], pa.int32()),
    ([2**40, -5], pa.int64()),
    ([0.25, 1e-9], pa.float64()),
])
def test_array_of_matches_pa_array(values, typ):
    got = array_of(values, typ)
    got.validate(full=True)
    assert got.equals(pa.array(values, typ))


def test_kernel_never_imports_pandas():
    """pyarrow.array() on a list imports pandas, ~0.3 s in every new Python
    worker; the kernel builds its arrays from buffers instead.  The SQL
    surfaces (html2text_spark.functions) run the same row function and
    import no pandas either."""
    code = (
        "import sys, pyarrow as pa\n"
        "from html2text_spark.arrow import array_of\n"
        "from html2text_spark.core.config import Config\n"
        "from html2text_spark.pipeline import _SPANS_ARROW, _convert_batch\n"
        "span = pa.StructArray.from_arrays([array_of(['html'], pa.string()),"
        " array_of(['<p>a <b>b</b></p>'], pa.string()),"
        " array_of([''], pa.string()), array_of([0], pa.int32())],"
        " fields=list(_SPANS_ARROW.value_type))\n"
        "spans = pa.ListArray.from_arrays(array_of([0, 1], pa.int32()), span)\n"
        "batch = pa.RecordBatch.from_arrays("
        "[array_of(['d'], pa.string()), spans], names=['doc_id', 'spans'])\n"
        "for output in ('full', 'metrics', 'markdown'):\n"
        "    _convert_batch(batch, Config(), output)\n"
        "import html2text_spark.functions as fn\n"
        "fn.html_to_md_udf(Config()); fn.make_html_spans_udtf(Config())\n"
        "print('pandas' in sys.modules)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=root), check=True,
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr


class _CountingStr(str):
    """A str that counts the concatenations it takes part in."""

    adds = 0

    def __add__(self, other):
        _CountingStr.adds += 1
        return str.__add__(self, other)

    def __radd__(self, other):
        _CountingStr.adds += 1
        return str.__add__(other, self)


def test_convert_spans_joins_consecutive_html_spans_once():
    """Each run of consecutive html spans is joined once, so n spans cost
    O(total length); concatenating span by span copies the growing run
    once per span, O(n^2)."""
    run = ["<p>w%d</p>" % i for i in range(500)]
    spans = [("html", _CountingStr(t), "") for t in run]
    spans += [("media", "", "m")]
    spans += [("html", _CountingStr(t), "") for t in run]
    _CountingStr.adds = 0
    out = convert_spans(spans)
    assert _CountingStr.adds == 0
    joined = "".join(run)
    assert out == convert_spans(
        [("html", joined, ""), ("media", "", "m"), ("html", joined, "")]
    )
