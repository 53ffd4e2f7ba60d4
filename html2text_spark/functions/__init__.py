"""SQL surfaces over the extraction row function.

``html_to_md(html)`` is the string->string surface (the reference's
``HTML2Markdown::convert``); ``html_spans(html)`` is a Python UDTF that
explodes one document into span rows, lateral-join style::

    SELECT d.doc_id, s.kind, s.text, s.media_ref, s.offset
    FROM docs d, LATERAL html_spans(d.html) s

Both run ``pipeline._convert_row``, the row function behind ``extract``,
on the one-span document [("html", html, "", 0)], so every surface gives
the same markdown and reports a failing document the same way:

  * NULL input: ``html_to_md`` gives NULL, ``html_spans`` no rows;
  * a failing document: ``html_to_md`` gives "" (as
    ``extract(output="markdown")`` does), ``html_spans`` one
    ('error', <exception class name>, '', -1) row, where ``extract`` sets
    metrics.malformed.

The heavy path remains the Arrow-batched ``pipeline.extract``; these are
the ergonomic SQL entry points (one row function call per row).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

from pyspark.sql import SparkSession
from pyspark.sql.functions import udf, udtf
from pyspark.sql.types import StringType

from ..core.config import Config
from ..pipeline import _convert_row

__all__ = ["html_to_md_udf", "make_html_spans_udtf", "register_all"]


def html_to_md_udf(cfg: Optional[Config] = None):
    """Row-at-a-time html->markdown UDF (plain Python, no pandas)."""
    cfg = cfg or Config()

    def html_to_md(html):
        if html is None:
            return None
        out = _convert_row([("html", html, "", 0)], cfg)[0]
        return "".join([text for kind, text, _m in out if kind == "text"])

    return udf(html_to_md, StringType())


def make_html_spans_udtf(cfg: Optional[Config] = None):
    """Build the UDTF class (config captured in the closure)."""
    cfg = cfg or Config()

    @udtf(returnType="kind: string, text: string, media_ref: string, offset: int")
    class HtmlSpans:
        def eval(self, html: Optional[str]) -> Iterator[Tuple]:
            if html is None:
                return
            out, _bytes, error, _ms = _convert_row([("html", html, "", 0)], cfg)
            if error is not None:
                yield "error", error, "", -1
            for i, (kind, text, media) in enumerate(out):
                yield kind, text, media, i

    return HtmlSpans


def register_all(spark: SparkSession, cfg: Optional[Config] = None) -> None:
    """Register ``html_to_md`` and ``html_spans`` for SQL."""
    spark.udf.register("html_to_md", html_to_md_udf(cfg))
    spark.udtf.register("html_spans", make_html_spans_udtf(cfg))
