"""Conversion options for the HTML -> markdown span extractor.

Mirrors the 36-field option surface of the reference configuration object
(/root/reference/src/Config.php:9-86) so every reference fixture can be
reproduced.  The dataclass is frozen so a single instance can be captured by
a Spark UDF closure / broadcast safely.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Callable, Optional, Tuple


@dataclass(frozen=True)
class Config:
    # unicode / escaping
    unicode_snob: bool = False
    escape_snob: bool = False
    # links
    links_each_paragraph: bool = False
    body_width: int = 78
    skip_internal_links: bool = True
    inline_links: bool = True
    protect_links: bool = False
    wrap_links: bool = True
    wrap_list_items: bool = False
    wrap_tables: bool = False
    # google docs mode
    google_doc: bool = False
    google_list_indent: int = 36
    bold_text_style_values: Tuple[str, ...] = ("bold", "700", "800", "900")
    hide_strikethrough: bool = False
    # ignore switches
    ignore_anchors: bool = False
    ignore_mailto_links: bool = False
    ignore_images: bool = False
    images_as_html: bool = False
    images_to_alt: bool = False
    images_with_size: bool = False
    ignore_emphasis: bool = False
    # code blocks
    mark_code: bool = False
    backquote_code_style: bool = False
    # images / tables
    default_image_alt: str = ""
    pad_tables: bool = False
    use_automatic_links: bool = True
    bypass_tables: bool = False
    ignore_tables: bool = False
    # layout
    single_line_break: bool = False
    open_quote: str = '"'
    close_quote: str = '"'
    include_sup_sub: bool = False
    base_url: str = ""
    ul_item_mark: str = "*"
    emphasis_mark: str = "_"
    strong_mark: str = "**"
    # extension point: callable(converter, tag, attrs, start) -> bool
    # (True swallows the tag event) -- reference Config::tagCallback
    tag_callback: Optional[Callable[..., bool]] = field(default=None, compare=False)

    def evolve(self, **kwargs: Any) -> "Config":
        return replace(self, **kwargs)
