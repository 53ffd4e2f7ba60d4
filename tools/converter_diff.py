"""Differential check of the converter at a git revision against the
working tree.

Usage: python3 tools/converter_diff.py <git-rev>

The revision's ``html2text_spark/`` is extracted with ``git archive`` into a
temporary directory, and each side converts every case in its own
subprocess, so neither imports the other's package.  Inputs:

  * the ``perfbench.corpus`` samples of both workloads for each seed;
  * random rich documents from ``tests/htmlgen.py`` over every tag of the
    working tree's ``_TAG_TABLE``, with googleDoc styles, entities,
    ``&nbsp;``, U+2003 and U+3000;
  * tag soups with mixed quoting, ``/>`` and unterminated tags;
  * every ``PAD_EVERY``-th rich document and soup with 0-3 ASCII or
    Unicode whitespace characters added at each end (named ``.../padded``).

Every document is converted with ``convert`` and ``convert_spans``, and
once more split at random points around media spans, each on the fast
tokenizer and the forced ``HTMLParser`` fallback, under every ``Config``
variant below.  An exception is recorded as that case's output.  The
report counts cases where both sides returned different outputs apart
from cases where one side raised; the exit status is 1 on any difference.
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import os
import pickle
import random
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: corpus seeds, and documents per seed of each perfbench workload
SEEDS = (3, 5, 7)
WORKLOAD_DOCS = (("extract_skewed", 100), ("extract_tiny", 50))
#: random rich documents and tag soups
RICH_DOCS = 500
SOUP_DOCS = 500
PAD_EVERY = 3


def _tag_callback(converter, tag, attrs, start):
    """Swallow <span> and <b> events and mark every <hr> start."""
    if tag == "hr" and start:
        converter.o("[hr]")
    return tag in ("span", "b")


#: Config keyword arguments per variant
VARIANTS = {
    "default": {},
    "google_doc": {"google_doc": True},
    "google_doc_hide_strike": {"google_doc": True, "hide_strikethrough": True},
    "reference_links": {"inline_links": False},
    "reference_links_each_para": {"inline_links": False, "links_each_paragraph": True},
    "ignore_anchors": {"ignore_anchors": True},
    "protect_links": {"protect_links": True, "skip_internal_links": False,
                      "ignore_mailto_links": True},
    "images_as_html": {"images_as_html": True},
    "images_to_alt": {"images_to_alt": True, "default_image_alt": "img"},
    "images_with_size": {"images_with_size": True},
    "ignore_images": {"ignore_images": True},
    "ignore_tables": {"ignore_tables": True},
    "bypass_tables": {"bypass_tables": True},
    "pad_tables": {"pad_tables": True},
    "include_sup_sub": {"include_sup_sub": True},
    "body_width_-1": {"body_width": -1},
    "no_wrap_unicode": {"body_width": 0, "unicode_snob": True},
    "code_styles": {"backquote_code_style": True, "mark_code": True},
    "plain_marks": {"ignore_emphasis": True, "single_line_break": True,
                    "ul_item_mark": "-", "body_width": 30},
    "tag_callback": {"tag_callback": _tag_callback},
}


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------

_SOUP = ["<", ">", "/>", "</", "<p", "<b", "<a", "<img", "<br", "<!--", "-->",
         "<!", "<?", " ", "\n", "=", '"', "'", "x", "y", "href", "src",
         'a="v"', "a='v'", "a=v", "a=\"v'", "p>", "b>", "/p>", "&", "&amp;",
         "&#", ";", "\u3000", "pre", "li", "ul", "table", "td", "h2"]


def _soup(rng: random.Random) -> str:
    return "".join(rng.choices(_SOUP, k=rng.randint(1, 40)))


def _split(rng: random.Random, html: str, tag: str) -> list:
    """html cut at 1-3 random points with a media span at each cut."""
    cuts = sorted(rng.randint(0, len(html)) for _ in range(rng.randint(1, 3)))
    spans, prev = [], 0
    for i, cut in enumerate(cuts):
        spans.append(("html", html[prev:cut], ""))
        spans.append(("media", "", "asset://%s/%d" % (tag, i)))
        prev = cut
    spans.append(("html", html[prev:], ""))
    return spans


def build_inputs() -> list:
    """[(name, spans)]: every document as given and split around media."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from htmlgen import pad_ends, random_html
    from perfbench import corpus

    docs = []
    for seed in SEEDS:
        for workload, n in WORKLOAD_DOCS:
            for d in corpus.build(workload, seed, n, 1).sample:
                docs.append(("%s/%d/%s" % (workload, seed, d.doc_id), d.spans))
    rng = random.Random("converter_diff")
    pad_rng = random.Random("converter_diff/pad")  # rng draws the same documents
    for kind, n, make in (("rich", RICH_DOCS, random_html), ("soup", SOUP_DOCS, _soup)):
        for i in range(n):
            name, html = "%s/%d" % (kind, i), make(rng)
            if i % PAD_EVERY == 0:
                name, html = name + "/padded", pad_ends(pad_rng, html)
            docs.append((name, [("html", html, "")]))
    inputs = []
    for name, spans in docs:
        inputs.append((name, spans))
        html = "".join(t for k, t, _m in spans if k == "html")
        inputs.append((name + "/split", _split(rng, html, name)))
    return inputs


# ----------------------------------------------------------------------
# one side: convert every case in this process
# ----------------------------------------------------------------------


def _digest(value) -> str:
    return hashlib.blake2b(
        repr(value).encode("utf-8", "surrogatepass"), digest_size=16
    ).hexdigest()


def run_side(pkg_root: str, inputs_path: str, out_path: str) -> None:
    sys.path.insert(0, pkg_root)
    import html2text_spark.core.converter as C
    from html2text_spark.core.config import Config

    with open(inputs_path, "rb") as f:
        inputs = pickle.load(f)
    configs = {name: Config(**kwargs) for name, kwargs in VARIANTS.items()}
    results = {}
    for doc_name, spans in inputs:
        html = "".join(t for k, t, _m in spans if k == "html")
        # a split document's joined html is its unsplit twin's
        fns = ("convert_spans",) if doc_name.endswith("/split") else (
            "convert_spans", "convert")
        for var, cfg in configs.items():
            for path in ("fast", "fallback"):
                C._FORCE_FALLBACK = path == "fallback"
                for fn in fns:
                    try:
                        if fn == "convert":
                            out = ("ok", _digest(C.convert(html, cfg)))
                        else:
                            out = ("ok", _digest(C.convert_spans(spans, cfg)))
                    except Exception as exc:  # recorded as the output
                        out = ("raised", "%s: %s" % (type(exc).__name__, exc))
                    results[(doc_name, var, fn, path)] = out
    with open(out_path, "wb") as f:
        pickle.dump(results, f)


# ----------------------------------------------------------------------
# driver
# ----------------------------------------------------------------------


def _extract(rev: str, dest: str) -> None:
    archive = os.path.join(dest, "rev.tar")
    with open(archive, "wb") as f:
        subprocess.run(
            ["git", "-C", ROOT, "archive", rev, "html2text_spark"],
            stdout=f, check=True,
        )
    with tarfile.open(archive) as tar:
        tar.extractall(dest)
    os.remove(archive)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="git revision to compare the working tree with")
    args = ap.parse_args(argv)

    t0 = time.time()
    inputs = build_inputs()
    with tempfile.TemporaryDirectory(prefix="converter_diff_") as tmp:
        rev_root = os.path.join(tmp, "rev")
        os.mkdir(rev_root)
        _extract(args.rev, rev_root)
        inputs_path = os.path.join(tmp, "inputs.pkl")
        with open(inputs_path, "wb") as f:
            pickle.dump(inputs, f)
        sides = {"rev": rev_root, "tree": ROOT}
        procs = {
            side: subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--side", root,
                 inputs_path, os.path.join(tmp, side + ".pkl")]
            )
            for side, root in sides.items()
        }
        for side, proc in procs.items():
            if proc.wait() != 0:
                print("%s side failed with exit status %d" % (side, proc.returncode))
                return 2
        results = {}
        for side in sides:
            with open(os.path.join(tmp, side + ".pkl"), "rb") as f:
                results[side] = pickle.load(f)

    rev, tree = results["rev"], results["tree"]
    assert rev.keys() == tree.keys()
    differ, raised = [], collections.Counter()
    for case, a in rev.items():
        b = tree[case]
        if a == b:
            continue
        if a[0] == b[0] == "ok":
            differ.append(case)
        elif a[0] == b[0]:
            raised[(case[1], "both (errors differ)", a[1].split(":")[0])] += 1
        else:
            side = "rev" if a[0] == "raised" else "tree"
            error = (a if side == "rev" else b)[1].split(":")[0]
            raised[(case[1], side, error)] += 1
    print("converter_diff %s vs working tree: %d inputs, %d variants, %d cases, %.0f s"
          % (args.rev, len(inputs), len(VARIANTS), len(rev), time.time() - t0))
    print("both returned, outputs differ: %d (%s)" % (len(differ), ", ".join(
        "%s %d" % (fn, sum(c[2] == fn for c in differ))
        for fn in ("convert", "convert_spans"))))
    for case in differ[:20]:
        print("  %s | %s | %s | %s" % case)
    print("one side raised (or both, differently): %d" % sum(raised.values()))
    for (var, side, error), n in sorted(raised.items()):
        print("  %s: only %s raised %s in %d cases" % (var, side, error, n))
    return 1 if differ or raised else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--side":
        run_side(*sys.argv[2:5])
    else:
        sys.exit(main())
