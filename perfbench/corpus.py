"""Seeded input generators for the extraction benchmark.

The benchmark owns its inputs: nothing here imports the program, so a
change to ``html2text_spark.sources`` cannot change a workload.  Every
corpus is a pure function of (workload, seed).  The seed moves the text,
the link targets, the document order and the size jitter *inside* each
size class; the number of documents per size class is fixed, so the
total work of a corpus barely depends on the seed.

Documents carry their expected media-span count in the id
(``<prefix><index>m<count>``): convert_spans' invariant 2 says the output
holds one media_ref span per input media span and per ``<img>`` element,
so the sink can check every document without a side table.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pen", "dor", "el",
    "an", "qu", "is", "or", "ex", "um", "ba", "ze", "ti", "gra", "fo",
)


def _vocabulary() -> Tuple[str, ...]:
    rng = random.Random(0x5EED)
    return tuple(
        "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4)))
        for _ in range(512)
    )


VOCAB = _vocabulary()

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
NESTED_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))]
)
FLAT_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])


@dataclass
class Doc:
    """One generated document: span list (kind, text, media_ref) in order."""

    doc_id: str
    spans: List[Tuple[str, str, str]]
    size_class: str


@dataclass
class Corpus:
    """Documents in file order; ``sample`` is spread over all size classes."""

    docs: List[Doc]
    flat: bool  # single-span html documents stored as (doc_id, text)
    files: int
    sample: List[Doc]
    path: str = ""

    @property
    def per_file(self) -> int:
        return math.ceil(len(self.docs) / self.files)

    def stats(self) -> dict:
        n_spans = sum(len(d.spans) for d in self.docs)
        n_media = sum(1 for d in self.docs for k, _t, _m in d.spans if k == "media")
        nbytes = sum(len(t) + len(m) for d in self.docs for _k, t, m in d.spans)
        hist: Dict[str, int] = {}
        for d in self.docs:
            hist[d.size_class] = hist.get(d.size_class, 0) + 1
        return {
            "docs": len(self.docs),
            "mb": round(nbytes / 1e6, 3),
            "spans_per_doc": round(n_spans / len(self.docs), 3),
            "media_share": round(n_media / n_spans, 4),
            "size_classes": dict(sorted(hist.items())),
        }


# ----------------------------------------------------------------------
# html building blocks
# ----------------------------------------------------------------------


class _Writer:
    """Appends html blocks for one document and counts its <img> elements."""

    def __init__(self, rng: random.Random, doc_no: int, images: bool = True):
        self.rng = rng
        self.doc_no = doc_no
        self.images = images
        self.imgs = 0

    def words(self, n: int) -> str:
        return " ".join(self.rng.choices(VOCAB, k=n))

    def inline(self, n_words: int) -> str:
        rng = self.rng
        parts = []
        left = n_words
        while left > 0:
            run = min(left, rng.randint(3, 14))
            left -= run
            r = rng.random()
            text = self.words(run)
            if r < 0.10:
                parts.append(
                    '<a href="https://site%d.example/%s/%d">%s</a>'
                    % (rng.randint(0, 99), rng.choice(VOCAB), rng.randint(0, 9999), text)
                )
            elif r < 0.16:
                parts.append("<b>%s</b>" % text)
            elif r < 0.22:
                parts.append("<em>%s</em>" % text)
            elif r < 0.25:
                parts.append("<code>%s</code>" % text)
            elif r < 0.27:
                parts.append("%s &amp; %s" % (text, rng.choice(VOCAB)))
            elif r < 0.29 and self.images:
                self.imgs += 1
                parts.append(
                    '%s <img src="img://d%d/%d.png" alt="%s"/>'
                    % (text, self.doc_no, self.imgs, rng.choice(VOCAB))
                )
            else:
                parts.append(text)
        return " ".join(parts)

    def block(self) -> str:
        rng = self.rng
        r = rng.random()
        if r < 0.10:
            return "<h2>%s</h2>" % self.words(rng.randint(2, 6))
        if r < 0.18:
            items = "".join(
                "<li>%s</li>" % self.inline(rng.randint(2, 12))
                for _ in range(rng.randint(2, 6))
            )
            return ("<ul>%s</ul>" if rng.random() < 0.7 else "<ol>%s</ol>") % items
        if r < 0.21:
            return "<blockquote><p>%s</p></blockquote>" % self.inline(rng.randint(10, 40))
        if r < 0.23:
            return "<pre><code>%s\n%s</code></pre>" % (
                self.words(rng.randint(3, 8)), self.words(rng.randint(3, 8)))
        if r < 0.25:
            rows = "".join(
                "<tr>%s</tr>" % "".join(
                    "<td>%s</td>" % self.words(rng.randint(1, 3)) for _ in range(3))
                for _ in range(rng.randint(2, 4))
            )
            return "<table>%s</table>" % rows
        return "<p>%s</p>" % self.inline(rng.randint(12, 70))

    def blocks(self, target_bytes: int) -> List[str]:
        out = []
        size = 0
        while size < target_bytes:
            b = self.block()
            out.append(b)
            size += len(b)
        return out


def _interleaved(rng: random.Random, doc_no: int, target: int, size_class: str) -> Doc:
    """html fragments of whole blocks with media spans between some of them."""
    w = _Writer(rng, doc_no)
    blocks = w.blocks(target)
    spans: List[Tuple[str, str, str]] = []
    media = 0
    frag: List[str] = []
    for b in blocks:
        frag.append(b)
        if rng.random() < MEDIA_RATE:
            spans.append(("html", "".join(frag), ""))
            frag = []
            media += 1
            spans.append(("media", "", "asset://d%d/m%d" % (doc_no, media)))
    if frag:
        spans.append(("html", "".join(frag), ""))
    return Doc("s%06dm%d" % (doc_no, media + w.imgs), spans, size_class)


# ----------------------------------------------------------------------
# workloads
# ----------------------------------------------------------------------

#: (size-class label, documents, log2 byte range): the counts are exact
#: per corpus; sizes are stratified inside each class (see _class_plan)
SKEWED_CLASSES = (
    ("a_256B-2KB", 1280, (8.0, 11.0)),
    ("b_2KB-16KB", 1248, (11.0, 14.0)),
    ("c_monster_128KB-512KB", 32, (17.0, 19.0)),
)
#: chance that a media span follows an html block
MEDIA_RATE = 0.08


def _class_plan(rng: random.Random, classes) -> List[Tuple[str, int]]:
    """(label, target bytes) per document.  The j-th of k documents in a
    class draws its log2 size from the j-th of k equal slices of the class
    range, so the bytes per class barely move with the seed."""
    plan = []
    for label, count, (lo, hi) in classes:
        for j in range(count):
            plan.append((label, int(2 ** (lo + (hi - lo) * (j + rng.random()) / count))))
    return plan


def _skewed_corpus(seed: int) -> List[Doc]:
    rng = random.Random("extract_skewed/%d" % seed)
    return [
        _interleaved(rng, i, size, label)
        for i, (label, size) in enumerate(_class_plan(rng, SKEWED_CLASSES))
    ]


def _tiny_corpus(seed: int, n: int) -> List[Doc]:
    rng = random.Random("extract_tiny/%d" % seed)
    docs = []
    for i in range(n):
        text = "<p>%s</p>" % _Writer(rng, i, images=False).inline(rng.randint(30, 42))
        docs.append(Doc("t%06dm0" % i, [("html", text, "")], "tiny"))
    return docs


#: tiny documents per corpus: one extraction pass over either corpus
#: takes about 2.5 s at local[4] on a 4-core box, of which about 0.5 s
#: is fixed per-pass cost (job start, the sink's shuffle)
TINY_DOCS = 40000


def build(workload: str, seed: int, sample_size: int, files: int) -> Corpus:
    if workload == "extract_skewed":
        docs = _skewed_corpus(seed)
    elif workload == "extract_tiny":
        docs = _tiny_corpus(seed, TINY_DOCS)
    else:
        raise ValueError("unknown workload %r" % workload)
    # the sample is spread evenly over the generation order, so it holds
    # every size class in its corpus share
    k = min(sample_size, len(docs))
    sample = [docs[i * len(docs) // k] for i in range(k)]
    # file layout: each size class dealt evenly over the files (one file
    # per Spark task), then a seeded shuffle inside each file
    corpus = Corpus([], flat=(workload == "extract_tiny"), files=files, sample=sample)
    layout = random.Random("layout/%s/%d" % (workload, seed))
    for f in range(corpus.files):
        part = docs[f::corpus.files]
        layout.shuffle(part)
        corpus.docs.extend(part)
    return corpus


def write(corpus: Corpus, path: str) -> None:
    """Materialize the corpus as ``corpus.files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    per_file = corpus.per_file
    for f in range(corpus.files):
        chunk = corpus.docs[f * per_file:(f + 1) * per_file]
        if corpus.flat:
            table = pa.table(
                {"doc_id": [d.doc_id for d in chunk],
                 "text": [d.spans[0][1] for d in chunk]},
                schema=FLAT_SCHEMA,
            )
        else:
            spans = [
                [{"kind": k, "text": t, "media_ref": m, "offset": o}
                 for o, (k, t, m) in enumerate(d.spans)]
                for d in chunk
            ]
            table = pa.table(
                {"doc_id": [d.doc_id for d in chunk], "spans": spans},
                schema=NESTED_SCHEMA,
            )
        pq.write_table(table, os.path.join(path, "part-%03d.parquet" % f))
    corpus.path = path
