"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Every operator is a pure projection of built-in Spark SQL expressions
(whole-stage-codegen'd, zero shuffle, zero Python) and every formula is
mirrorable in ANSI SQL so the DuckDB oracle can verify it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int, split_words

#: BPE-ish token pattern: alnum runs or single non-space symbols
TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

#: marker words per language for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def token_count(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_words): regexp token count + whitespace words."""
    return df.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN)).alias("n_tokens"),
        F.size(split_words("text")).alias("n_words"),
    )


def _marker_hits(words) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(F.col("text")), F.lit(pattern))


def quality_score(df: DataFrame, keep: tuple = ()) -> DataFrame:
    """Heuristic document quality: length, punctuation and stopword ratios.

    score = 0.4*min(words/100,1) + 0.3*stopword_ratio*5 (capped at 0.3)
          + 0.3*(1 - punct_ratio*10 capped to [0,1])
    Deterministic double arithmetic, mirrored in the oracle SQL.

    ``keep`` names input columns to carry through the projection
    unchanged (appended after the score columns) -- the zero-cost way to
    retain a grouping key, where recovering it later would mean a second
    corpus-sized join.
    """
    text = F.col("text")
    n_chars = F.length(text).cast("double")
    n_words = F.size(split_words(text)).cast("double")
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
    n_stop = _marker_hits(STOPWORDS).cast("double")

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(n_words / F.lit(100.0), F.lit(1.0))
        + F.least(F.lit(0.3), F.lit(0.3) * stop_ratio * F.lit(5.0))
        + F.lit(0.3)
        * F.greatest(
            F.lit(0.0), F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * F.lit(10.0))
        )
    )
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(punct_ratio, 8).alias("punct_ratio"),
        F.round(stop_ratio, 8).alias("stopword_ratio"),
        F.round(score, 8).alias("quality"),
        *keep,
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-marker language ID over LANG_MARKERS.

    predicted = argmax over languages of marker-hit count (ties broken by
    language code ascending, matching the oracle's deterministic order).
    """
    scores = [
        (lang, _marker_hits(words)) for lang, words in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    predicted = F.coalesce(
        *[F.when(s == best, F.lit(lang)) for lang, s in scores]
    )
    cols = [F.col("doc_id")]
    cols += [s.alias(f"score_{lang}") for lang, s in scores]
    cols += [
        F.when(best > 0, predicted).otherwise(F.lit("und")).alias("predicted_lang")
    ]
    return df.select(*cols)


def doc_fingerprint(df: DataFrame) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint of the word sequence.

    fold: acc = (acc * 31 + md5_int(word)) mod 10^15 -- stays within
    int64 (acc < 1e15, md5_int < 1.16e18, product+sum < 9.2e18) so both
    engines compute identical values with no overflow.
    """
    words = split_words("text")
    fp = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(31) + md5_int(w)) % F.lit(10**15),
    )
    return df.select("doc_id", fp.alias("fingerprint"))


def repetition_stats(df, k: int = 3):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", App. A: repetition filters):
    the fraction of duplicated word k-grams and duplicated words per
    document.  High ratios indicate boilerplate/spam -- a standard
    training-data cleaning gate.  Pure codegen projection (size +
    array_distinct over the shingle array): zero shuffles, zero Python.
    """
    from .dedup import shingles

    grams = shingles(k)
    words = split_words("text")
    n_g = F.size(grams)
    n_gd = F.size(F.array_distinct(grams))
    n_w = F.size(words)
    n_wd = F.size(F.array_distinct(words))
    ratio = lambda total, distinct: F.when(  # noqa: E731
        total > 0,
        F.round(F.lit(1.0) - distinct.cast("double") / total.cast("double"), 8),
    ).otherwise(F.lit(0.0))
    return df.select(
        "doc_id",
        n_g.alias("n_grams"),
        n_gd.alias("n_distinct_grams"),
        ratio(n_g, n_gd).alias("dup_gram_ratio"),
        n_w.alias("n_words"),
        n_wd.alias("n_distinct_words"),
        ratio(n_w, n_wd).alias("dup_word_ratio"),
    )


def winnow_fingerprints(df, k: int = 3, w: int = 4):
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: local algorithms for document fingerprinting", SIGMOD
    2003 -- the MOSS algorithm): hash every word k-gram, slide a window
    of w consecutive hashes, keep each window's minimum; the selected
    set is position-robust (any shared substring of length >= k+w-1
    guarantees a shared fingerprint).  All built-ins: transform +
    slice + array_min over the hash array -- zero Python, zero shuffle.

    Returns (doc_id, n_fingerprints, fp_checksum, fp_min): the distinct
    selected-hash set summarized order-independently (count, int64 sum,
    min) so the result is hashable against the SQL oracle.
    """
    from .dedup import md5_int32, shingles

    # materialize the hash array in its own projection: referencing the
    # transform EXPRESSION inside the window lambda would re-evaluate
    # the full k-gram md5 pass once per window (O(n^2) md5 calls --
    # measured 58 s vs 4 s at sf0.1)
    hashed = df.select(
        "doc_id",
        F.transform(shingles(k), lambda s: md5_int32(s)).alias(
            "_hashes"
        ),
    )
    hashes = F.col("_hashes")
    n = F.size(hashes)
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(hashes, i, w)),
        )
    )
    return hashed.select(
        "doc_id", sel.alias("_sel")
    ).select(
        "doc_id",
        F.size("_sel").alias("n_fingerprints"),
        F.aggregate(
            "_sel", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("fp_checksum"),
        F.array_min("_sel").alias("fp_min"),
    )


def group_percentiles_exact(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """EXACT interpolated percentiles per group, computed scale-safely
    via a value histogram -- the 100 TB twin of ``percentile()``.

    Spark's ``percentile()`` aggregate buffers every group value in the
    partial aggregation buffers (ObjectHashAggregate), so one task
    ultimately holds an entire group's values -- corpus-sized at the
    design point.  For a DISCRETE value domain (lengths, counts, scores
    in fixed precision) the same exact result falls out of the value
    histogram: groupBy(group, value) is a uniform two-key aggregate
    whose survivor set is |distinct values| per group (bounded by the
    domain, NOT the corpus), and the cumulative-count window over it is
    tiny.  Interpolation follows the percentile_cont definition
    (idx = p*(n-1); v = lo + (hi-lo)*frac), written with the identical
    IEEE operation order in the DuckDB oracle so values hash bit-equal.

    Two shuffles: (group, value) aggregate, then the per-group window
    over the (small) histogram.  No per-value state anywhere.
    """
    from pyspark.sql.window import Window

    names = [f"p{round(p * 100)}" for p in ps]
    if len(set(names)) != len(names):
        raise ValueError(
            f"group_percentiles_exact: ps {tuple(ps)} produce duplicate "
            f"output column names {names}; use ps that differ by >= 1%"
        )
    # NULL values are excluded, matching SQL percentile_cont/quantile
    # semantics -- without this, Spark's NULLS-FIRST window ordering
    # would shift every cumulative count while DuckDB sorts NULLS LAST,
    # silently skewing the quartiles AND breaking oracle parity
    df = df.filter(F.col(value_col).isNotNull())
    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("cnt"))
    w_ord = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    c = hist.select(
        group_col,
        F.col(value_col).cast("double").alias("v"),
        F.sum("cnt").over(w_ord).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    aggs = [F.max("n").alias("n")]
    for i, p in enumerate(ps):
        # value at 0-based rank r is the first histogram row whose
        # cumulative count exceeds r; idx = p*(n-1) is constant per group
        lo_rank = F.floor(F.lit(p) * (F.col("n") - 1))
        aggs.append(
            F.min(F.when(F.col("cum") >= lo_rank + 1, F.col("v"))).alias(f"_lo{i}")
        )
        aggs.append(
            F.min(F.when(F.col("cum") >= lo_rank + 2, F.col("v"))).alias(f"_hi{i}")
        )
    a = c.groupBy(group_col).agg(*aggs)
    out = [F.col(group_col)]
    for i, p in enumerate(ps):
        idx = F.lit(p) * (F.col("n") - 1)
        frac = idx - F.floor(idx)
        lo, hi = F.col(f"_lo{i}"), F.coalesce(F.col(f"_hi{i}"), F.col(f"_lo{i}"))
        # round() not int(): int(0.95*100) is 94 (binary-float truncation)
        out.append((lo + (hi - lo) * frac).alias(names[i]))
    out.append(F.col("n").cast("long").alias("docs"))
    return a.select(*out)


def salient_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k salient words per group by tf-idf-style score -- vocabulary
    characterization for corpus curation (what distinguishes a source /
    language slice).

    score = tf * (N / df): term frequency times a LINEAR inverse
    document frequency.  Linear rather than log(N/df) on purpose: the
    ordering per group is identical for any monotone idf, and the linear
    form is integer-product / IEEE-division arithmetic that hashes
    bit-equal against the SQL oracle (libm log differs in the last ulp
    across engines -- the same reason priority sampling avoids pow()).

    Plan: one explode, one (group, word) aggregate with a two-phase
    count-distinct for df (uniform keys, map-side combined), a broadcast
    of the |groups|-row doc-count dimension, then a rank window whose
    input is vocabulary-sized (never corpus-sized) and rides
    WindowGroupLimit.
    """
    from pyspark.sql.window import Window

    words = df.select(
        F.col("lang").alias("grp"),
        F.col("doc_id"),
        F.explode(split_words("text")).alias("word"),
    )
    stats = words.groupBy("grp", "word").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    group_docs = df.groupBy(F.col("lang").alias("grp")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    scored = stats.join(F.broadcast(group_docs), "grp").select(
        "grp",
        "word",
        "tf",
        "df",
        ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
            "score"
        ),
    )
    w = Window.partitionBy("grp").orderBy(
        F.desc("score"), F.desc("tf"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", F.round("score", 6))
    )


#: PII patterns restricted to the Java-regex ∩ RE2 common subset (no
#: backrefs, no lookaround; the inline (?i) flag IS in the common
#: subset) so the Spark expressions and the DuckDB oracle compile the
#: SAME pattern text.  Order matters: emails are scrubbed before
#: IPs/phones so their digit runs can't be re-matched.
PII_PATTERNS = (
    ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b", "<IP>"),
    ("phone", r"\b555-[0-9]{4}\b", "<PHONE>"),
)


def pii_scrub(df: DataFrame) -> DataFrame:
    """Redact emails / IPv4s / phone markers and count them per doc.

    A standard training-data compliance pass: counts come from
    regexp_count on the ORIGINAL text, redaction applies the patterns
    in PII_PATTERNS order via chained regexp_replace (global in both
    engines).  Pure codegen projection -- zero shuffle, zero Python --
    and every expression mirrors 1:1 into the SQL oracle, so the
    scrubbed text itself is value-verified (md5), not just the counts.

    Returns (doc_id, n_email, n_ip, n_phone, scrubbed_len,
    scrubbed_md5).
    """
    text = F.col("text")
    counts = [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = text
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        "doc_id",
        *counts,
        F.length(scrubbed).cast("int").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


#: filter-rule thresholds (Gopher-style bounds, tuned to the synthetic
#: corpus so every rule actually fires on some documents)
FILTER_RULES = {
    "min_words": 25,
    "max_words": 90,
    "min_stopword_ratio": 0.02,
    "max_dup_word_ratio": 0.65,
}


def filter_verdicts(df: DataFrame) -> DataFrame:
    """Combined quality-filter verdict per document with reason codes.

    The decision stage of a Gopher/C4-style cleaning pipeline: each
    document is kept iff it passes ALL rules; failures are reported as
    a comma-joined reason string in FIXED rule order so the output is
    deterministic and hashable.  Thresholds compare the RAW IEEE ratios
    (identical operation order in Spark and the oracle); the ratios are
    rounded only for display.  Pure projection: zero shuffle, zero
    Python, survives any scale.

    Returns (doc_id, n_words, stopword_ratio, dup_word_ratio, kept,
    reasons).
    """
    words = split_words("text")
    n_words = F.size(words).cast("double")
    n_stop = _marker_hits(STOPWORDS).cast("double")
    n_distinct = F.size(F.array_distinct(words)).cast("double")
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    dup_ratio = F.when(
        n_words > 0, F.lit(1.0) - n_distinct / n_words
    ).otherwise(F.lit(0.0))
    r = FILTER_RULES
    checks = [
        F.when(n_words < r["min_words"], F.lit("too_short")),
        F.when(n_words > r["max_words"], F.lit("too_long")),
        F.when(stop_ratio < r["min_stopword_ratio"], F.lit("low_stopword")),
        F.when(dup_ratio > r["max_dup_word_ratio"], F.lit("high_repetition")),
    ]
    reasons = F.concat_ws(",", F.array_compact(F.array(*checks)))
    return df.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        F.round(stop_ratio, 8).alias("stopword_ratio"),
        F.round(dup_ratio, 8).alias("dup_word_ratio"),
        (reasons == "").alias("kept"),
        reasons.alias("reasons"),
    )


#: fixed ad-hoc search terms for the BM25 demo query (corpus vocabulary)
BM25_TERMS = ("spark", "join", "vector")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame, terms: tuple = BM25_TERMS, k: int = 20
) -> DataFrame:
    """BM25 relevance top-k over whitespace words -- the lexical ranking
    stage of a retrieval/decontamination pipeline.

    Two passes, both scale-shaped: (1) a per-document projection derives
    doclen and per-term tfs (pure codegen, no shuffle); (2) ONE global
    aggregate produces the corpus statistics (N, total length, per-term
    document frequencies) as a single row that joins back via broadcast.
    Scoring then happens in a projection and only term-matching documents
    reach the TakeOrderedAndProject top-k -- the corpus is never sorted.

    Determinism: the classic ``ln``-based idf is avoided because libm
    logs are not guaranteed bit-identical across engines; the raw
    Robertson idf ratio (N - df + 0.5)/(df + 0.5) keeps the same
    monotonicity using only IEEE +,*,/ mirrored operation-for-operation
    in the oracle, and the per-term scores are added in fixed term order
    (a float sum over a GROUP would be shuffle-order-dependent; an
    expression chain is not).
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be non-empty and unique")
    words = split_words("text")
    proj = [F.col("doc_id"), F.size(words).cast("long").alias("doclen")]
    for i, t in enumerate(terms):
        proj.append(
            F.size(F.filter(words, lambda w: w == F.lit(t)))
            .cast("long")
            .alias(f"tf{i}")
        )
    s = df.select(*proj)
    g = s.agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("sum_len"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = s.join(F.broadcast(g))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df{i}") + F.lit(0.5)
        ) / (F.col(f"df{i}").cast("double") + F.lit(0.5))
        # doclen/avglen as len*N/sum_len: one division, same on both engines
        norm_len = (
            F.col("doclen").cast("double") * F.col("n_docs") / F.col("sum_len")
        )
        part = (
            idf
            * (tf * F.lit(BM25_K1 + 1.0))
            / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * norm_len))
        )
        score = part if score is None else score + part
    any_hit = None
    for i in range(len(terms)):
        hit = F.col(f"tf{i}") > 0
        any_hit = hit if any_hit is None else any_hit | hit
    return (
        scored.filter(any_hit)
        .select(
            "doc_id",
            "doclen",
            *[F.col(f"tf{i}").alias(f"tf_{t}") for i, t in enumerate(terms)],
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def readability(df: DataFrame) -> DataFrame:
    """Flesch-style reading-ease score per document -- the classic
    quality-stratification signal next to the Gopher/C4 verdicts.

    Syllables are approximated as vowel-group runs per word (the
    standard hyphenation-free heuristic); sentences as punctuation-run
    counts floored at 1.  All counts are exact integers from codegen
    regex/array expressions; the score is three IEEE ops mirrored
    operation-for-operation in the oracle, so even the float is
    value-exact cross-engine.  Pure projection: zero shuffle.
    """
    words = split_words("text")
    # split('') yields [''] -- a blank/whitespace doc has ZERO words,
    # not one, and must score NULL rather than maximum ease
    blank = F.trim(F.col("text")) == ""
    n_words = F.when(blank, F.lit(0)).otherwise(F.size(words)).cast("long")
    syllables = F.aggregate(
        F.transform(
            words, lambda w: F.regexp_count(w, F.lit(r"[aeiouyAEIOUY]+"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = syllables.cast("double") / n_words.cast("double")
    flesch = F.when(
        n_words > 0,
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
    )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        syllables.alias("n_syllables"),
        n_sent.alias("n_sentences"),
        F.round(flesch, 8).alias("flesch"),
    )
