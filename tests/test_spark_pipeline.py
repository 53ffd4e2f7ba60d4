"""End-to-end Spark pipeline tests: fixture parity through mapInArrow,
interleaved media preservation, metrics, skew salting, checkpoint/resume."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from html2text_spark.checkpoint import (
    completed_buckets,
    read_extracted,
    resume_filter,
    run_extraction_checkpointed,
)
from html2text_spark.core.config import Config
from html2text_spark.core.converter import convert
from html2text_spark.pipeline import (
    INPUT_SCHEMA,
    extract,
    extraction_metrics,
    salt_by_size,
    text_of,
)
from html2text_spark.sources import (
    adapt_flat_documents,
    synthetic_documents,
)

from golden import ERROR_FIXTURES, iter_fixtures, options_for_fixture


def test_fixture_parity_through_spark(spark):
    """All 78 golden fixtures through the distributed pipeline, grouped by
    config (one Spark job per distinct fixture config)."""
    groups = {}
    for name, html, expected, cfg in iter_fixtures():
        key = tuple(sorted(options_for_fixture(name).items()))
        groups.setdefault(key, []).append((name, html, expected, cfg))

    checked = 0
    for key, fixtures in groups.items():
        cfg = fixtures[0][3]
        rows = [
            (name, [{"kind": "html", "text": html, "media_ref": "", "offset": 0}])
            for name, html, _e, _c in fixtures
        ]
        df = spark.createDataFrame(rows, INPUT_SCHEMA)
        result = {r["doc_id"]: r for r in extract(df, cfg).collect()}
        for name, _html, expected, _cfg in fixtures:
            row = result[name]
            md = "".join(
                s["text"] for s in row["spans"] if s["kind"] == "text"
            ).rstrip()
            if name in ERROR_FIXTURES:
                assert row["metrics"]["malformed"] is True
            else:
                assert md == expected, f"fixture {name} mismatch via Spark"
            checked += 1
    assert checked == 78


def test_media_interleaving(spark):
    rows = [
        (
            "doc-1",
            [
                {"kind": "html", "text": "<p>one</p>", "media_ref": "", "offset": 0},
                {"kind": "media", "text": "", "media_ref": "asset://a", "offset": 1},
                {
                    "kind": "html",
                    "text": "<p>two <img src='i.png' alt='x'/></p>",
                    "media_ref": "",
                    "offset": 2,
                },
            ],
        )
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    row = extract(df).collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    media = [s["media_ref"] for s in row["spans"] if s["kind"] == "media_ref"]
    assert media == ["asset://a", "i.png"]
    assert kinds[0] == "text"
    # offsets are the running output ordinal
    assert [s["offset"] for s in row["spans"]] == list(range(len(kinds)))


def test_metrics_and_partition_metrics(spark):
    docs = synthetic_documents(spark, 50, seed=7)
    ext = extract(docs, salt_partitions=4)
    m = extraction_metrics(ext).collect()[0]
    assert m["docs"] == 50
    assert m["spans_total"] > 0
    assert m["malformed_rate"] == 0.0
    pm = ext.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sum(r["count"] for r in pm) == 50
    # salting spread: no partition holds more than half the corpus
    assert max(r["count"] for r in pm) < 40


def test_malformed_flag(spark):
    cfg = Config(base_url="://bad base")
    rows = [
        (
            "bad-base",
            [
                {
                    "kind": "html",
                    "text": '<a href="x.html">x</a>',
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        )
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    row = extract(df, cfg).collect()[0]
    assert row["metrics"]["malformed"] is True


def test_adapt_flat_documents(spark):
    flat = spark.createDataFrame(
        [(1, "<p>hello <b>spark</b></p>")], "doc_id long, text string"
    )
    docs = adapt_flat_documents(flat)
    row = text_of(extract(docs)).collect()[0]
    assert row["markdown"] == convert("<p>hello <b>spark</b></p>")


def test_output_pruned_twins_match_extract(spark):
    """extract_metrics_only / extract_markdown_only run the identical
    per-row conversion as extract() but never build or Arrow-ship the
    span structs (mapInArrow output is opaque to Catalyst's column
    pruning).  Twin outputs must be value-equal to the full projection --
    including a malformed row and a media-interleaved row."""
    from html2text_spark.pipeline import (
        extract_markdown_only,
        extract_metrics_only,
    )

    docs = synthetic_documents(spark, 40, seed=11)
    extra = spark.createDataFrame(
        [
            # malformed: NULL spans
            ("null-spans", None),
            # media spans interleave with html (media_ref output spans
            # must be excluded from the markdown, counted in metrics)
            (
                "with-media",
                [
                    {"kind": "html", "text": "<p>a b</p>", "media_ref": "",
                     "offset": 0},
                    {"kind": "media", "text": "", "media_ref": "m.png",
                     "offset": 1},
                    {"kind": "html", "text": "<p>c d</p>", "media_ref": "",
                     "offset": 2},
                ],
            ),
        ],
        INPUT_SCHEMA,
    )
    docs = docs.unionAll(extra)

    full = extract(docs)
    want_metrics = {
        r["doc_id"]: r["m"]
        for r in full.select(
            "doc_id",
            F.struct(
                "metrics.spans", "metrics.bytes_in", "metrics.malformed"
            ).alias("m"),
        ).collect()
    }
    got_metrics = {
        r["doc_id"]: r["m"]
        for r in extract_metrics_only(docs)
        .select(
            "doc_id",
            F.struct(
                "metrics.spans", "metrics.bytes_in", "metrics.malformed"
            ).alias("m"),
        )
        .collect()
    }
    assert got_metrics == want_metrics

    want_md = {
        r["doc_id"]: r["markdown"] for r in text_of(full).collect()
    }
    got_md = {
        r["doc_id"]: r["markdown"]
        for r in extract_markdown_only(docs).collect()
    }
    assert got_md == want_md

    # passthrough column rides through the pruned twin unchanged
    flat = spark.createDataFrame(
        [(1, "<p>x</p>", "en"), (2, "<p>y</p>", "fr")],
        "doc_id long, text string, lang string",
    )
    rows = (
        extract_metrics_only(
            adapt_flat_documents(flat, keep=("lang",)), passthrough=("lang",)
        )
        .select("doc_id", "lang", "metrics.spans")
        .collect()
    )
    assert {(r["doc_id"], r["lang"]) for r in rows} == {("1", "en"), ("2", "fr")}
    assert all(r["spans"] >= 1 for r in rows)

    # the twins take extract's skew-defusal and passthrough parameters
    salted = {
        r["doc_id"]: r["m"]
        for r in extract_metrics_only(docs, salt_partitions=3)
        .select(
            "doc_id",
            F.struct(
                "metrics.spans", "metrics.bytes_in", "metrics.malformed"
            ).alias("m"),
        )
        .collect()
    }
    assert salted == want_metrics
    stratified = extract_metrics_only(
        synthetic_documents(spark, 20, seed=5),
        salt_partitions=3,
        stratify_bytes=4096,
    )
    assert stratified.count() == 20
    with_lang = adapt_flat_documents(flat, keep=("lang",))
    md = extract_markdown_only(with_lang, passthrough=("lang",)).collect()
    want = {r["doc_id"]: r["markdown"] for r in text_of(extract(with_lang)).collect()}
    assert {(r["doc_id"], r["lang"], r["markdown"]) for r in md} == {
        ("1", "en", want["1"]),
        ("2", "fr", want["2"]),
    }


def test_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "run1")
    docs = synthetic_documents(spark, 40, seed=3)
    s1 = run_extraction_checkpointed(
        spark, docs, out, num_buckets=4, input_lineage="synthetic-seed3"
    )
    assert sorted(s1["ran_buckets"]) == [0, 1, 2, 3]
    assert s1["docs"] == 40
    # simulate a crash that lost one bucket's manifest: it must re-run,
    # everything else must be skipped
    os.remove(os.path.join(out, "_manifests", "part-2.json"))
    s2 = run_extraction_checkpointed(
        spark, docs, out, num_buckets=4, input_lineage="synthetic-seed3"
    )
    assert s2["ran_buckets"] == [2]
    assert sorted(s2["resumed_buckets"]) == [0, 1, 3]
    total = read_extracted(spark, out)
    assert total.count() == 40
    assert completed_buckets(out) == [0, 1, 2, 3]


def test_checkpoint_crash_mid_wave_exactly_once(spark, tmp_path):
    """Crash BETWEEN data commit and manifest publish, with the dead
    wave leaving partial AND duplicated orphan files behind: the
    unmanifested bucket must be recomputed via dynamic-partition
    overwrite (replacing whatever the crashed task left), and the final
    output must be exactly-once -- every doc_id exactly once.  This
    proves the manifest-after-data ordering claim, not just the happy
    resume."""
    import glob
    import shutil

    out = str(tmp_path / "run_crash")
    docs = synthetic_documents(spark, 40, seed=3)
    s1 = run_extraction_checkpointed(
        spark, docs, out, num_buckets=4, buckets_per_wave=2,
        input_lineage="synthetic-seed3",
    )
    assert s1["docs"] == 40
    # simulate the crashed wave: manifest for bucket 1 never published...
    os.remove(os.path.join(out, "_manifests", "part-1.json"))
    bucket_dir = os.path.join(out, "data", "bucket=1")
    files = sorted(glob.glob(os.path.join(bucket_dir, "*.parquet")))
    assert files
    # ...and the task died mid-write: one orphan DUPLICATE data file
    # (a naive append-on-resume would double those rows)...
    shutil.copy(files[0], os.path.join(bucket_dir, "part-orphan.parquet"))
    # ...plus a second bucket (same wave) lost its data AND manifest
    os.remove(os.path.join(out, "_manifests", "part-3.json"))
    shutil.rmtree(os.path.join(out, "data", "bucket=3"))

    s2 = run_extraction_checkpointed(
        spark, docs, out, num_buckets=4, buckets_per_wave=2,
        input_lineage="synthetic-seed3",
    )
    assert sorted(s2["ran_buckets"]) == [1, 3]
    assert sorted(s2["resumed_buckets"]) == [0, 2]
    total = read_extracted(spark, out)
    assert total.count() == 40
    assert total.select("doc_id").distinct().count() == 40
    assert completed_buckets(out) == [0, 1, 2, 3]


def test_resume_filter_anti_join(spark):
    docs = synthetic_documents(spark, 20, seed=5)
    done = extract(docs.limit(12))
    remaining = resume_filter(docs, done)
    assert remaining.count() == 8


def test_iceberg_roundtrip_or_skip(spark, tmp_path):
    """Write+read a documents table through sources.read_documents's
    `iceberg:` branch when the Iceberg runtime jar is on the classpath;
    skip with a clear message when it is not (this sandbox ships no
    iceberg-spark-runtime jar -- documented in README).  Keeps the
    `iceberg:` path from being dead-in-every-environment code."""
    from html2text_spark.sources import read_documents

    try:
        spark.conf.set(
            "spark.sql.catalog.h2t_ice",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        spark.conf.set("spark.sql.catalog.h2t_ice.type", "hadoop")
        spark.conf.set(
            "spark.sql.catalog.h2t_ice.warehouse", str(tmp_path / "wh")
        )
        docs = synthetic_documents(spark, 10, seed=9)
        docs.writeTo("h2t_ice.db.docs").using("iceberg").createOrReplace()
    except Exception as exc:  # jar absent -> catalog class not found
        pytest.skip(
            "Iceberg runtime not on the classpath in this environment: "
            f"{type(exc).__name__}"
        )
    out = read_documents(spark, "iceberg:h2t_ice.db.docs")
    assert out.count() == 10
    assert set(out.columns) == {"doc_id", "spans"}
    # the adapted table must run through the extraction unchanged
    assert extract(out).count() == 10


def test_html_to_md_udf(spark):
    from html2text_spark.functions import register_all

    register_all(spark)
    row = spark.sql(
        "select html_to_md('<h1>T</h1><p>body</p>') as md"
    ).collect()[0]
    assert row["md"] == "# T\n\nbody\n\n"


def test_html_spans_udtf(spark):
    """SQL users can explode a document into converter span rows via the
    lateral UDTF surface."""
    from html2text_spark.functions import register_all

    register_all(spark)
    rows = spark.sql(
        "select s.* from html_spans('<h1>T</h1><p>body</p>') s"
    ).collect()
    assert [(r["kind"], r["text"], r["offset"]) for r in rows] == [
        ("text", "# T\n\nbody\n\n", 0)
    ]
    # lateral join over a table of documents
    spark.createDataFrame(
        [("1", "<p>a</p><img src='x.png'>tail")], "doc_id string, html string"
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "select d.doc_id, s.kind, s.media_ref, s.offset "
        "from udtf_docs d, lateral html_spans(d.html) s order by s.offset"
    ).collect()
    kinds = [r["kind"] for r in rows]
    # one html fragment = one segment: text first, media refs drained at
    # the segment end (media spans interleave only across fragments)
    assert kinds == ["text", "media_ref"]
    assert rows[1]["media_ref"] == "x.png"
    # malformed / NULL rows never fail the query
    assert spark.sql("select * from html_spans(NULL)").count() == 0


def test_html_spans_udtf_error_sentinel(spark):
    """A document whose conversion RAISES must surface as one
    kind='error' sentinel row, never silently vanish from SQL results
    (invalid base URL is the one raising path, per the reference's
    exception fixture).  The same document gives "" from html_to_md, as
    from extract(output="markdown"), and extract flags it malformed with
    no spans."""
    from html2text_spark.core.config import Config
    from html2text_spark.functions import html_to_md_udf, make_html_spans_udtf

    bad = Config(base_url="http://[not-a-url")
    html = '<a href="rel/x">t</a>'
    spark.udtf.register("html_spans_badbase", make_html_spans_udtf(bad))
    rows = spark.sql("select * from html_spans_badbase('%s')" % html).collect()
    assert [tuple(r) for r in rows] == [("error", "InvalidBaseUrl", "", -1)]
    one = spark.createDataFrame([("bad", [("html", html, "", 0)])], INPUT_SCHEMA)
    row = extract(one, bad).collect()[0]
    assert row["spans"] == [] and row["metrics"]["malformed"] is True
    assert one.select(html_to_md_udf(bad)(F.lit(html))).first()[0] == ""


def test_surfaces_agree(spark):
    """html_to_md, the joined 'text' rows of html_spans and
    extract(output="markdown") all equal convert on documents with
    whitespace-padded ends cut into html spans (a failing document:
    test_html_spans_udtf_error_sentinel)."""
    import random

    from htmlgen import pad_ends, random_html, split_html

    from html2text_spark.functions import register_all

    rng = random.Random(12)
    docs = {str(i): pad_ends(rng, random_html(rng)) for i in range(10)}
    flat = spark.createDataFrame(list(docs.items()), "doc_id string, html string")
    spans = spark.createDataFrame(
        [
            (i, [(k, t, m, j) for j, (k, t, m) in enumerate(split_html(rng, h))])
            for i, h in docs.items()
        ],
        INPUT_SCHEMA,
    )
    register_all(spark)
    flat.createOrReplaceTempView("agree_docs")
    expected = {i: convert(h) for i, h in docs.items()}
    assert dict(
        spark.sql("select doc_id, html_to_md(html) from agree_docs").collect()
    ) == expected
    joined = dict.fromkeys(docs, "")
    for r in spark.sql(
        "select d.doc_id, s.kind, s.text from agree_docs d, "
        "lateral html_spans(d.html) s order by d.doc_id, s.offset"
    ).collect():
        if r["kind"] == "text":
            joined[r["doc_id"]] += r["text"]
    assert joined == expected
    assert dict(extract(spans, output="markdown").collect()) == expected


def test_salt_by_size_plan_is_single_exchange(spark):
    docs = synthetic_documents(spark, 10, seed=1)
    plan = extract(docs, salt_partitions=8)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_fragmented_html_spans_coalesce(spark):
    """Consecutive html spans (split mid-tag, mid-word) must convert
    exactly like the contiguous document."""
    from html2text_spark.core.converter import convert

    full_html = "<p>first part <b>bold</b> rest</p><ul><li>a</li><li>b</li></ul>"
    rows = [
        (
            "frag",
            [
                {"kind": "html", "text": "<p>first part <b>bo", "media_ref": "", "offset": 0},
                {"kind": "html", "text": "ld</b> rest</p><ul><li>a</li><l", "media_ref": "", "offset": 1},
                {"kind": "html", "text": "i>b</li></ul>", "media_ref": "", "offset": 2},
            ],
        )
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    row = extract(df).collect()[0]
    concat = "".join(s["text"] for s in row["spans"] if s["kind"] == "text")
    assert concat == convert(full_html)


def test_monster_document_skew(spark):
    """One 5 MB document among 2000 small ones: salting must spread the
    load and the pipeline must complete with correct per-doc output."""
    from html2text_spark.core.converter import convert

    monster_html = "<h1>big</h1>" + "<p>" + ("word " * 200) + "</p>" * 1  # ~1KB
    monster_html = monster_html * 5000  # ~5MB of repeated blocks
    small = [
        (f"s{i}", [{"kind": "html", "text": f"<p>doc {i}</p>", "media_ref": "", "offset": 0}])
        for i in range(2000)
    ]
    rows = small + [
        ("monster", [{"kind": "html", "text": monster_html, "media_ref": "", "offset": 0}])
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    ext = extract(df, salt_partitions=16)
    out = {r["doc_id"]: r for r in ext.collect()}
    assert len(out) == 2001
    assert out["monster"]["metrics"]["bytes_in"] > 4_000_000
    assert not out["monster"]["metrics"]["malformed"]
    assert (
        "".join(s["text"] for s in out["s7"]["spans"] if s["kind"] == "text")
        == convert("<p>doc 7</p>")
    )


def test_null_and_ragged_rows_never_fail_the_batch(spark):
    """NULL spans / NULL struct fields must yield malformed rows, not
    batch failures (one bad row in a 10^12-doc corpus can't kill a task)."""
    rows = [
        ("ok", [{"kind": "html", "text": "<p>fine</p>", "media_ref": "", "offset": 0}]),
        ("null-spans", None),
        ("null-fields", [{"kind": None, "text": None, "media_ref": None, "offset": None}]),
        ("empty-array", []),
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = {r["doc_id"]: r for r in extract(df).collect()}
    assert len(out) == 4
    assert not out["ok"]["metrics"]["malformed"]
    assert "".join(s["text"] for s in out["ok"]["spans"] if s["kind"] == "text") == "fine\n\n"
    for bad in ("null-spans", "empty-array"):
        assert out[bad]["spans"] == []
    # null struct fields: kind '' is neither html nor media -> empty output
    assert out["null-fields"]["spans"] == []


def test_flat_source_formats_round_trip(spark, tmp_path):
    """JSONL and CSV flat corpora must extract byte-identically to the
    parquet path (schema enforced, never inferred -- inference would
    scan a 100 TB corpus twice)."""
    from html2text_spark.pipeline import extract, text_of
    from html2text_spark.sources import (
        adapt_flat_documents,
        read_flat_documents,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "text",
            "lang",
            "source",
        )
        .limit(50)
    )
    # crawled text routinely embeds raw newlines; a line-split CSV read
    # silently shreds such docs (caught in r4 review -> multiLine=true)
    docs = docs.unionAll(
        spark.createDataFrame(
            [("nl_doc", "<p>line one\nline two</p>", "en", "web")],
            docs.schema,
        )
    )

    def md_of(flat):
        ext = extract(adapt_flat_documents(flat))
        return {
            r["doc_id"]: r["markdown"] for r in text_of(ext).collect()
        }

    want = md_of(docs)

    jdir = str(tmp_path / "docs_jsonl")
    docs.write.json(jdir)
    # Spark writes part files without extension; point at the directory
    # but exercise the extension-based dispatch through a .jsonl symlink
    import os as _os

    jpath = str(tmp_path / "docs.jsonl")
    _os.symlink(jdir, jpath)
    got_j = md_of(read_flat_documents(spark, jpath))
    assert got_j == want

    cdir = str(tmp_path / "docs_csv")
    docs.write.option("header", "true").csv(cdir)
    cpath = str(tmp_path / "docs.csv")
    _os.symlink(cdir, cpath)
    got_c = md_of(read_flat_documents(spark, cpath))
    assert got_c == want

    odir = str(tmp_path / "docs_orc")
    docs.write.orc(odir)
    opath = str(tmp_path / "docs.orc")
    _os.symlink(odir, opath)
    got_o = md_of(read_flat_documents(spark, opath))
    assert got_o == want


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A lang-partitioned layout + lang predicate must prune at the
    FILE level (PartitionFilters in the scan), not post-filter rows --
    at 100 TB this is reading 1/5th of the corpus vs all of it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "by_lang")
    docs.write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "lang" in pf[0] and "= en" in pf[0], plan
    # the pruned read returns exactly the en slice
    assert df.count() == docs.filter(F.col("lang") == "en").count()
    # and no row-level Filter on lang remains above the scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan


def test_registry_ordering_contract():
    """The external driver's correctness artifact covers only the FIRST
    50 entries of queries(), so every family that has never appeared in
    a driver artifact (added r4/r5) must sit inside the cap; entries
    past it must all be r1-r3-era families the driver has already
    verified.  Executable so a future insertion can't silently push a
    new family out (this exact regression happened twice in r5)."""
    import __spark_entry__ as e

    qs = list(e.queries())
    # families present in a driver CORRECTNESS artifact (r1-r3 all-cover
    # rounds, or inside r4's first 50)
    driver_verified = {
        "extract_metrics", "extract_markdown", "extract_markdown_stats",
        "extract_media_interleave", "dedup_exact", "dedup_minhash_sigs",
        "dedup_minhash_candidates", "dedup_clusters", "dedup_keep_best",
        "dedup_editdist", "dedup_ngram_jaccard", "dedup_simhash",
        "text_tokens", "text_quality", "text_langid", "text_fingerprint",
        "sim_cosine_topk", "sim_lsh_topk", "sim_ivf_topk",
        "sim_ivf_det_topk", "sim_quantized_topk", "dedup_embedding",
        "events_hourly", "events_asof", "events_range_join",
        "events_rollup", "events_cube", "events_props_json",
        "events_pivot", "events_latest_state", "events_rolling_active",
        "events_transitions", "events_gapfill", "events_salted_join",
        "text_cms_words", "events_scd2", "events_skew_agg",
        "events_retention", "events_funnel", "sim_centroids_q",
        "events_kmv_users", "events_hll_users", "curation_holdout",
        "curation_mix", "text_salient_terms", "events_sessions",
        "events_sessions_native", "events_sessions_stream",
        "events_hourly_stream", "events_dedup_stream",
        # r1-r3 rounds covered their whole registries (22/34/48 entries)
        "events_segments_stream", "curation_sample", "curation_pack",
        "curation_ngrams", "curation_weighted_sample",
        "curation_decontaminate", "text_repetition", "text_winnow",
        "text_percentiles", "rel_pricing_summary", "rel_revenue_by_nation",
        "rel_top_brands", "rel_late_priority", "rel_customer_order_ranks",
        "rel_supplier_balance", "corpus_curation", "metrics_by_lang",
        "resume_pending", "multimodal_features",
    }
    never_verified = [q for q in qs if q not in driver_verified]
    outside = [q for q in never_verified if qs.index(q) >= 50]
    assert not outside, (
        f"never-driver-verified queries pushed past the 50-entry cap: "
        f"{outside} -- rotate driver-verified families to the tail instead"
    )
    # every first-50 entry needs an oracle, except documented rows-only
    oracles = e.oracle_sql()
    rows_only = {"extract_markdown", "sim_ivf_topk", "text_percentiles_approx"}
    missing = [q for q in qs[:50] if q not in oracles and q not in rows_only]
    assert not missing, f"first-50 queries without oracles: {missing}"


@pytest.mark.skipif(
    sys.version_info[:2] not in ((3, 10), (3, 11)),
    reason="the guard is installed on CPython 3.10-3.11 only; 3.12+ "
    "re-reads zip directories lazily itself (gh-103200)",
)
def test_python_workers_keep_one_zip_directory_across_tasks(spark):
    """Every task starts with importlib.invalidate_caches(); with the zip
    guard a reused worker keeps one shared pyspark.zip directory instead
    of re-reading a private copy per importer in every task."""

    def probe(batches):
        import os
        import sys
        import time
        import zipimport

        import pyarrow as pa

        from html2text_spark.arrow import array_of

        for _ in batches:
            pass
        ids = sorted({
            id(f._files) for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and os.path.basename(f.archive) == "pyspark.zip"
        })
        yield pa.RecordBatch.from_arrays(
            [array_of([os.getpid()], pa.int64()),
             array_of([time.monotonic_ns()], pa.int64()),
             array_of([" ".join(map(str, ids))], pa.string())],
            names=["pid", "t", "ids"],
        )

    df = spark.range(0, 8, numPartitions=8)
    rows = []
    for _ in range(2):
        rows += df.mapInArrow(probe, "pid long, t long, ids string").collect()
    if not any(r["ids"] for r in rows):
        pytest.skip("the Python workers do not import pyspark from pyspark.zip")
    tasks = {}
    for r in sorted(rows, key=lambda r: r["t"]):
        tasks.setdefault(r["pid"], []).append(r["ids"])
    reused = {pid: ids for pid, ids in tasks.items() if len(ids) > 1}
    assert reused, tasks
    for pid, ids in reused.items():
        # one directory object, shared by all importers, in every later task
        assert len(set(ids[1:])) == 1 and " " not in ids[1], (pid, ids)
