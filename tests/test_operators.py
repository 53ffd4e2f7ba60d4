"""Operator-family tests: dedup, similarity, text stats, multimodal,
streaming, and the driver contract (__spark_entry__)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    from html2text_spark.operators.dedup import exact_dedup

    base = docs.select("doc_id", "text").limit(20)
    copy = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    out = exact_dedup(base.unionAll(copy)).collect()
    assert len(out) == 40
    assert all(r["dup_count"] == 2 for r in out)
    canon = [r for r in out if r["is_canonical"]]
    assert len(canon) == 20 and all(r["doc_id"] < 10000 for r in canon)


def test_minhash_lsh_finds_near_duplicates(spark, docs):
    from html2text_spark.operators.dedup import minhash_lsh_candidates

    base = docs.select("doc_id", "text").limit(50)
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    pairs = minhash_lsh_candidates(base.unionAll(near)).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = {(i, i + 10000) for i in range(50)}
    recall = len(found & planted) / len(planted)
    assert recall > 0.8, f"LSH recall too low: {recall}"


def test_connected_components_transitive_chain(spark):
    """a<->b and b<->c candidates (NO a<->c pair) must still land all
    three docs in ONE cluster with min-id canonical labeling -- the
    transitive-closure property candidate pairs alone don't give you."""
    from html2text_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 20)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in resolve_clusters(pairs).collect()}
    assert {rows[d]["cluster_id"] for d in (1, 2, 3)} == {1}
    assert all(rows[d]["cluster_size"] == 3 for d in (1, 2, 3))
    assert rows[1]["is_canonical"] and not rows[2]["is_canonical"]
    # independent 2-cliques keep their own labels; orientation of the
    # pair (30, 20) must not matter for the min-label
    assert rows[10]["cluster_id"] == 10 and rows[11]["cluster_id"] == 10
    assert rows[20]["cluster_id"] == 20 and rows[30]["cluster_id"] == 20
    assert rows[20]["is_canonical"] and not rows[30]["is_canonical"]


def test_connected_components_long_path_converges(spark):
    """A 9-node path graph (diameter 8) exercises multi-round label
    propagation; every node must converge to the global min."""
    from html2text_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(1, 9)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = connected_components(pairs).collect()
    assert len(out) == 9
    assert all(r["cluster_id"] == 1 for r in out)


def test_connected_components_raises_on_non_convergence(spark):
    """Exhausting max_iters with labels still moving must fail loudly --
    silently returning split components would keep near-duplicates."""
    import pytest as _pytest

    from html2text_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(1, 10)]  # diameter 9
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=3)


def test_asof_join_semantics(spark):
    """Inclusive <= bound, latest-wins, left semantics (no match ->
    nulls), and no leakage across keys."""
    from html2text_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 8, 80.0)],
        "user_id long, ts long, value double",
    )
    rows = asof_join(left, right, payload_cols=("value",)).collect()
    out = {
        (r["user_id"], r["ts"]): (r["asof_value"], r["asof_ts"]) for r in rows
    }
    assert len(out) == 4
    assert out[(1, 10)] == (100.0, 10)  # equal ts matches (inclusive)
    assert out[(1, 20)] == (150.0, 15)  # latest at-or-before wins
    assert out[(1, 5)] == (None, None)  # nothing before -> left join nulls
    assert out[(2, 7)] == (None, None)  # user 2's right row is later


def test_asof_join_plan_single_shuffle_no_join(spark):
    """The union+window encoding must compile to ONE hash exchange on
    the key and ZERO join operators -- the whole point vs the
    inequality-join encoding that fans out per key."""
    from html2text_spark.operators.temporal import asof_join

    left = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "event_type"
    )
    right = spark.read.parquet(f"{SF}/events.parquet").groupBy(
        "user_id", "ts"
    ).agg(F.max("value").alias("value"))
    plan = (
        asof_join(left, right, payload_cols=("value",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    # one exchange for the right-side pre-aggregation, one for the window
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_range_join_semantics(spark):
    """Boundary semantics: start inclusive, end exclusive; key isolation;
    an event inside two overlapping intervals matches both."""
    from html2text_spark.operators.temporal import range_join_events

    events = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 11:29:59"),
         ("a", "2024-01-01 11:30:00"), ("b", "2024-01-01 10:15:00")],
        "k string, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    intervals = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00", "2024-01-01 11:30:00"),
         ("a", "2024-01-01 11:00:00", "2024-01-01 12:00:00")],
        "k string, start_ts string, end_ts string",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    rows = range_join_events(events, intervals, key="k").collect()
    matches = sorted(
        (str(r["ts"])[11:19], str(r["start_ts"])[11:19]) for r in rows
    )
    assert matches == [
        ("10:00:00", "10:00:00"),   # start inclusive
        ("11:29:59", "10:00:00"),   # just inside interval 1...
        ("11:29:59", "11:00:00"),   # ...and inside overlapping interval 2
        ("11:30:00", "11:00:00"),   # end exclusive for interval 1
    ]  # event of key b matches nothing


def test_range_join_non_hour_bucket(spark):
    """Regression: both sides must floor with the SAME bucket width --
    an earlier revision hour-truncated events while intervals stepped by
    the bucket parameter, silently dropping matches for any non-hour
    bucket."""
    from html2text_spark.operators.temporal import range_join_events

    events = spark.createDataFrame(
        [("a", "2024-01-01 11:15:00")], "k string, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    intervals = spark.createDataFrame(
        [("a", "2024-01-01 10:30:00", "2024-01-01 13:30:00")],
        "k string, start_ts string, end_ts string",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    for secs in (7200, 86400, 900):
        rows = range_join_events(
            events, intervals, key="k", bucket_seconds=secs
        ).collect()
        assert len(rows) == 1, f"bucket_seconds={secs} dropped the match"


def test_range_join_no_cross_product(spark):
    """The bucketed encoding must produce an EQUI join -- never the
    BroadcastNestedLoopJoin / CartesianProduct Catalyst plans for a bare
    inequality join predicate."""
    import __spark_entry__ as e

    plan = (
        e.q_events_range_join(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan  # it is still a real join


def test_decontaminate_flags_only_overlapping_docs(spark):
    from html2text_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"),   # holds eval 5-grams
         (2, "zz yy xx ww vv uu tt ss"),   # disjoint
         (3, "bb cc dd ee ff qq rr tt")],  # one shared 5-gram window
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "aa bb cc dd ee ff")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["shared_grams"] for r in decontaminate(corpus, eval_df, k=5).collect()}
    # eval doc grams: 'aa bb cc dd ee', 'bb cc dd ee ff'
    assert out == {1: 2, 3: 1}


def test_repetition_stats_detects_duplication(spark):
    from html2text_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, k=3).collect()}
    assert rows[1]["dup_gram_ratio"] > 0.7 and rows[1]["dup_word_ratio"] > 0.8
    assert rows[2]["dup_gram_ratio"] == 0.0 and rows[2]["dup_word_ratio"] == 0.0


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's defining property: two documents sharing a word run
    of length >= k+w-1 (here 3+4-1=6 words) are GUARANTEED to share at
    least one selected fingerprint, regardless of surrounding text."""
    from html2text_spark.operators.textstats import winnow_fingerprints
    from html2text_spark.operators.dedup import shingles, md5_int32
    from pyspark.sql import functions as _F

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, "aa bb cc " + shared + " dd ee"),
         (2, shared + " qq rr ss tt uu vv ww")],
        "doc_id long, text string",
    )
    # recompute each doc's full selected set to intersect them
    hashes = _F.transform(shingles(3), lambda s: md5_int32(s))
    n = _F.size(hashes)
    sel = _F.array_distinct(
        _F.transform(
            _F.sequence(_F.lit(1), _F.greatest(n - _F.lit(3), _F.lit(1))),
            lambda i: _F.array_min(_F.slice(hashes, i, 4)),
        )
    )
    sets = {
        r["doc_id"]: set(r["sel"])
        for r in df.select("doc_id", sel.alias("sel")).collect()
    }
    assert sets[1] & sets[2], "shared 6-word run must share a fingerprint"
    out = {r["doc_id"]: r for r in winnow_fingerprints(df).collect()}
    assert out[1]["n_fingerprints"] == len(sets[1])
    assert out[1]["fp_min"] == min(sets[1])
    assert out[1]["fp_checksum"] == sum(sets[1])


def test_distinct_users_stream_matches_batch(spark):
    from html2text_spark.streaming.windows import distinct_users_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    streamed = distinct_users_complete(spark, events)
    got = {r["user_id"] for r in streamed.collect()}
    exp = {r["user_id"] for r in events.select("user_id").distinct().collect()}
    assert got == exp and len(got) > 0


def test_weighted_priority_sample_deterministic_and_biased(spark, docs):
    """The sample must be identical across repartitionings (no RNG
    state) and biased toward heavy rows (priority = weight/u)."""
    from html2text_spark.operators.curation import weighted_priority_sample

    base = docs.select("doc_id", "lang", "n_chars")
    s1 = {
        r["doc_id"]
        for r in weighted_priority_sample(base, "n_chars", "lang", k=10).collect()
    }
    s2 = {
        r["doc_id"]
        for r in weighted_priority_sample(
            base.repartition(7), "n_chars", "lang", k=10
        ).collect()
    }
    assert s1 == s2 and len(s1) > 0
    from pyspark.sql import functions as _F

    corpus_avg = base.agg(_F.avg("n_chars")).collect()[0][0]
    sample_avg = (
        weighted_priority_sample(base, "n_chars", "lang", k=10)
        .agg(_F.avg("n_chars"))
        .collect()[0][0]
    )
    assert sample_avg > corpus_avg  # longer docs proportionally likelier


def test_kmv_exact_below_k(spark):
    from html2text_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("g", i % 10) for i in range(100)], "grp string, key long"
    )
    row = kmv_distinct(df, "key", "grp", k=64).collect()[0]
    assert row["n_kept"] == 10 and row["kmv_estimate"] == 10.0


def test_kmv_estimate_accuracy(spark):
    """k=256 gives ~6% standard error; 15% is a ~2.4 sigma bound, and
    the md5 hash makes the result deterministic run-to-run."""
    from html2text_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("g", i) for i in range(5000)], "grp string, key long"
    )
    row = kmv_distinct(df, "key", "grp", k=256).collect()[0]
    assert row["n_kept"] == 256
    assert abs(row["kmv_estimate"] - 5000) / 5000 < 0.15


def test_ngram_jaccard_identical_docs(spark, docs):
    from html2text_spark.operators.dedup import ngram_jaccard_pairs

    base = docs.select("doc_id", F.lit("g").alias("grp"), "text").limit(5)
    copy = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "grp", "text"
    )
    pairs = ngram_jaccard_pairs(
        base.unionAll(copy), group_col="grp", threshold=0.99
    ).collect()
    exact = {(r["doc_a"], r["doc_b"]) for r in pairs if r["jaccard"] == 1.0}
    assert {(i, i + 10000) for i in range(5)} <= exact


def test_quantized_topk_recall_vs_exact(spark, emb):
    """int8 quantization must preserve most of the exact top-10 set
    (scales cancel, so only the rounding perturbs the ordering)."""
    from html2text_spark.operators.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )

    qids = [0, 1, 2, 3]
    exact = {
        (r["qid"], r["vec_id"])
        for r in cosine_topk(emb, qids, k=10).collect()
    }
    quant = {
        (r["qid"], r["vec_id"])
        for r in quantized_cosine_topk(emb, qids, k=10).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"int8 recall too low: {recall}"


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    from html2text_spark.operators.similarity import cosine_topk, lsh_topk

    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = cosine_topk(emb, qids, k=10).collect()
    approx = lsh_topk(emb, qids, k=10, n_planes=4).collect()
    exact_set = {(r["qid"], r["vec_id"]) for r in exact}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 planes -> 16 buckets over 500 vectors: recall is partial by design
    assert recall > 0.2, f"LSH recall suspiciously low: {recall}"
    # every approx hit must carry the same sim the exact path computed
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert abs(r["sim"] - exact_sims[key]) < 1e-12


def test_lang_id_schema_and_determinism(spark, docs):
    from html2text_spark.operators.textstats import lang_id

    out = lang_id(docs.limit(50))
    rows = out.collect()
    assert set(out.columns) == {
        "doc_id", "score_de", "score_en", "score_es", "score_fr", "score_zh",
        "predicted_lang",
    }
    assert all(
        r["predicted_lang"] in ("de", "en", "es", "fr", "zh", "und") for r in rows
    )


def test_multimodal_stub_and_features(spark, docs):
    from html2text_spark.operators.multimodal import (
        attach_fake_media,
        decode_media_fake,
        extract_media_features,
        frame_sample_plan,
    )

    # the fake codec reads each payload as a 1xN grayscale image; an
    # empty payload gets NULL stats, not a crash
    raw = spark.createDataFrame(
        [
            ("a", "mem://a", bytearray(b"hello world")),
            ("b", "mem://b", bytearray(range(256))),
            ("e", "mem://e", bytearray(b"")),
        ],
        "doc_id string, media_ref string, payload binary",
    )
    dec = {r["doc_id"]: r for r in decode_media_fake(raw).collect()}
    assert dec["a"]["n_pixels"] == 11
    assert dec["b"]["n_pixels"] == 256
    assert (dec["b"]["min_luma"], dec["b"]["max_luma"]) == (0, 255)
    assert (dec["b"]["h0"], dec["b"]["h1"], dec["b"]["h2"], dec["b"]["h3"]) == (
        64, 64, 64, 64,
    )
    assert dec["e"]["n_pixels"] == 0 and dec["e"]["mean_luma"] is None

    media = attach_fake_media(docs.limit(10))
    feats = extract_media_features(media).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r["features"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["features"])
        assert r["n_bytes"] > 0
    # deterministic: same input -> same features
    feats2 = extract_media_features(media).collect()
    assert {r["doc_id"]: r["sha256_prefix"] for r in feats} == {
        r["doc_id"]: r["sha256_prefix"] for r in feats2
    }
    plan = frame_sample_plan(
        media.withColumn(
            "meta",
            F.struct(
                F.lit("video/fake").alias("mime"),
                F.lit(0).alias("width"),
                F.lit(0).alias("height"),
                F.lit(3500).alias("duration_ms"),
            ),
        ),
        every_ms=1000,
    )
    assert plan.filter(F.col("doc_id") == plan.first()["doc_id"]).count() == 4


def test_streaming_extract(spark, tmp_path, docs):
    from html2text_spark.sources import adapt_flat_documents
    from html2text_spark.streaming import streaming_extract

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    adapt_flat_documents(docs.limit(25)).write.parquet(in_dir)
    q = streaming_extract(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    result = spark.read.parquet(out_dir)
    assert result.count() == 25
    assert set(result.columns) == {"doc_id", "spans", "metrics"}
    # re-running with same checkpoint is exactly-once: no new rows
    q2 = streaming_extract(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 25


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_queries_run_at_sf0001(spark):
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        df = fn(spark, SF)
        assert df.limit(1).count() >= 0, name


def test_sessionize_batch_vs_oracle_shape(spark):
    """Batch sessionization on the events table; sanity on session math."""
    from html2text_spark.streaming.sessions import sessionize_batch

    events = spark.read.parquet(f"{SF}/events.parquet")
    sessions = sessionize_batch(events, gap_minutes=30)
    rows = sessions.collect()
    assert sum(r["events"] for r in rows) == events.count()
    assert all(r["session_start"] <= r["session_end"] for r in rows)
    # per-user session count is deterministic
    again = sessionize_batch(events, gap_minutes=30).collect()
    assert len(again) == len(rows)


def test_hash_sample_deterministic_and_proportional(spark, docs):
    from html2text_spark.operators.curation import hash_sample

    a = {r["doc_id"] for r in hash_sample(docs, 10).select("doc_id").collect()}
    b = {r["doc_id"] for r in hash_sample(docs, 10).select("doc_id").collect()}
    assert a == b, "hash sampling must be reproducible"
    n = docs.count()
    assert 0.04 * n < len(a) < 0.2 * n, f"10% sample way off: {len(a)}/{n}"
    # monotone: a 20% sample strictly contains the 10% sample
    c = {r["doc_id"] for r in hash_sample(docs, 20).select("doc_id").collect()}
    assert a <= c


def test_pack_sequences_budget_invariants(spark, docs):
    from html2text_spark.operators.curation import pack_sequences

    with_tokens = docs.select(
        "doc_id", "source", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    packs = pack_sequences(with_tokens, window_tokens=256).collect()
    assert sum(r["docs"] for r in packs) == docs.count()
    # every pack except a group's last must have crossed the window;
    # the packing unit is (source, md5-shard) -- invariants hold per unit
    by_grp = {}
    for r in packs:
        by_grp.setdefault((r["source"], r["shard"]), []).append(r)
    assert len({s for (_, s) in by_grp}) > 1, "sharding should spread docs"
    for grp, rows in by_grp.items():
        rows.sort(key=lambda r: r["pack_id"])
        # pack ids are the contiguous chunk indices of the running offset
        assert rows[0]["pack_id"] == 0
        for r in rows[:-1]:
            assert r["pack_tokens"] > 0
        # doc ranges do not overlap across consecutive packs
        for prev, nxt in zip(rows, rows[1:]):
            assert prev["last_doc"] <= nxt["first_doc"]
    # shards=1 degenerates to the unsharded layout (single shard value 0)
    single = pack_sequences(with_tokens, window_tokens=256, shards=1)
    assert {r["shard"] for r in single.select("shard").distinct().collect()} == {0}


def test_top_ngrams_rank_and_ties(spark, docs):
    from html2text_spark.operators.curation import top_ngrams

    out = top_ngrams(docs, n=2, k=5).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    for grp, rows in by_grp.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        freqs = [r["freq"] for r in rows]
        assert freqs == sorted(freqs, reverse=True)


def _run_session_stream(spark, stream, queryName, gap_minutes=30, **kw):
    from html2text_spark.streaming.sessions import sessionize_stream

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # state-store init cost scales with shuffle partitions: shrink for test
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sessionize_stream(stream, gap_minutes=gap_minutes, **kw)
            .writeStream.format("memory")
            .queryName(queryName)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        import time as _time

        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.awaitTermination(5):
                break
            progress = q.lastProgress
            if progress and progress["numInputRows"] == 0:
                break
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.sql(f"select * from {queryName}")


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming sessionization (applyInPandasWithState, event-time
    timeout) must emit the same closed sessions the batch window
    computation derives -- with the input shuffled out of order."""
    from html2text_spark.streaming.sessions import sessionize_batch

    events = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("user_id") < 20
    )
    in_dir = str(tmp_path / "in")
    # adversarial in-batch disorder: write in random (hash) order
    events.orderBy(F.xxhash64("user_id", "ts", "event_type")).coalesce(
        1
    ).write.parquet(in_dir)
    stream = spark.readStream.schema(events.schema).parquet(in_dir)
    got = {
        (r["user_id"], r["session_start"], r["events"])
        for r in _run_session_stream(spark, stream, "sessions_out").collect()
    }
    expected = {
        (r["user_id"], r["session_start"], r["events"])
        for r in sessionize_batch(events, gap_minutes=30).collect()
    }
    # the stream emits a session when the event-time watermark passes its
    # end + gap; sessions within the final watermark horizon stay open in
    # state, so the emitted set is a subset missing only horizon-tail
    # sessions
    assert got <= expected
    assert len(got) > 0
    missing = expected - got
    max_us = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    gap_us = 30 * 60 * 1_000_000
    watermark_us = max_us - gap_us  # watermark delay defaults to the gap
    by_key = {
        (r["user_id"], r["session_start"], r["events"]): r["session_end"]
        for r in sessionize_batch(events, gap_minutes=30).collect()
    }
    for key in missing:
        end_us = int(by_key[key].timestamp() * 1_000_000)
        assert end_us + gap_us >= watermark_us, (
            f"session {key} should have timed out but was not emitted"
        )


def test_hourly_rollup_stream_matches_batch(spark):
    """The watermarked streaming window agg, driven to completeness,
    must equal the batch hourly aggregation row-for-row; the synthetic
    clock row's window stays open and must never be emitted."""
    from html2text_spark.streaming.windows import hourly_rollup_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    streamed = hourly_rollup_complete(spark, events)
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("events"),
        F.round(F.min("value"), 8).alias("min_value"),
        F.round(F.max("value"), 8).alias("max_value"),
    )
    key = lambda r: (str(r["hour"]), r["event_type"])  # noqa: E731
    srows = sorted(streamed.collect(), key=key)
    brows = sorted(batch.collect(), key=key)
    assert len(srows) == len(brows) > 0
    for s, b in zip(srows, brows):
        assert key(s) == key(b)
        assert (s["events"], s["min_value"], s["max_value"]) == (
            b["events"], b["min_value"], b["max_value"],
        )
    assert all(r["event_type"] != "__clock__" for r in srows)


def test_sessionize_stream_rocksdb_state_store(spark):
    """The sessionizer must produce identical results on the RocksDB
    state store (the at-scale backend: heap-independent state size,
    changelog checkpointing)."""
    from html2text_spark.streaming import recommended_streaming_conf
    from html2text_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_events_complete,
    )

    events = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("user_id") < 40
    )
    prev = {
        k: spark.conf.get(k, None) for k in recommended_streaming_conf()
    }
    for k, v in recommended_streaming_conf().items():
        spark.conf.set(k, v)
    try:
        got = {
            tuple(r)
            for r in sessionize_events_complete(
                spark, events, gap_minutes=30
            ).collect()
        }
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    expected = {
        tuple(r) for r in sessionize_batch(events, gap_minutes=30).collect()
    }
    assert got == expected


def test_sessionize_stream_event_time_late_events(spark, tmp_path):
    """Late/out-of-order events across micro-batches: a tolerated late
    event merges into the open session (extending it backward), a gap
    closes it, and event-time timeouts (not wall clock) emit sessions
    once the watermark passes."""
    import datetime as dt
    import os as _os
    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ev(user, minutes):
        return {
            "user_id": user,
            "ts": t0 + dt.timedelta(minutes=minutes),
            "event_type": "click",
            "value": 1.0,
        }

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 1: u1 at 10:00, 10:05; u2 at 10:00
    b1 = pd.DataFrame([ev(1, 0), ev(1, 5), ev(2, 0)])
    # batch 2 (out of order): u1 late event 10:02 (above watermark ->
    # merges); u2 at 11:00 (gap > 30min -> closes u2's first session)
    b2 = pd.DataFrame([ev(1, 2), ev(2, 60)])
    # batch 3: watermark clock -- u99 at 20:00 pushes the watermark to
    # 19:30, timing out every open session except u99's own
    b3 = pd.DataFrame([ev(99, 600)])
    schema = "user_id bigint, ts timestamp, event_type string, value double"
    for i, b in enumerate([b1, b2, b3]):
        path = str(in_dir / f"batch{i}.parquet")
        spark.createDataFrame(b, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        # file-source ordering follows modification time
        ts = 1_700_000_000 + i * 10
        for f in os.listdir(path):
            _os.utime(os.path.join(path, f), (ts, ts))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(in_dir) + "/*")
    rows = _run_session_stream(spark, stream, "sessions_late").collect()
    got = {
        (
            r["user_id"],
            r["session_start"].strftime("%H:%M"),
            r["session_end"].strftime("%H:%M"),
            r["events"],
        )
        for r in rows
    }
    assert (1, "10:00", "10:05", 3) in got, got  # late 10:02 merged
    assert (2, "10:00", "10:00", 1) in got, got  # closed by the 11:00 gap
    assert (2, "11:00", "11:00", 1) in got, got  # timed out by watermark
    assert not any(u == 99 for u, *_ in got), got  # still open in state


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    from html2text_spark.operators.similarity import cosine_topk, ivf_topk

    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = cosine_topk(emb, qids, k=10).collect()
    approx = ivf_topk(emb, qids, k=10, n_cells=16, n_probe=4).collect()
    exact_set = {(r["qid"], r["vec_id"]) for r in exact}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.5, f"IVF recall too low: {recall}"
    # sims must agree exactly with the brute-force computation
    exact_sims = {(r["qid"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in exact_sims:
            assert r["sim"] == exact_sims[key]
    # determinism: second run identical
    again = {(r["qid"], r["vec_id"], r["rank"]) for r in
             ivf_topk(emb, qids, k=10, n_cells=16, n_probe=4).collect()}
    assert again == {(r["qid"], r["vec_id"], r["rank"]) for r in approx}


def test_asof_join_rejects_colliding_payload(spark):
    """payload_cols that name the key/ts or collide with the internal
    `_r_*`/prefixed output columns must fail fast with a clear error,
    not produce an ambiguous-column failure deep in the window plan."""
    import pytest as _pytest

    from html2text_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 10)], "user_id long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0)], "user_id long, ts long, value double"
    )
    with _pytest.raises(ValueError, match="join key or"):
        asof_join(left, right, payload_cols=("ts",))
    with _pytest.raises(ValueError, match="duplicate"):
        asof_join(left, right, payload_cols=("value", "value"))
    bad_left = left.withColumn("asof_value", F.lit(0))
    with _pytest.raises(ValueError, match="collide"):
        asof_join(bad_left, right, payload_cols=("value",))


def test_range_join_malformed_intervals_filtered(spark):
    """An interval with end < start can match nothing (end exclusive);
    it must be dropped gracefully, not crash sequence() mid-stage."""
    from html2text_spark.operators.temporal import range_join_events

    events = spark.createDataFrame(
        [("a", "2024-01-01 10:30:00")], "k string, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    intervals = spark.createDataFrame(
        [("a", "2024-01-01 12:00:00", "2024-01-01 09:00:00"),   # end < start
         ("a", "2024-01-01 10:00:00", "2024-01-01 10:00:00"),   # empty
         ("a", "2024-01-01 10:00:00", "2024-01-01 11:00:00")],  # real
        "k string, start_ts string, end_ts string",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    rows = range_join_events(events, intervals, key="k").collect()
    assert len(rows) == 1
    assert str(rows[0]["start_ts"]).endswith("10:00:00")


def test_connected_components_max_iters_guard(spark):
    """max_iters=0 must be rejected up front -- the for/else otherwise
    raises 'did not converge' even for empty input."""
    import pytest as _pytest

    from html2text_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    with _pytest.raises(ValueError, match="max_iters"):
        connected_components(pairs, max_iters=0)
    # empty input with a sane max_iters converges to an empty result
    assert connected_components(pairs, max_iters=3).count() == 0


def test_connected_components_giant_component(spark):
    """Planted 1000-member cluster (one giant component, the skewed
    shape LSH emits for boilerplate-heavy corpora): a hub-and-spoke +
    chain mix has small diameter, so label propagation must converge in
    few rounds with no driver blowup -- the evidence behind the
    'rounds = diameter' scale argument."""
    from html2text_spark.operators.dedup import connected_components

    # hub-and-spoke with a short tail: node 999 sits 5 hops from the
    # min-label node 0, so propagation needs 5 rounds + 1 confirming
    # no-change round.  max_iters=7 (one slack) far below the 1000-row
    # member count IS the round-count assertion -- the operator raises
    # on exhaustion, so convergence inside it proves rounds track the
    # diameter, not the cluster size.
    hub = [(0, i) for i in range(1, 996)]
    tail = [(995 + i, 996 + i) for i in range(4)]  # 995-996-...-999
    pairs = spark.createDataFrame(hub + tail, "doc_a long, doc_b long")
    out = connected_components(pairs, max_iters=7).collect()
    assert len(out) == 1000
    assert all(r["cluster_id"] == 0 for r in out)


def test_weighted_priority_sample_rejects_nonpositive_weights(spark):
    """w <= 0 rows are filtered: w < 0 would invert the priority order
    and silently corrupt the sample."""
    from html2text_spark.operators.curation import weighted_priority_sample

    df = spark.createDataFrame(
        [(1, "g", 10), (2, "g", -5), (3, "g", 0), (4, "g", 7)],
        "doc_id long, lang string, n_chars long",
    )
    got = {r["doc_id"] for r in
           weighted_priority_sample(df, "n_chars", "lang", k=10).collect()}
    assert got == {1, 4}


def test_sum_wide_overflow_raises_not_nulls(spark):
    """A per-group sum past int64 must raise loudly instead of the
    silent NULL a bare decimal->bigint cast yields with ANSI off."""
    import pytest as _pytest

    from html2text_spark.operators.relational import _sum_wide

    big = (1 << 62) + 7
    ok = spark.createDataFrame([(big,), (1,)], "v long")
    assert ok.agg(_sum_wide(F.col("v")).alias("s")).collect()[0]["s"] == big + 1
    over = spark.createDataFrame([(big,), (big,), (big,)], "v long")
    with _pytest.raises(Exception, match="overflows bigint"):
        over.agg(_sum_wide(F.col("v")).alias("s")).collect()


def test_group_percentiles_hist_matches_percentile_exactly(spark, docs):
    """The histogram percentile (scale-safe) must reproduce Spark's own
    percentile() aggregate value-for-value -- same percentile_cont
    interpolation, different (bounded-memory) physical computation."""
    from html2text_spark.operators.textstats import group_percentiles_exact

    hist = {
        r["lang"]: (r["p25"], r["p50"], r["p75"], r["p95"], r["docs"])
        for r in group_percentiles_exact(docs, "n_chars", "lang").collect()
    }
    ref = {
        r["lang"]: (*r["qs"], r["docs"])
        for r in docs.groupBy("lang")
        .agg(
            F.percentile("n_chars", F.lit([0.25, 0.5, 0.75, 0.95])).alias("qs"),
            F.count("*").alias("docs"),
        )
        .collect()
    }
    assert hist == ref  # bit-exact, not approx


def test_group_percentiles_hist_single_row_group(spark):
    from html2text_spark.operators.textstats import group_percentiles_exact

    df = spark.createDataFrame([("g", 7)], "lang string, n_chars long")
    row = group_percentiles_exact(df, "n_chars", "lang").collect()[0]
    assert (row["p25"], row["p50"], row["p95"], row["docs"]) == (7.0, 7.0, 7.0, 1)


def test_mix_sources_equalizes_shares(spark, docs):
    """Over-represented sources are downsampled toward the equal share;
    at-or-under-share sources keep everything; the decision is a pure
    hash (identical across repartitionings)."""
    from html2text_spark.operators.curation import mix_sources

    # plant one dominant source: quadruple one source's rows
    dom = docs.filter(F.col("source") == "web").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source"
    )
    skewed = docs.select("doc_id", "source").unionAll(dom)
    if dom.count() == 0:  # source names are data-dependent; pick the max
        top = (
            docs.groupBy("source").count().orderBy(F.desc("count")).first()
        )["source"]
        dom = docs.filter(F.col("source") == top).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "source"
        )
        skewed = docs.select("doc_id", "source").unionAll(dom)
    out = {r["source"]: r for r in mix_sources(skewed).collect()}
    counts = {
        r["source"]: r["count"]
        for r in skewed.groupBy("source").count().collect()
    }
    total, n = sum(counts.values()), len(counts)
    share = total / n
    for src, row in out.items():
        assert row["docs"] == counts[src]
        if counts[src] <= share:
            assert row["kept"] == counts[src], f"{src} lost rows under share"
            assert row["rate"] == 1.0
        else:
            assert row["kept"] < counts[src], f"{src} not downsampled"
    # determinism across physical layout
    again = {
        r["source"]: r["kept"]
        for r in mix_sources(skewed.repartition(13)).collect()
    }
    assert again == {s: r["kept"] for s, r in out.items()}


def test_hll_distinct_accuracy(spark):
    from html2text_spark.operators.sketches import hll_distinct

    events = spark.read.parquet(f"{SF}/events.parquet")
    est = {
        r["grp"]: r["hll_users"]
        for r in hll_distinct(events, "user_id", "event_type").collect()
    }
    exact = {
        r["event_type"]: r["u"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert set(est) == set(exact)
    for grp, e in exact.items():
        assert abs(est[grp] - e) <= 0.05 * e, (grp, est[grp], e)


def test_salient_terms_ranking_properties(spark, docs):
    from html2text_spark.operators.textstats import salient_terms

    out = salient_terms(docs, k=5).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    for grp, rows in by_grp.items():
        assert len(rows) <= 5
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        # scores are non-increasing with rank
        for a, b in zip(rows, rows[1:]):
            assert a["score"] >= b["score"]
        for r in rows:
            assert r["tf"] >= r["df"] > 0


def test_segment_rollup_stream_matches_batch(spark):
    """Stream-static join family: the streamed (events |x| customer dim)
    hourly rollup, driven to completeness, must equal the batch
    join+aggregate row-for-row; the clock row matches no customer and
    must never surface."""
    from html2text_spark.streaming.enrich import segment_rollup_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    streamed = segment_rollup_complete(spark, events, customer)
    batch = (
        events.join(
            customer.select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").alias("events"),
            F.round(F.min("value"), 8).alias("min_value"),
            F.round(F.max("value"), 8).alias("max_value"),
        )
    )
    key = lambda r: (str(r["hour"]), r["segment"])  # noqa: E731
    srows = sorted(streamed.collect(), key=key)
    brows = sorted(batch.collect(), key=key)
    assert len(srows) == len(brows) > 0
    for s, b in zip(srows, brows):
        assert key(s) == key(b)
        assert (s["events"], s["min_value"], s["max_value"]) == (
            b["events"], b["min_value"], b["max_value"],
        )


def test_percentiles_approx_within_rank_error(spark, docs):
    """approx_percentile at accuracy=10000 must land within the GK rank
    error (n/10000 < 1 rank for these groups => within one observed
    value step of the exact discrete percentile)."""
    import __spark_entry__ as e

    approx = {
        r["lang"]: (r["p25"], r["p50"], r["p75"], r["p95"])
        for r in e.q_text_percentiles_approx(spark, SF).collect()
    }
    vals = {}
    for r in docs.select("lang", "n_chars").collect():
        vals.setdefault(r["lang"], []).append(r["n_chars"])
    for lang, got in approx.items():
        xs = sorted(vals[lang])
        for p, v in zip((0.25, 0.5, 0.75, 0.95), got):
            lo = xs[max(0, int(p * (len(xs) - 1)) - 1)]
            hi = xs[min(len(xs) - 1, int(p * (len(xs) - 1)) + 2)]
            assert lo <= v <= hi, (lang, p, v, lo, hi)


def test_funnel_ordered_semantics(spark):
    """Stage order is enforced: a purchase BEFORE the first view never
    converts; in-order users flow through; counts are non-increasing."""
    from html2text_spark.operators.behavior import funnel_stages

    rows = [
        # u1: view -> click -> purchase (full conversion)
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 11:00:00", "click"),
        (1, "2024-01-01 12:00:00", "purchase"),
        # u2: purchase BEFORE view, click after view -> stops at click
        (2, "2024-01-01 08:00:00", "purchase"),
        (2, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 11:00:00", "click"),
        # u3: click only, never viewed -> not even stage 1
        (3, "2024-01-01 10:00:00", "click"),
        # u4: view only
        (4, "2024-01-01 10:00:00", "view"),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {r["stage"]: r for r in funnel_stages(events).collect()}
    assert out["view"]["users"] == 3          # u1, u2, u4
    assert out["click"]["users"] == 2         # u1, u2
    assert out["purchase"]["users"] == 1      # u1 only (u2's was too early)
    assert out["view"]["conversion"] == 1.0
    assert out["purchase"]["conversion"] == round(1 / 3, 6)


def test_retention_cohorts_offsets(spark):
    from html2text_spark.operators.behavior import retention_cohorts

    rows = [
        (1, "2024-01-01 09:00:00"), (1, "2024-01-01 17:00:00"),  # same day
        (1, "2024-01-03 09:00:00"),                              # offset 2
        (2, "2024-01-02 09:00:00"), (2, "2024-01-03 09:00:00"),  # offset 0,1
    ]
    events = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        (str(r["cohort_day"])[:10], r["offset_days"]): r["active_users"]
        for r in retention_cohorts(events).collect()
    }
    assert out == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
        ("2024-01-02", 1): 1,
    }


def test_quantized_centroids_exact(spark, emb):
    """The integer centroid must equal the numpy computation over the
    same quantization, independent of partitioning."""
    import numpy as np

    from html2text_spark.operators.similarity import quantized_centroids

    out = quantized_centroids(emb).collect()
    rows = emb.select("label", "embedding").collect()
    sums, counts = {}, {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        scale = max(np.abs(v).max(), 1e-12) / 127.0
        # numpy rounds half-to-even; Spark/DuckDB round half-away -- use
        # the same half-away rule as the engines
        q = np.floor(np.abs(v) / scale + 0.5).astype(np.int64) * np.sign(v).astype(np.int64)
        key = r["label"]
        sums[key] = sums.get(key, np.zeros(len(v), dtype=np.int64)) + q
        counts[key] = counts.get(key, 0) + 1
    for r in out:
        assert r["sum_q"] == int(sums[r["grp"]][r["dim"]]), r
        assert r["n_vecs"] == counts[r["grp"]]
    # determinism across physical layout
    again = {(r["grp"], r["dim"]): r["sum_q"]
             for r in quantized_centroids(emb.repartition(11)).collect()}
    assert again == {(r["grp"], r["dim"]): r["sum_q"] for r in out}


def test_funnel_empty_stage_emits_zero_row(spark):
    """A stage with zero qualifying users must still emit a users=0 row
    (the SQL-oracle UNION form always does) with null conversion when
    even stage 1 is empty."""
    from html2text_spark.operators.behavior import funnel_stages

    rows = [
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 11:00:00", "click"),
        # no purchase anywhere
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = {r["stage"]: r for r in funnel_stages(events).collect()}
    assert set(out) == {"view", "click", "purchase"}
    assert out["purchase"]["users"] == 0
    assert out["purchase"]["conversion"] == 0.0
    # stage 1 empty: all-zero funnel, conversion null (0/0 is undefined)
    no_views = events.filter(F.col("event_type") != "view")
    out2 = {r["stage"]: r for r in funnel_stages(no_views).collect()}
    assert [out2[s]["users"] for s in ("view", "click", "purchase")] == [0, 0, 0]
    assert all(r["conversion"] is None for r in out2.values())


def test_group_percentiles_rejects_duplicate_names(spark, docs):
    import pytest as _pytest

    from html2text_spark.operators.textstats import group_percentiles_exact

    with _pytest.raises(ValueError, match="duplicate"):
        group_percentiles_exact(docs, "n_chars", "lang", ps=(0.951, 0.954))


def test_asof_join_custom_ts_col_prefixed_name_ok(spark):
    """A left column named f'asof_{ts_col}' is NOT synthesized by the
    operator (the attached ts is always 'asof_ts') and must be
    accepted."""
    from html2text_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, 5)], "user_id long, event_time long, asof_event_time long"
    )
    right = spark.createDataFrame(
        [(1, 5, 1.0)], "user_id long, event_time long, value double"
    )
    out = asof_join(
        left, right, ts_col="event_time", payload_cols=("value",)
    ).collect()
    assert out[0]["asof_value"] == 1.0 and out[0]["asof_event_time"] == 5


def test_streaming_dedup_within_watermark_bounded_state(spark):
    """The unbounded-stream form of the dedup family:
    dropDuplicatesWithinWatermark ages keys out of the state store
    (bounded state, the 100 TB requirement plain dropDuplicates lacks).
    On finite input every first sight is emitted exactly once."""
    from html2text_spark.streaming.harness import run_finite_stream

    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )

    def dedup_wm(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id"])
            .select("user_id")
        )

    streamed = run_finite_stream(spark, [events], dedup_wm)
    got = sorted(r["user_id"] for r in streamed.collect())
    want = sorted(
        r["user_id"] for r in events.select("user_id").distinct().collect()
    )
    assert got == want


def test_finite_stream_removes_staging_dir_when_query_fails(
    spark, tmp_path, monkeypatch
):
    """The harness stages its inputs in a temporary directory and removes
    it even when the query fails, so repeated failing runs leave no
    corpus copies behind; the query's error reaches the caller."""
    import tempfile

    from html2text_spark.streaming.harness import run_finite_stream

    events = spark.createDataFrame([(1,)], "user_id long")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    staged = []

    def failing(stream):
        staged.extend(os.listdir(tmp_path))
        return stream.select("no_such_col")

    with pytest.raises(Exception, match="no_such_col"):
        run_finite_stream(spark, [events], failing)
    assert staged and staged[0].startswith("h2t_stream_")
    assert os.listdir(tmp_path) == []


def test_session_window_native_vs_custom_boundary(spark):
    """An event EXACTLY gap after its predecessor stays in the SAME
    session in BOTH the custom sessionizer and Spark's native
    session_window (inclusive bound) -- so both share the strict->
    boundary oracle.  This test pins the native operator's boundary
    semantics; if a Spark upgrade flips it to half-open, the shared
    oracle would silently diverge and this fails first."""
    from html2text_spark.streaming.sessions import sessionize_batch

    rows = [
        (1, "2024-01-01 10:00:00", "view", 1.0),
        (1, "2024-01-01 10:30:00", "view", 1.0),   # exactly the 30min gap
        (1, "2024-01-01 10:40:00", "view", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, value double"
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    custom = sessionize_batch(events, gap_minutes=30).collect()
    assert len(custom) == 1 and custom[0]["events"] == 3
    native = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("events"))
        .collect()
    )
    assert sorted(r["events"] for r in native) == [3]
    # one second past the gap DOES split in both
    late = events.withColumn(
        "ts",
        F.when(
            F.col("ts") == "2024-01-01 10:30:00",
            F.col("ts") + F.expr("interval 1 second"),
        ).otherwise(F.col("ts")),
    )
    n2 = (
        late.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("events"))
        .collect()
    )
    assert sorted(r["events"] for r in n2) == [1, 2]


def test_pii_scrub_redacts_and_counts(spark):
    """Planted PII of each class is counted and redacted; clean text
    passes through untouched (md5 of scrubbed == md5 of expected)."""
    import hashlib

    from html2text_spark.operators.textstats import pii_scrub

    rows = [
        (1, "reach me at jane.doe@example.org or bob@site.io today"),
        (2, "server 192.168.1.254 and backup 10.0.0.7 are up"),
        (3, "call 555-0199 or 555-1234 now"),
        (4, "perfectly clean text with no identifiers"),
        (5, "mixed a@b.co at 1.2.3.4 call 555-0000"),
        (6, "Email ME at Jane.Doe@Example.COM please"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (2, 0, 0)
    assert (got[2]["n_email"], got[2]["n_ip"], got[2]["n_phone"]) == (0, 2, 0)
    assert (got[3]["n_email"], got[3]["n_ip"], got[3]["n_phone"]) == (0, 0, 2)
    assert (got[4]["n_email"], got[4]["n_ip"], got[4]["n_phone"]) == (0, 0, 0)
    assert (got[5]["n_email"], got[5]["n_ip"], got[5]["n_phone"]) == (1, 1, 1)
    assert (got[6]["n_email"], got[6]["n_ip"], got[6]["n_phone"]) == (1, 0, 0)
    expected = {
        1: "reach me at <EMAIL> or <EMAIL> today",
        2: "server <IP> and backup <IP> are up",
        3: "call <PHONE> or <PHONE> now",
        4: rows[3][1],
        5: "mixed <EMAIL> at <IP> call <PHONE>",
        6: "Email ME at <EMAIL> please",
    }
    for i, exp in expected.items():
        assert got[i]["scrubbed_len"] == len(exp)
        assert got[i]["scrubbed_md5"] == hashlib.md5(exp.encode()).hexdigest()


def test_filter_verdicts_each_rule_fires(spark):
    """Each filter rule produces its reason code; a passing doc is kept
    with an empty reason string; multiple failures join in fixed order."""
    from html2text_spark.operators.textstats import filter_verdicts

    ok = "the quick brown fox jumps over a lazy dog near the old river " \
         "bank while birds sing in morning light and wind moves calmly on"
    rows = [
        (1, ok),                              # 25 words, has stopwords
        (2, "tiny doc"),                      # too_short + low_stopword
        (3, "the a of to " + " ".join(f"w{i}" for i in range(95))),  # too_long
        (4, "the the the the the the the the the the the the "
            "the the the the the the the the the the the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in filter_verdicts(df).collect()}
    assert got[1]["kept"] and got[1]["reasons"] == ""
    assert not got[2]["kept"]
    assert got[2]["reasons"] == "too_short,low_stopword"
    assert not got[3]["kept"] and got[3]["reasons"] == "too_long"
    # doc 4: 25 words, all "the" -> dup ratio 0.96 -> high_repetition
    assert not got[4]["kept"] and got[4]["reasons"] == "high_repetition"


def test_domain_cap_bounds_and_determinism(spark, docs):
    """At most k rows per (source, lang); rank is 1..k; the selected set
    is a pure function of the ids (identical across repartitioning)."""
    from html2text_spark.operators.curation import domain_cap

    capped = domain_cap(docs, k=3).collect()
    per_group = {}
    for r in capped:
        per_group.setdefault((r["source"], r["lang"]), []).append(r["rank"])
    assert per_group, "cap produced no groups"
    for key, ranks in per_group.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), key
        assert len(ranks) <= 3, key
    again = {
        (r["source"], r["lang"], r["doc_id"])
        for r in domain_cap(docs.repartition(13), k=3).collect()
    }
    assert again == {(r["source"], r["lang"], r["doc_id"]) for r in capped}


def test_attribution_stream_matches_batch(spark):
    """Stream-stream interval join family: the streamed view->click
    attribution pairs equal the batch interval join exactly (inner join
    emits on match; no clock event involved)."""
    from html2text_spark.streaming.joins import attribution_join_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    streamed = attribution_join_complete(spark, events, window_minutes=120)
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
        "user_id",
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("user_id").alias("cu"),
    )
    batch = v.join(
        c,
        (v["user_id"] == c["cu"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] < v["view_ts"] + F.expr("INTERVAL 120 MINUTES")),
    ).select("view_id", "click_id")
    got = {(r["view_id"], r["click_id"]) for r in streamed.collect()}
    exp = {(r["view_id"], r["click_id"]) for r in batch.collect()}
    assert got == exp and len(got) > 0


def test_latest_state_picks_newest_and_breaks_ties(spark):
    """Newest ts wins; equal timestamps resolve by the unique sequence
    id, so the compaction is deterministic under retries."""
    from html2text_spark.operators.cdc import latest_state

    rows = [
        (1, "2024-01-01 10:00:00", 7, "a"),
        (2, "2024-01-01 11:00:00", 7, "b"),   # newest for user 7
        (3, "2024-01-01 09:00:00", 7, "c"),
        (4, "2024-01-01 12:00:00", 8, "d"),
        (5, "2024-01-01 12:00:00", 8, "e"),   # tie: higher event_id wins
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["user_id"]: r for r in latest_state(df).collect()}
    assert got[7]["event_id"] == 2 and got[7]["event_type"] == "b"
    assert got[8]["event_id"] == 5 and got[8]["event_type"] == "e"


def test_scd2_intervals_chain_and_single_current(spark):
    """Each key's intervals chain (valid_to == next valid_from) and
    exactly one open (is_current) interval exists per key."""
    from html2text_spark.operators.cdc import scd2_history

    events = spark.read.parquet(f"{SF}/events.parquet")
    hist = scd2_history(events).select(
        "user_id", "event_id", "valid_from", "valid_to", "is_current"
    )
    rows = hist.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    assert per_user
    for uid, rs in per_user.items():
        rs.sort(key=lambda r: (r["valid_from"], r["event_id"]))
        assert sum(r["is_current"] for r in rs) == 1, uid
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None, uid
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"], uid


def test_two_phase_totals_matches_plain_groupby(spark):
    """The salted two-phase aggregation is bit-identical to the plain
    single-phase groupBy (algebraic aggregates + exact integer cents)."""
    from html2text_spark.operators.skew import two_phase_totals

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {r["user_id"]: r for r in two_phase_totals(events, buckets=7).collect()}
    cents = F.round(F.col("value") * 100).cast("long")
    plain = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("value_cents"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert set(got) == set(plain) and len(got) > 0
    for uid in got:
        for c in ("n_events", "value_cents", "first_ts", "last_ts"):
            assert got[uid][c] == plain[uid][c], (uid, c)


def test_referential_orphans_finds_planted_dangles(spark):
    """Fact rows whose dim key was purged surface with exact cents."""
    from html2text_spark.operators.relational import referential_orphans

    fact = spark.createDataFrame(
        [(1, 10, "HI", 1.50), (2, 20, "HI", 2.25), (3, 30, "LO", 4.00)],
        "o_id long, custkey long, prio string, price double",
    )
    dim = spark.createDataFrame([(10,), (30,)], "c_custkey long")
    got = {
        r["prio"]: r
        for r in referential_orphans(
            fact, dim, "custkey", "c_custkey", "prio", "price"
        ).collect()
    }
    assert set(got) == {"HI"}
    assert got["HI"]["orphan_rows"] == 1 and got["HI"]["lost_cents"] == 225


def test_cluster_representatives_argmax_quality(spark):
    """Representative = highest score in the component (not min id);
    ties break by id ascending."""
    from html2text_spark.operators.dedup import cluster_representatives

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.4), (11, 0.4)],
        "doc_id long, quality double",
    )
    got = {r["cluster_id"]: r for r in cluster_representatives(pairs, scores).collect()}
    assert got[1]["keep_doc_id"] == 2 and got[1]["cluster_size"] == 3
    # tie on quality 0.4 -> lower id 10 wins
    assert got[10]["keep_doc_id"] == 10 and got[10]["cluster_size"] == 2


def test_count_min_never_undercounts_and_merges(spark):
    """CMS guarantees estimate >= exact, exact 0 for never-seen items,
    and sketches merge by adding counters (shard A + shard B == whole)."""
    from html2text_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    vocab = [f"w{i % 17}" for i in range(400)] + ["hot"] * 60
    items = spark.createDataFrame([(w,) for w in vocab], "item string")
    sketch = count_min_build(items, "item", depth=4, width=64)
    probes = spark.createDataFrame(
        [("hot",), ("w3",), ("never",)], "item string"
    )
    est = {
        r["item"]: r["cms_estimate"]
        for r in count_min_estimate(sketch, probes, "item", 4, 64).collect()
    }
    assert est["hot"] >= 60
    assert est["w3"] >= sum(1 for w in vocab if w == "w3")
    assert est["never"] == 0
    # merge: counters of two halves sum to the whole corpus sketch
    half_a = spark.createDataFrame([(w,) for w in vocab[:200]], "item string")
    half_b = spark.createDataFrame([(w,) for w in vocab[200:]], "item string")
    merged = (
        count_min_build(half_a, "item", 4, 64)
        .unionAll(count_min_build(half_b, "item", 4, 64))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["row"], r["col"]): r["cnt"] for r in sketch.collect()}
    got = {(r["row"], r["col"]): r["cnt"] for r in merged.collect()}
    assert got == whole


def test_rolling_active_users_window_content(spark):
    """Hand-checkable 2-day rolling distinct: each (user, day) pair
    serves exactly its own day and the next."""
    from html2text_spark.operators.behavior import rolling_active_users

    rows = [
        (1, "2024-01-01 05:00:00", 100),
        (2, "2024-01-01 06:00:00", 200),
        (3, "2024-01-02 07:00:00", 100),   # same user again day 2
        (4, "2024-01-04 08:00:00", 300),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        str(r["report_day"])[:10]: r["active_users"]
        for r in rolling_active_users(df, window_days=2).collect()
    }
    assert got == {
        "2024-01-01": 2,  # users 100, 200
        "2024-01-02": 2,  # 100 (again), 200 trailing from day 1
        "2024-01-03": 1,  # 100 trailing from day 2
        "2024-01-04": 1,  # 300
        "2024-01-05": 1,  # 300 trailing
    }


def test_stratified_sample_rates_and_default(spark, docs):
    """Per-stratum rates hold (pure hash decision), strata missing from
    the dict fall to default_pct, and the pick set is repartition-proof."""
    from html2text_spark.operators.curation import stratified_sample

    rates = {"en": 50, "de": 0}
    kept = stratified_sample(docs, rates, strata_col="lang").collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert "de" not in by_lang            # rate 0
    assert set(by_lang) <= {"en"}         # others default to 0
    n_en = docs.filter(F.col("lang") == "en").count()
    assert 0.3 * n_en < len(by_lang.get("en", [])) < 0.7 * n_en
    again = {
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(13), rates, strata_col="lang"
        ).collect()
    }
    assert again == {r["doc_id"] for r in kept}


def test_incremental_merge_equals_full_recompute(spark):
    """prev-snapshot + delta merged == full recompute, including keys
    present on only one side."""
    from html2text_spark.operators.incremental import (
        merge_snapshots,
        totals_snapshot,
    )

    events = spark.read.parquet(f"{SF}/events.parquet")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    prev_events = events.filter(F.col("ts") < cutoff)
    delta_events = events.filter(F.col("ts") >= cutoff)
    prev_keys = {r["user_id"] for r in prev_events.select("user_id").distinct().collect()}
    delta_keys = {r["user_id"] for r in delta_events.select("user_id").distinct().collect()}
    merged = {
        r["user_id"]: r
        for r in merge_snapshots(
            totals_snapshot(prev_events), totals_snapshot(delta_events)
        ).collect()
    }
    full = {r["user_id"]: r for r in totals_snapshot(events).collect()}
    assert set(merged) == set(full) == (prev_keys | delta_keys)
    for uid in full:
        for c in ("n_events", "value_cents", "first_ts", "last_ts"):
            assert merged[uid][c] == full[uid][c], (uid, c)


def test_profile_columns_counts(spark):
    """Null and distinct counts per column from one synthetic frame."""
    from html2text_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id long, tag string"
    )
    got = {
        r["col_name"]: r for r in profile_columns(df, ("id", "tag")).collect()
    }
    assert got["id"]["n_rows"] == 4
    assert got["id"]["n_nulls"] == 0 and got["id"]["n_distinct"] == 4
    assert got["tag"]["n_nulls"] == 1 and got["tag"]["n_distinct"] == 2


def test_event_transitions_counts(spark):
    """Hand-checkable transition matrix incl. START pseudo-state."""
    from html2text_spark.operators.behavior import event_transitions

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:05:00", 7, "click"),
        (3, "2024-01-01 10:09:00", 7, "purchase"),
        (4, "2024-01-01 11:00:00", 8, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["prev_type"], r["next_type"]): r["transitions"]
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("START", "view"): 2,
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }


def test_gapfill_fills_missing_days_with_zero(spark):
    """A day inside the observed range with no events reads as 0."""
    from html2text_spark.operators.behavior import gapfill_daily_counts

    rows = [
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-03 10:00:00", 8, "view"),   # Jan 2 is a hole
        (3, "2024-01-01 09:00:00", 9, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["grp"], str(r["day"])[:10]): r["events"]
        for r in gapfill_daily_counts(df).collect()
    }
    assert got == {
        ("view", "2024-01-01"): 1,
        ("view", "2024-01-02"): 0,
        ("view", "2024-01-03"): 1,
        ("click", "2024-01-01"): 1,
    }


def test_salted_join_equals_plain_join(spark):
    """Salted join returns the plain join's rows exactly, with a planted
    hot key (one user owning most of the big side)."""
    from html2text_spark.operators.skew import salted_join

    # deterministic fixture: an unordered .limit() can return different
    # rows across re-executions of the same subtree (review catch)
    events = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_id") < 300
    )
    n_base = events.count()
    hot = events.select(
        (F.col("event_id") + 1000000).alias("event_id"),
        "ts",
        F.lit(42).alias("user_id"),   # one scorching key
        "event_type",
        "value",
        "props",
    )
    big = events.unionByName(hot)
    dim = big.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    salted = {
        (r["event_id"], r["first_ts"])
        for r in salted_join(big, dim, "user_id", "event_id", buckets=5).collect()
    }
    plain = {
        (r["event_id"], r["first_ts"])
        for r in big.join(dim, "user_id").collect()
    }
    assert salted == plain and len(salted) == 2 * n_base and n_base > 0


def test_incremental_merge_one_sided_keys(spark):
    """Keys present on only one side pass through the merge unchanged
    (new user in delta only, idle user in prev only) -- the corpus split
    test cannot exercise this because every user spans the cutoff."""
    from html2text_spark.operators.incremental import merge_snapshots

    schema = (
        "user_id long, n_events long, value_cents long, "
        "first_ts timestamp, last_ts timestamp"
    )
    t = lambda s: __import__("datetime").datetime.fromisoformat(s)
    prev = spark.createDataFrame(
        [
            (1, 3, 100, t("2024-01-01 09:00:00"), t("2024-01-02 10:00:00")),
            (2, 5, 250, t("2024-01-01 08:00:00"), t("2024-01-03 11:00:00")),  # idle after
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            (1, 2, 50, t("2024-01-05 09:00:00"), t("2024-01-06 10:00:00")),
            (9, 1, 75, t("2024-01-05 12:00:00"), t("2024-01-05 12:00:00")),  # new user
        ],
        schema,
    )
    got = {r["user_id"]: r for r in merge_snapshots(prev, delta).collect()}
    assert set(got) == {1, 2, 9}
    assert (got[1]["n_events"], got[1]["value_cents"]) == (5, 150)
    assert got[1]["first_ts"] == t("2024-01-01 09:00:00")
    assert got[1]["last_ts"] == t("2024-01-06 10:00:00")
    # one-sided keys pass through bit-identically
    assert (got[2]["n_events"], got[2]["value_cents"]) == (5, 250)
    assert (got[9]["n_events"], got[9]["value_cents"]) == (1, 75)


def test_iqr_outliers_flags_planted_spikes(spark):
    """A planted extreme value is flagged; the bulk of a tight cluster
    is not; fences honor the k parameter."""
    from html2text_spark.operators.profiling import iqr_outliers

    rows = [("a", i, 100 + (i % 5)) for i in range(20)]  # tight cluster
    rows += [("a", 98, 10_000), ("a", 99, -5_000)]       # two spikes
    rows += [("b", 200 + i, 50) for i in range(10)]      # degenerate: iqr 0
    df = spark.createDataFrame(rows, "grp string, id long, cents long")
    got = {r["id"]: r for r in iqr_outliers(df, "grp", "cents", "id").collect()}
    assert 98 in got and 99 in got
    assert all(i not in got for i in range(20))
    # group b: iqr 0 -> fences collapse to the point; no row flagged
    assert all(i not in got for i in range(200, 210))
    assert got[98]["lo_fence"] < 100 < got[98]["hi_fence"] < 10_000


def test_value_histogram_buckets_exact(spark):
    """Integer bucketing: edges land where int arithmetic says; v == hi
    goes in the last bucket; counts cover all rows."""
    from html2text_spark.operators.profiling import value_histogram

    rows = [("a", v) for v in [0, 1, 5, 9, 10]] + [("b", 7)]
    df = spark.createDataFrame(rows, "grp string, cents long")
    got = {
        (r["grp"], r["bucket"]): r for r in value_histogram(df, "grp", "cents", buckets=2).collect()
    }
    # group a: lo=0 hi=10, domain width 11; bucket = (v*2) div 11
    # -> {0,1,5} in bucket 0; {9,10} in bucket 1 (hi lands in the last)
    assert got[("a", 0)]["n"] == 3
    assert got[("a", 1)]["n"] == 2
    total = sum(r["n"] for r in got.values() if r["grp"] == "a")
    assert total == 5
    # single-value group: one bucket 0 with everything
    assert got[("b", 0)]["n"] == 1 and got[("b", 0)]["lo_cents"] == 7


def test_edit_distance_verify_known_values(spark):
    """Known edit distances on hand pairs; identical texts similarity 1;
    the planted tail-append pair's distance equals the appended length."""
    from html2text_spark.operators.dedup import edit_distance_verify

    corpus = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, "kitten"), (4, "kitten xyz"),
         (5, ""), (6, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in edit_distance_verify(corpus, pairs).collect()
    }
    assert got[(1, 2)]["edit_distance"] == 3
    assert got[(1, 3)]["edit_distance"] == 0
    assert got[(1, 3)]["similarity"] == 1.0
    assert got[(1, 4)]["edit_distance"] == 4  # " xyz"
    # two empty texts: trivially identical, guarded against divide-by-zero
    assert got[(5, 6)]["edit_distance"] == 0
    assert got[(5, 6)]["similarity"] == 1.0


def test_shipping_priority_topk_shape(spark):
    """Q3 shape: <= k rows, descending revenue, deterministic tie-break,
    and the plan is a TakeOrderedAndProject (no global sort)."""
    from html2text_spark.operators.relational import shipping_priority

    customer = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = shipping_priority(customer, orders, lineitem, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert 0 < len(rows) <= 5
    revs = [r["revenue_cp"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_attribution_outer_stream_matches_batch(spark):
    """Sixth streaming family: LEFT OUTER stream-stream join -- every
    view appears exactly once per matching click OR once with null
    click after watermark expiry; streamed == batch left interval join."""
    from html2text_spark.streaming.joins import attribution_outer_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    streamed = attribution_outer_complete(spark, events, window_minutes=120)
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
        "user_id",
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("user_id").alias("cu"),
    )
    batch = v.join(
        c,
        (v["user_id"] == c["cu"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] < v["view_ts"] + F.expr("INTERVAL 120 MINUTES")),
        "left_outer",
    ).select("view_id", "click_id")
    got = {(r["view_id"], r["click_id"]) for r in streamed.collect()}
    exp = {(r["view_id"], r["click_id"]) for r in batch.collect()}
    assert got == exp
    assert any(cid is None for _, cid in got), "no null-extension rows"
    assert any(cid is not None for _, cid in got), "no matched rows"


def test_key_constraint_audit_verdicts(spark):
    """Unique key passes; a duplicated key is surfaced as violated."""
    from html2text_spark.operators.profiling import key_constraint_audit

    good = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    bad = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    got = {
        r["table_name"]: r
        for r in key_constraint_audit(
            {"good": (good, "k"), "bad": (bad, "k")}
        ).collect()
    }
    assert got["good"]["is_unique"] and got["good"]["n_keys"] == 3
    assert not got["bad"]["is_unique"]
    assert (got["bad"]["n_rows"], got["bad"]["n_keys"]) == (3, 2)


def test_customer_order_distribution_includes_zero_bucket(spark):
    """Q13's defining property: every customer is counted exactly once,
    including those with no qualifying orders (left outer join)."""
    from html2text_spark.operators.relational import customer_order_distribution

    customer = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    dist = customer_order_distribution(customer, orders).collect()
    assert sum(r["custdist"] for r in dist) == customer.count()
    # excluding ALL orders must put every customer in the zero bucket
    none = customer_order_distribution(
        customer, orders.filter(F.lit(False))
    ).collect()
    assert len(none) == 1 and none[0]["c_count"] == 0
    assert none[0]["custdist"] == customer.count()


def test_large_volume_orders_threshold_and_order(spark):
    from html2text_spark.operators.relational import large_volume_orders

    rows = large_volume_orders(
        spark.read.parquet(f"{SF}/customer.parquet"),
        spark.read.parquet(f"{SF}/orders.parquet"),
        spark.read.parquet(f"{SF}/lineitem.parquet"),
        min_qty=150,
        k=10,
    ).collect()
    assert 0 < len(rows) <= 10
    assert all(r["total_qty"] > 150 for r in rows)
    qtys = [r["total_qty"] for r in rows]
    assert qtys == sorted(qtys, reverse=True)


def test_dormant_rich_customers_threshold_exact(spark):
    """The integer cross-multiplied threshold equals the float-average
    comparison, and no counted customer ordered since the cutoff."""
    from html2text_spark.operators.relational import dormant_rich_customers

    customer = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    since = "2000-01-01"
    got = dormant_rich_customers(customer, orders, since=since).collect()
    cents = [
        (r["c_custkey"], r["c_nationkey"], round(r["c_acctbal"] * 100))
        for r in customer.collect()
    ]
    pos = [c for _, _, c in cents if c > 0]
    recent = {
        r["o_custkey"]
        for r in orders.filter(F.col("o_orderdate") >= since)
        .select("o_custkey").distinct().collect()
    }
    expect = {}
    for key, nat, c in cents:
        if c * len(pos) > sum(pos) and key not in recent:
            n, tot = expect.get(nat, (0, 0))
            expect[nat] = (n + 1, tot + c)
    assert {
        r["c_nationkey"]: (r["n_customers"], r["total_acctbal_cents"])
        for r in got
    } == expect
    assert expect, "fixture should produce at least one dormant-rich nation"


def test_canonical_url_edge_cases(spark):
    from html2text_spark.operators.curation import canonical_url

    cases = [
        ("HTTPS://Example.COM:443/A/B?z=1&a=2", "https://example.com/A/B?a=2&z=1"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("http://example.com/", "http://example.com"),
        ("http://example.com/x?utm_source=a&utm_medium=b", "http://example.com/x"),
        ("http://example.com/x#frag", "http://example.com/x"),
        ("http://example.com/x?", "http://example.com/x"),
        ("http://EXAMPLE.com:80/x/?b=2&a=1", "http://example.com/x?a=1&b=2"),
        # a '?' inside the fragment is NOT a query (review catch)
        ("http://example.com/x#!/section?tab=1", "http://example.com/x"),
        # only the scheme's OWN default port is default (review catch)
        ("http://example.com:443/x", "http://example.com:443/x"),
        ("https://example.com:80/x", "https://example.com:80/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted key must pass its own bloom (no false negatives,
    ever), and OR-merging two shard blooms equals the bloom of the
    union -- the mergeability contract of the sketch family."""
    from html2text_spark.operators.sketches import bloom_build, bloom_probe

    keys = spark.range(200).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k")
    probed = bloom_probe(keys, bloom, "k")
    assert probed.filter(~F.col("bloom_pass")).count() == 0
    # shard merge: bit_or of per-shard words == whole-set bloom
    a = bloom_build(keys.filter(F.col("k") < 100), "k")
    b = bloom_build(keys.filter(F.col("k") >= 100), "k")
    merged = {
        r["word_idx"]: r["word"]
        for r in a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    }
    whole = {r["word_idx"]: r["word"] for r in bloom.collect()}
    assert merged == whole
    # definitive negatives: a key whose bits are absent must fail
    empty_bloom = bloom_build(keys.filter(F.lit(False)), "k")
    none = bloom_probe(keys, empty_bloom, "k")
    assert none.filter(F.col("bloom_pass")).count() == 0


def test_count_anomalies_matches_recompute(spark):
    """z-scores equal a driver-side recompute from the same integer
    moments, and only |z| > 2 rows surface."""
    import math

    from html2text_spark.operators.profiling import count_anomalies

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {
        (r["event_type"], r["bucket"]): (r["cnt"], r["z"])
        for r in count_anomalies(events).collect()
    }
    buckets = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("b"))
        .count()
        .collect()
    )
    per_type = {}
    for r in buckets:
        per_type.setdefault(r["event_type"], []).append((r["b"], r["count"]))
    expect = {}
    for et, rows in per_type.items():
        h = len(rows)
        s1 = sum(c for _, c in rows)
        s2 = sum(c * c for _, c in rows)
        if h < 2 or s2 * h <= s1 * s1:
            continue
        var = (s2 * h - s1 * s1) / (h * (h - 1))
        for b, c in rows:
            z = (c * h - s1) / (h * math.sqrt(var))
            if abs(z) > 2:
                expect[(et, b)] = (c, round(z, 8))
    assert got == expect and got, "anomaly sets must match and be non-empty"


def test_kmv_stream_equals_batch(spark):
    """SEVENTH streaming family: the streamed KMV sketch (bounded
    min-k-longs state) equals the batch sketch value-exactly, including
    the estimate path (k=8 forces estimation on this corpus)."""
    from html2text_spark.operators.sketches import kmv_distinct
    from html2text_spark.streaming.kmv import kmv_events_complete

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {
        r["grp"]: (r["n_kept"], r["kmv_estimate"])
        for r in kmv_events_complete(spark, events, k=8).collect()
    }
    want = {
        r["grp"]: (r["n_kept"], r["kmv_estimate"])
        for r in kmv_distinct(events, "user_id", "event_type", k=8).collect()
    }
    assert got == want and got
    # estimate path genuinely exercised: every group saturated its k
    assert all(n == 8 for n, _ in got.values())


def test_triangle_stats_known_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (5, 6), (1, 2)],
        "doc_a long, doc_b long",
    )
    from html2text_spark.operators.dedup import triangle_stats

    r = triangle_stats(edges).collect()[0]
    # duplicate edge deduped; triangles (1,2,3) and (2,3,4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (6, 6, 2)


def test_promo_revenue_share_recompute(spark):
    from html2text_spark.operators.relational import promo_revenue_share

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    r = promo_revenue_share(li, part, year=1997).collect()[0]
    assert 0 < r["promo_cp"] < r["total_cp"]
    assert r["promo_pct"] == round(100.0 * r["promo_cp"] / r["total_cp"], 8)


def test_zorder_key_bounds_both_dimensions(spark):
    """Z-bucket locality: within each z-prefix bucket BOTH dimensions
    are bounded (the multi-dim file-skipping property), while a plain
    single-column sort bounds only its leading column.  Also pins the
    bit interleave against a Python recompute."""
    from html2text_spark.sources import zorder_key

    rows = [(u, h) for u in range(0, 64) for h in range(0, 64)]
    df = spark.createDataFrame(rows, "u long, h long")
    got = df.select(
        "u", "h", zorder_key(F.col("u"), F.col("h"), 6).alias("z")
    ).collect()

    def z_py(u, h, bits=6):
        z = 0
        for i in range(bits):
            z |= ((u >> i) & 1) << (2 * i)
            z |= ((h >> i) & 1) << (2 * i + 1)
        return z

    assert all(r["z"] == z_py(r["u"], r["h"]) for r in got)
    # each 16-value z-prefix bucket covers a 4x4 tile: both dims span <= 4
    buckets = {}
    for r in got:
        buckets.setdefault(r["z"] >> 4, []).append((r["u"], r["h"]))
    assert len(buckets) == 64 * 64 // 16
    for vals in buckets.values():
        us = [u for u, _ in vals]
        hs = [h for _, h in vals]
        assert max(us) - min(us) <= 3 and max(hs) - min(hs) <= 3


def test_streaming_restart_resumes_exactly_once(spark, tmp_path):
    """Checkpointed streaming recovery: run the watermarked hourly
    rollup over the first half of the corpus, terminate, then restart
    from the SAME checkpoint with the second half + completion clock.
    The union of both runs' append output must equal the batch rollup
    exactly -- windows spanning the crash point are merged from
    recovered state, nothing is emitted twice, nothing is lost."""
    from html2text_spark.streaming.windows import hourly_rollup_stream

    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    mid = events.agg(
        F.to_timestamp(
            F.from_unixtime(F.avg(F.unix_seconds(F.col("ts"))))
        ).alias("m")
    ).collect()[0]["m"]
    first = events.filter(F.col("ts") < F.lit(mid))
    rest = events.filter(F.col("ts") >= F.lit(mid))
    assert first.count() > 0 and rest.count() > 0
    horizon = events.agg(F.max("ts").alias("m")).collect()[0]["m"]
    clock = spark.createDataFrame(
        [(int(-1), horizon, "__clock__", 0.0)],
        "user_id long, ts timestamp, event_type string, value double",
    ).withColumn("ts", F.timestamp_add("DAY", F.lit(10), F.col("ts")))

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once(df):
        df.coalesce(1).write.mode("append").parquet(in_dir)
        q = (
            hourly_rollup_stream(
                spark.readStream.schema(events.schema).parquet(in_dir)
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(first)                      # "crash" after this terminates
    n_after_first = spark.read.parquet(out_dir).count()
    run_once(rest.unionAll(clock))       # restart from the checkpoint
    got = {
        (r["hour"], r["event_type"]): (r["events"], r["min_value"], r["max_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["events"], r["min_value"], r["max_value"])
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("events"),
            F.round(F.min("value"), 8).alias("min_value"),
            F.round(F.max("value"), 8).alias("max_value"),
        )
        .collect()
    }
    assert got == want
    # both runs genuinely contributed (recovery, not a single-run rerun)
    assert 0 < n_after_first < len(got)
    # exactly-once: no (window, type) key appears twice in the sink
    n_rows = spark.read.parquet(out_dir).count()
    assert n_rows == len(got)


def test_pagerank_fixed_matches_recompute(spark):
    """The fixed-point procedure equals a pure-Python recompute on a
    small known graph (star + path + isolate-pair), and the hub ranks
    highest."""
    from html2text_spark.operators.dedup import pagerank_fixed

    edges = [(1, 2), (1, 3), (1, 4), (4, 5), (6, 7)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["pr"] for r in pagerank_fixed(df, iters=5).collect()}

    adj, deg = {}, {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(vs) for n, vs in adj.items()}
    pr = {n: 1_000_000 for n in adj}
    for _ in range(5):
        nxt = {}
        for v in adj:
            s = sum((pr[u] * 85) // (100 * deg[u]) for u in adj[v])
            nxt[v] = 150_000 + s
        pr = nxt
    assert got == pr
    assert max(got, key=got.get) == 1


def test_canonical_url_idempotent_fuzz(spark):
    """Property: canonicalization is idempotent -- canonical(canonical(u))
    == canonical(u) over a randomized URL grammar (schemes, mixed-case
    hosts, ports, paths, params incl. utm_*, fragments with '?')."""
    from hypothesis import given, settings, strategies as st

    from html2text_spark.operators.curation import canonical_url

    scheme = st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"])
    host = st.sampled_from(
        ["example.com", "EXAMPLE.com", "a.B.c", "x-y.org"]
    )
    port = st.sampled_from(["", ":80", ":443", ":8080"])
    path = st.sampled_from(["", "/", "/a", "/a/B/", "/a.b"])
    param = st.sampled_from(
        ["a=1", "b=2", "utm_source=x", "z", "", "a=2"]
    )
    query = st.lists(param, max_size=4).map(
        lambda ps: "?" + "&".join(ps) if ps else ""
    )
    frag = st.sampled_from(["", "#f", "#!/sec?tab=1", "#a?b=c"])
    url_s = st.builds(
        lambda s, h, po, pa, q, f: f"{s}://{h}{po}{pa}{q}{f}",
        scheme, host, port, path, query, frag,
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(url_s, min_size=1, max_size=8, unique=True))
    def check(urls):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = df.select(canonical_url(F.col("url")).alias("c"))
        twice = once.select(canonical_url(F.col("c")).alias("c2"))
        a = [r["c"] for r in once.collect()]
        b = [r["c2"] for r in twice.collect()]
        assert a == b, list(zip(urls, a, b))

    check()


def test_cms_stream_equals_batch_sketch(spark):
    """EIGHTH streaming family (complete mode): the drained streaming
    CMS counter table equals the batch sketch counter-for-counter
    (order-insensitive sums), not just on estimates."""
    from html2text_spark.operators.sketches import count_min_build
    from html2text_spark.streaming.cms import cms_words_stream
    from html2text_spark.streaming.harness import run_finite_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text")
    streamed = run_finite_stream(
        spark,
        [docs],
        lambda s: cms_words_stream(s, depth=3, width=64),
        output_mode="complete",
    )
    got = {(r["row"], r["col"]): r["cnt"] for r in streamed.collect()}
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("item")
    )
    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_build(words, "item", depth=3, width=64).collect()
    }
    assert got == want and len(got) > 50


def test_robust_dispersion_matches_recompute(spark):
    """The grouped-agg pandas UDAF equals a driver-side numpy recompute
    and ignores NULL values."""
    import numpy as np

    from html2text_spark.functions.udafs import robust_dispersion

    events = spark.read.parquet(f"{SF}/events.parquet")
    got = {
        r["grp"]: (r["median_cents"], r["mad_cents"], r["n"])
        for r in robust_dispersion(events).collect()
    }
    rows = events.select("event_type", "value").collect()
    per = {}
    import math

    for r in rows:
        if r["value"] is not None:
            # F.round is HALF_UP (away from zero); Python round() is
            # banker's -- floor(x+0.5) matches for the non-negative
            # domain (review catch; latent on the current corpus)
            per.setdefault(r["event_type"], []).append(
                math.floor(r["value"] * 100 + 0.5)
            )
    want = {}
    for g, vs in per.items():
        a = np.array(vs)
        m = np.median(a)
        want[g] = (float(m), float(np.median(np.abs(a - m))), len(vs))
    assert got == want and got
