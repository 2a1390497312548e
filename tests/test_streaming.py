"""Structured Streaming tests: foreachBatch pipeline, watermarked windows,
cross-batch stateful dedup (SURVEY.md §2B streaming, §7 step 5)."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_adsbx_spark.streaming.dedup import (
    stateful_last_position,
    streaming_dropdup,
)
from etl_adsbx_spark.streaming.windows import run_micro_batches, tumbling_agg

TS = dt.datetime(2026, 1, 15, 12, 0, 0)

OBS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
    ]
)


def _mem_stream(spark, rows):
    """File-based micro-batch source: one JSON file per batch."""
    d = tempfile.mkdtemp()
    import json
    import os

    for i, batch in enumerate(rows):
        with open(os.path.join(d, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    return spark.readStream.schema(
        "id string, ts timestamp, lat double, lon double"
    ).option("maxFilesPerTrigger", 1).json(d)


def test_foreachbatch_pipeline(spark):
    batches = [
        [{"id": "a", "ts": "2026-01-15 12:00:00", "lat": 1.0, "lon": 2.0}],
        [{"id": "a", "ts": "2026-01-15 12:01:00", "lat": 3.0, "lon": 4.0},
         {"id": "b", "ts": "2026-01-15 12:01:30", "lat": 5.0, "lon": 6.0}],
    ]
    seen = []

    def batch_fn(df, batch_id):
        seen.append((batch_id, df.count()))

    q = run_micro_batches(
        _mem_stream(spark, batches), batch_fn, tempfile.mkdtemp(), trigger_once=True
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 3
    assert len(seen) >= 1  # availableNow may fuse files into fewer batches


def test_streaming_dropdup_first_occurrence(spark):
    batches = [
        [{"id": "a", "ts": "2026-01-15 12:00:00", "lat": 1.0, "lon": 2.0},
         {"id": "a", "ts": "2026-01-15 12:00:10", "lat": 9.0, "lon": 9.0}],
        [{"id": "a", "ts": "2026-01-15 12:00:20", "lat": 7.0, "lon": 7.0},
         {"id": "b", "ts": "2026-01-15 12:00:30", "lat": 5.0, "lon": 6.0}],
    ]
    out = []

    def batch_fn(df, _):
        out.extend(df.collect())

    dedup = streaming_dropdup(_mem_stream(spark, batches), ["id"], "ts", "10 minutes")
    q = dedup.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", tempfile.mkdtemp()
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    ids = sorted(r["id"] for r in out)
    assert ids == ["a", "b"]  # duplicates across batches suppressed


def test_stateful_last_position(spark):
    batches = [
        [{"id": "a", "ts": "2026-01-15 12:00:00", "lat": 1.0, "lon": 2.0}],
        [{"id": "a", "ts": "2026-01-15 12:05:00", "lat": 3.0, "lon": 4.0},
         {"id": "b", "ts": "2026-01-15 12:06:00", "lat": 5.0, "lon": 6.0}],
    ]
    results = {}

    def batch_fn(df, _):
        for r in df.collect():
            results[r["id"]] = r

    tracked = stateful_last_position(_mem_stream(spark, batches))
    q = tracked.writeStream.foreachBatch(batch_fn).outputMode("update").option(
        "checkpointLocation", tempfile.mkdtemp()
    ).trigger(availableNow=True).start()
    # This query never self-terminates: the tracker re-arms a 1 h
    # processing-time timer, so availableNow keeps issuing no-data
    # batches to service pending timers. Waiting on awaitTermination's
    # TIMEOUT (the old form) returned after 180 s with the query STILL
    # RUNNING — a zombie that kept burning a micro-batch every ~2.6 s for
    # the rest of the suite (r12 measurement; the suite-rot root cause).
    # Drain to the expected results instead, then stop explicitly.
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        a, b = results.get("a"), results.get("b")
        if a is not None and a["n_seen"] == 2 and b is not None and b["n_seen"] == 1:
            break
        _time.sleep(0.25)
    q.stop()
    q.awaitTermination(60)
    assert results["a"]["lat"] == 3.0        # latest position wins across batches
    assert results["a"]["n_seen"] == 2       # cumulative count
    assert results["b"]["n_seen"] == 1


def test_streaming_tumbling_window_with_watermark(spark):
    batches = [
        [{"id": "a", "ts": "2026-01-15 12:01:00", "lat": 1.0, "lon": 2.0},
         {"id": "b", "ts": "2026-01-15 12:14:00", "lat": 1.0, "lon": 2.0},
         {"id": "c", "ts": "2026-01-15 12:21:00", "lat": 1.0, "lon": 2.0}],
    ]
    out = []

    def batch_fn(df, _):
        out.extend(df.collect())

    win = tumbling_agg(
        _mem_stream(spark, batches), "ts", "10 minutes", [],
        [F.count("*").alias("n")], watermark="1 hour",
    )
    q = win.writeStream.foreachBatch(batch_fn).outputMode("update").option(
        "checkpointLocation", tempfile.mkdtemp()
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {r["window_start"].strftime("%H:%M"): r["n"] for r in out}
    assert got == {"12:00": 1, "12:10": 1, "12:20": 1}


def test_streaming_flagship_pipeline(spark):
    """R29 (task.ts:97-98, 261-264): the reference is a *scheduled
    micro-batch* job — each tick runs the full control() pipeline on that
    tick's fetch. Model it exactly: a file stream of observation batches,
    foreachBatch invoking control() (transform → last-wins dedup →
    includes join + enrichment → first-wins) and Feature assembly per
    batch."""
    import json
    import os

    from etl_adsbx_spark.fixtures import AIRCRAFT_ROWS, BATCH_TIME, includes_df
    from etl_adsbx_spark.pipeline import control, to_features
    from etl_adsbx_spark.schemas import ADSB_SCHEMA

    names = [f.name for f in ADSB_SCHEMA.fields]
    rows = [dict(zip(names, r)) for r in AIRCRAFT_ROWS]
    d = tempfile.mkdtemp()
    half = len(rows) // 2
    for i, batch in enumerate([rows[:half], rows[half:]]):
        with open(os.path.join(d, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema(ADSB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    inc = includes_df(spark)
    out = []

    def batch_fn(df, batch_id):
        feats = to_features(
            control(df, inc, filtering=True, batch_time=BATCH_TIME)
        )
        out.append((batch_id, feats.collect()))

    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    all_feats = [r for _, fs in out for r in fs]
    assert len(all_feats) >= 1
    for r in all_feats:
        assert r["type"] == "Feature"
        assert r["properties"]["type"].startswith("a-")
        assert len(r["geometry"]["coordinates"]) in (2, 3)


def test_streaming_exact_text_dedup(spark):
    """[EXT] Corpus dedup as a stream: documents arrive in micro-batches,
    exact dedup keys on the normalized-text sha (operators.dedup
    normalization), and dropDuplicatesWithinWatermark suppresses re-arrivals
    ACROSS batches with watermark-bounded state — the incremental-ingest
    form of exact_dedup_docs."""
    import json
    import os

    from etl_adsbx_spark.operators.dedup import normalized_text
    from etl_adsbx_spark.streaming.dedup import streaming_dropdup

    batches = [
        [{"doc_id": 1, "ts": "2026-01-15 12:00:00", "text": "the quick brown fox"},
         {"doc_id": 2, "ts": "2026-01-15 12:00:05", "text": "entirely different text"}],
        # doc 3 = whitespace/case variant of doc 1 -> same normalized sha
        [{"doc_id": 3, "ts": "2026-01-15 12:00:40", "text": "  The   QUICK brown fox "},
         {"doc_id": 4, "ts": "2026-01-15 12:00:50", "text": "a third distinct doc"}],
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        with open(os.path.join(d, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
        .withColumn("text_sha", F.sha2(normalized_text("text"), 256))
    )
    out = []

    def batch_fn(df, _):
        out.extend(df.collect())

    q = (
        streaming_dropdup(stream, ["text_sha"], "ts", "10 minutes")
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = sorted(r["doc_id"] for r in out)
    # exactly one of the two normalized-identical docs (1, 3) survives —
    # WHICH one depends on file/batch arrival order, so assert the
    # deduplication property, not an arrival order the source doesn't owe us
    assert len(kept) == 3
    assert {2, 4} <= set(kept)
    assert len({1, 3} & set(kept)) == 1


def test_streaming_incremental_dedup_with_durable_index(spark):
    """[EXT] The unbounded-history counterpart of the watermark test above:
    each micro-batch is admitted via operators.dedup.incremental_exact_dedup
    against a parquet hash index that foreachBatch maintains on disk, so
    dedup state survives stream restarts and never expires — the production
    corpus-ingest shape (watermark state bounds memory; the index bounds
    nothing and lives where the corpus lives)."""
    import json
    import os

    from etl_adsbx_spark.operators.dedup import incremental_exact_dedup

    batches = [
        [{"doc_id": 10, "ts": "2026-01-15 12:00:00", "text": "the quick brown fox"},
         {"doc_id": 11, "ts": "2026-01-15 12:00:05", "text": "second document"}],
        # 12 duplicates batch-0's doc 10 (normalized); 13 is new
        [{"doc_id": 12, "ts": "2026-01-15 13:00:40", "text": "THE  quick  brown fox"},
         {"doc_id": 13, "ts": "2026-01-15 13:00:50", "text": "third document"}],
        # 14 duplicates batch-1's doc 13 — far outside any plausible
        # watermark horizon in event time; the index still rejects it
        [{"doc_id": 14, "ts": "2026-02-20 09:00:00", "text": "third  DOCUMENT "},
         {"doc_id": 15, "ts": "2026-02-20 09:00:10", "text": "fourth document"}],
    ]
    src = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    index_dir = os.path.join(tempfile.mkdtemp(), "sha_index")
    corpus_dir = os.path.join(tempfile.mkdtemp(), "corpus")

    def ingest(batch_df, _epoch):
        spark = batch_df.sparkSession
        if os.path.isdir(index_dir):
            index = spark.read.parquet(index_dir)
        else:
            index = spark.createDataFrame([], "text_sha string")
        admitted = incremental_exact_dedup(batch_df, index).localCheckpoint()
        admitted.write.mode("append").parquet(corpus_dir)
        admitted.select("text_sha").write.mode("append").parquet(index_dir)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    # batch arrival order is not owed by the file source, so assert the
    # dedup property: one survivor per normalized text, cross-batch and
    # cross-restart, with no watermark horizon involved
    assert len(kept) == 4
    assert {11, 15} <= kept
    assert len({10, 12} & kept) == 1  # "the quick brown fox" admitted once
    assert len({13, 14} & kept) == 1  # "third document" admitted once
    index = spark.read.parquet(index_dir)
    assert index.distinct().count() == 4


def test_streaming_pii_scrub_quality_gate(spark):
    """The text-cleaning surface composes with Structured Streaming: each
    micro-batch of documents is PII-redacted and quality-gated with the
    exact batch expressions (functions.text) inside foreachBatch — the
    per-tick corpus-ingest shape a training pipeline runs continuously."""
    import json
    import os
    import tempfile

    from etl_adsbx_spark.functions import text as T
    from etl_adsbx_spark.streaming.windows import run_micro_batches

    batches = [
        [{"doc_id": "d0", "text": "mail me at eve@example.org " + "the cat sat on the mat " * 8},
         {"doc_id": "d1", "text": "!!! ??? ###"}],
        [{"doc_id": "d2", "text": "host 10.1.2.3 " + "a quick brown fox of it and for that " * 8}],
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        with open(os.path.join(d, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )

    out: list[tuple[str, str, float]] = []

    def batch_fn(df, batch_id):
        rows = (
            df.select(
                "doc_id",
                T.redact_pii("text").alias("clean"),
                T.quality_score("text").alias("q"),
            )
            .filter(F.col("q") >= 0.3)
            .collect()
        )
        out.extend((r["doc_id"], r["clean"], r["q"]) for r in rows)

    q = run_micro_batches(stream, batch_fn, tempfile.mkdtemp(), trigger_once=True)
    q.awaitTermination(120)

    got = {doc_id: clean for doc_id, clean, _ in out}
    # the punctuation-soup doc is gated out; the two real docs survive scrubbed
    assert set(got) == {"d0", "d2"}
    assert "[EMAIL]" in got["d0"] and "eve@example.org" not in got["d0"]
    assert "[IP]" in got["d2"] and "10.1.2.3" not in got["d2"]


def test_stream_stream_interval_join(spark):
    """Stream-stream interval join (impressions ⋈ clicks): only clicks
    within [0, +10 minutes] of the same-key impression pair up; state is
    watermark-bounded on both sides. Also verifies the unified model: the
    same helper gives identical pairs on the batch frames."""
    import json
    import os

    from etl_adsbx_spark.streaming.windows import stream_interval_join

    imps = [
        {"key": "u1", "ts": "2026-01-15 12:00:00", "imp_id": 1},
        {"key": "u2", "ts": "2026-01-15 12:00:00", "imp_id": 2},
        {"key": "u1", "ts": "2026-01-15 13:00:00", "imp_id": 3},
    ]
    clicks = [
        {"key": "u1", "ts": "2026-01-15 12:04:00", "click_id": 10},  # joins imp 1
        {"key": "u2", "ts": "2026-01-15 12:30:00", "click_id": 11},  # outside window
        {"key": "u1", "ts": "2026-01-15 13:09:59", "click_id": 12},  # joins imp 3
        {"key": "u3", "ts": "2026-01-15 12:01:00", "click_id": 13},  # no such key
    ]
    dirs = []
    for rows in (imps, clicks):
        d = tempfile.mkdtemp()
        with open(os.path.join(d, "b0.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        dirs.append(d)
    imp_schema = "key string, ts timestamp, imp_id long"
    click_schema = "key string, ts timestamp, click_id long"
    imp_stream = spark.readStream.schema(imp_schema).json(dirs[0])
    click_stream = spark.readStream.schema(click_schema).json(dirs[1])

    joined = stream_interval_join(
        imp_stream, click_stream, "key", "ts", "ts", "0 minutes", "10 minutes",
        watermark="1 hour",
    )
    out = []

    def batch_fn(df, _):
        out.extend(df.collect())

    q = (
        joined.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    pairs = sorted((r["imp_id"], r["click_id"]) for r in out)
    assert pairs == [(1, 10), (3, 12)]

    # unified model: the identical helper on batch frames gives the same pairs
    imp_b = spark.createDataFrame(
        [(r["key"], dt.datetime.fromisoformat(r["ts"]), r["imp_id"]) for r in imps],
        imp_schema,
    )
    click_b = spark.createDataFrame(
        [(r["key"], dt.datetime.fromisoformat(r["ts"]), r["click_id"]) for r in clicks],
        click_schema,
    )
    batch_joined = stream_interval_join(
        imp_b, click_b, "key", "ts", "ts", "0 minutes", "10 minutes", watermark="1 hour"
    )
    batch_pairs = sorted((r["imp_id"], r["click_id"]) for r in batch_joined.collect())
    assert batch_pairs == pairs


def test_streaming_dedup_with_durable_bloom_index(spark):
    """[EXT] The durable-index ingest with the Bloom fast path maintained
    across ticks: each micro-batch reads the persisted word-table filter,
    admits via incremental_exact_dedup(bloom=...), then OR-merges the
    admitted hashes' filter back to disk (bloom_merge) — the per-tick
    index-maintenance loop at production shape. Admission semantics must
    equal the plain durable-index test's (the filter only skips work)."""
    import json
    import os

    from etl_adsbx_spark.operators.dedup import (
        bloom_merge,
        bloom_word_table,
        incremental_exact_dedup,
    )

    batches = [
        [{"doc_id": 10, "text": "the quick brown fox"},
         {"doc_id": 11, "text": "second document"}],
        [{"doc_id": 12, "text": "THE  quick  brown fox"},
         {"doc_id": 13, "text": "third document"}],
        [{"doc_id": 14, "text": "third  DOCUMENT "},
         {"doc_id": 15, "text": "fourth document"}],
    ]
    src = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
    index_dir = os.path.join(tempfile.mkdtemp(), "sha_index")
    bloom_dir = os.path.join(tempfile.mkdtemp(), "bloom_words")
    corpus_dir = os.path.join(tempfile.mkdtemp(), "corpus")
    KW = dict(num_bits=1 << 16, num_hashes=5)

    def ingest(batch_df, _epoch):
        s = batch_df.sparkSession
        if os.path.isdir(index_dir):
            index = s.read.parquet(index_dir)
            bloom = s.read.parquet(bloom_dir)
        else:
            index = s.createDataFrame([], "text_sha string")
            bloom = bloom_word_table(index, **KW)
        # build-time sizing passed as literals: the whole tick is pure
        # plan transforms — zero 1-row first() metadata driver actions
        sizing = (KW["num_bits"], KW["num_hashes"])
        admitted = incremental_exact_dedup(
            batch_df, index, bloom=bloom, bloom_sizing=sizing
        ).localCheckpoint()
        admitted.write.mode("append").parquet(corpus_dir)
        admitted.select("text_sha").write.mode("append").parquet(index_dir)
        merged = bloom_merge(
            bloom, bloom_word_table(admitted.select("text_sha"), **KW), sizing=sizing
        ).localCheckpoint()  # materialize BEFORE overwriting its own input dir
        merged.write.mode("overwrite").parquet(bloom_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert len(kept) == 4
    assert {11, 15} <= kept
    assert len({10, 12} & kept) == 1
    assert len({13, 14} & kept) == 1
    # the persisted filter equals a from-scratch build over the final index
    final = {
        r._word: r._bits
        for r in spark.read.parquet(bloom_dir).select("_word", "_bits").collect()
    }
    direct = {
        r._word: r._bits
        for r in bloom_word_table(spark.read.parquet(index_dir).distinct(), **KW)
        .select("_word", "_bits")
        .collect()
    }
    assert final == direct


def test_streaming_sketch_maintenance_across_ticks(spark):
    """[EXT] The maintained-analytics loop on a stream: each micro-batch
    folds its exact term counts into the durable CMS + candidate set
    (maintained_topk), merges its HLL distinct sketch and KLL length
    sketch into the persisted per-corpus artifacts, and overwrites the
    sketch store — per-tick cost is batch-sized + sketch-sized, never a
    history recount. After the run, the maintained estimates must agree
    with a from-scratch pass over the full stream."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_adsbx_spark.operators.agg import (
        cms_probe,
        maintained_topk,
        merge_distinct_sketches,
        merge_quantile_sketches,
        quantile_sketch,
        distinct_sketch,
        sketch_estimate,
        sketch_quantiles,
    )

    batches = [
        ["alpha beta alpha", "gamma beta alpha"],
        ["alpha delta", "beta beta epsilon alpha"],
        ["zeta alpha beta", "alpha eta theta"],
    ]
    src = tempfile.mkdtemp()
    docid = 0
    for i, batch in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for t in batch:
                f.write(json.dumps({"doc_id": docid, "text": t}) + "\n")
                docid += 1
    store = tempfile.mkdtemp()
    cms_dir = os.path.join(store, "cms")
    cand_dir = os.path.join(store, "cand")
    hll_dir = os.path.join(store, "hll")
    kll_dir = os.path.join(store, "kll")

    def ingest(batch_df, _epoch):
        s = batch_df.sparkSession
        terms = batch_df.select(F.explode(F.split("text", " ")).alias("term"))
        tick_counts = terms.groupBy("term").agg(F.count("*").alias("n"))
        cms = s.read.parquet(cms_dir) if os.path.isdir(cms_dir) else None
        cand = s.read.parquet(cand_dir) if os.path.isdir(cand_dir) else None
        _topk, new_cms, new_cand = maintained_topk(
            tick_counts, cms, cand, "term", k=3, candidate_cap=20
        )
        new_cms = new_cms.localCheckpoint()
        new_cand = new_cand.localCheckpoint()
        new_cms.write.mode("overwrite").parquet(cms_dir)
        new_cand.write.mode("overwrite").parquet(cand_dir)

        tick_hll = distinct_sketch(terms, None, "term")
        tick_kll = quantile_sketch(
            batch_df.select(F.length("text").alias("len")), None, "len"
        )
        if os.path.isdir(hll_dir):
            tick_hll = merge_distinct_sketches(s.read.parquet(hll_dir), tick_hll)
            tick_kll = merge_quantile_sketches(
                s.read.parquet(kll_dir), tick_kll, sketch_col="qsketch"
            )
        tick_hll.localCheckpoint().write.mode("overwrite").parquet(hll_dir)
        tick_kll.localCheckpoint().write.mode("overwrite").parquet(kll_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_texts = [t for b in batches for t in b]
    truth = {}
    for t in all_texts:
        for w in t.split():
            truth[w] = truth.get(w, 0) + 1

    # CMS estimates: one-sided, and exact here (tiny stream, wide sketch)
    cms = spark.read.parquet(cms_dir)
    keys = spark.createDataFrame([(w,) for w in truth], "term string")
    est = {r["term"]: r["est_n"] for r in cms_probe(keys, cms, "term").collect()}
    assert est == truth
    # the maintained candidate set retained every term at this size
    cand = {r["term"] for r in spark.read.parquet(cand_dir).collect()}
    assert cand == set(truth)
    # HLL distinct terms within 5%
    n_est = sketch_estimate(spark.read.parquet(hll_dir)).first()["n_distinct"]
    assert abs(n_est - len(truth)) <= max(1, 0.05 * len(truth))
    # KLL median of text lengths matches the exact median (6 values)
    med = sketch_quantiles(spark.read.parquet(kll_dir), [0.5]).first()["q_0_5"]
    lens = sorted(len(t) for t in all_texts)
    assert med in lens  # a KLL quantile is always an observed value
    assert abs(med - lens[len(lens) // 2]) <= 4


def test_incremental_sessionize_three_tick_parity(spark):
    """A 3-tick time split of the events fixture, sessionized incrementally
    with cross-tick state, must equal ONE batch sessionize pass — a session
    spanning two ticks keeps one session_idx, and a gap elapsing between
    ticks opens a new one (round-6 verdict #4: the R29 micro-batch model
    generalized to the session surface)."""
    from etl_adsbx_spark.operators.events import sessionize
    from etl_adsbx_spark.streaming.sessionize import IncrementalSessionizer
    from etl_adsbx_spark.tables import load_table

    from .conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "ts_ns", "event_id"
    )
    lo, hi = ev.agg(F.min("ts_ns"), F.max("ts_ns")).first()
    c1, c2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    ticks = [
        ev.where(F.col("ts_ns") <= c1),
        ev.where((F.col("ts_ns") > c1) & (F.col("ts_ns") <= c2)),
        ev.where(F.col("ts_ns") > c2),
    ]
    gap = 30 * 60 * 10**9
    inc = IncrementalSessionizer(key="user_id", ts_col="ts_ns", gap=gap)
    got = {}
    for t in ticks:
        for r in inc.process(t).collect():
            got[(r["user_id"], r["event_id"])] = r["session_idx"]
    want = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessionize(ev, gap=gap).collect()
    }
    assert got == want
    # the split is non-trivial: some entity must actually span ticks
    n_by_tick = [t.select("user_id").distinct() for t in ticks]
    assert n_by_tick[0].intersect(n_by_tick[1]).count() > 0


def test_incremental_sessionize_span_and_gap_cases(spark):
    """Deterministic micro-fixture through the real foreachBatch runner:
    one session spanning ticks 1-2 (single idx) and a cross-tick gap
    opening session 2."""
    import json
    import os

    from etl_adsbx_spark.streaming.sessionize import IncrementalSessionizer
    from etl_adsbx_spark.streaming.windows import run_micro_batches

    gap = 100
    batches = [
        [{"user_id": "u1", "ts_ns": 0, "event_id": "a"},
         {"user_id": "u1", "ts_ns": 50, "event_id": "b"},
         {"user_id": "u2", "ts_ns": 0, "event_id": "c"}],
        [{"user_id": "u1", "ts_ns": 120, "event_id": "d"},   # within gap of b → same session
         {"user_id": "u2", "ts_ns": 500, "event_id": "e"}],  # gap elapsed → session 2
        [{"user_id": "u1", "ts_ns": 1000, "event_id": "f"}], # gap elapsed → session 2
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        p = os.path.join(d, f"b{i}.json")
        with open(p, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
        # the file source orders micro-batches by mtime; make it unambiguous
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("user_id string, ts_ns long, event_id string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    inc = IncrementalSessionizer(key="user_id", ts_col="ts_ns", gap=gap)
    out = {}

    def sink(df, batch_id):
        for r in df.collect():
            out[r["event_id"]] = (r["user_id"], r["session_idx"])

    q = run_micro_batches(
        src, inc.foreach_batch_fn(sink), tempfile.mkdtemp(), trigger_once=True
    )
    q.awaitTermination(120)
    assert out == {
        "a": ("u1", 1), "b": ("u1", 1), "d": ("u1", 1), "f": ("u1", 2),
        "c": ("u2", 1), "e": ("u2", 2),
    }
    st = {r["key"]: (r["last_ts"], r["n_sessions"]) for r in inc.state.collect()}
    assert st == {"u1": (1000, 2), "u2": (500, 2)}


def test_stateful_sessionize_emits_closed_sessions_once(spark):
    """applyInPandasWithState sessionization with event-time timers: a
    session closes exactly once — by a later over-gap event of the same
    entity, or by the watermark passing last_event + gap (the timeout
    path, which seeded foreachBatch state cannot express). Entities whose
    deadline the watermark has not reached stay open (not emitted)."""
    import json
    import os

    from etl_adsbx_spark.streaming.sessionize import stateful_sessionize

    batches = [
        [{"user_id": "u1", "ts": "2026-01-15 12:00:00"},
         {"user_id": "u1", "ts": "2026-01-15 12:00:30"},
         {"user_id": "u2", "ts": "2026-01-15 12:00:00"}],
        # u1 within gap (same session); u2 over gap (closes session 1)
        [{"user_id": "u1", "ts": "2026-01-15 12:01:00"},
         {"user_id": "u2", "ts": "2026-01-15 12:05:00"}],
        # sentinel advances the watermark far past every deadline
        [{"user_id": "zz", "ts": "2026-01-15 13:00:00"}],
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        p = os.path.join(d, f"b{i}.json")
        with open(p, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = stateful_sessionize(src, gap_seconds=60, watermark="0 seconds")
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_idx"]): (
            r["session_start"].strftime("%H:%M:%S"),
            r["session_end"].strftime("%H:%M:%S"),
            r["n_events"],
        )
        for r in rows
    }
    assert got == {
        ("u2", 1): ("12:00:00", "12:00:00", 1),   # closed by the over-gap event
        ("u1", 1): ("12:00:00", "12:01:00", 3),   # closed by the event-time timer
        ("u2", 2): ("12:05:00", "12:05:00", 1),   # closed by the event-time timer
        # zz stays open: its deadline (13:01) is past the final watermark
    }
    assert len(rows) == len(got)  # exactly-once per closed session


def test_stateful_sessionize_late_event_extends_session_start(spark):
    """A late-but-within-watermark event that PRECEDES the open session's
    start must extend session_start backwards (and count in n_events) —
    regression for the fold that kept start_ms pinned to the first-seen
    event."""
    import json
    import os

    from etl_adsbx_spark.streaming.sessionize import stateful_sessionize

    batches = [
        [{"user_id": "u1", "ts": "2026-01-15 12:05:00"}],
        # late arrival: 30s EARLIER than the session's current start,
        # inside the 10-minute watermark allowance
        [{"user_id": "u1", "ts": "2026-01-15 12:04:30"}],
        # sentinel advances the watermark past u1's deadline (12:06)
        [{"user_id": "zz", "ts": "2026-01-15 14:00:00"}],
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        p = os.path.join(d, f"b{i}.json")
        with open(p, "w") as f:
            for r in batch:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = stateful_sessionize(src, gap_seconds=60, watermark="10 minutes")
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_idx"]): (
            r["session_start"].strftime("%H:%M:%S"),
            r["session_end"].strftime("%H:%M:%S"),
            r["n_events"],
        )
        for r in rows
    }
    assert got == {("u1", 1): ("12:04:30", "12:05:00", 2)}


def _tree_digest(root):
    import hashlib
    import os

    h = hashlib.md5()
    for r, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(r, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.md5(fh.read()).digest())
    return h.hexdigest()


def test_marker_commit_sink_is_rename_free_and_torn_write_safe(spark, monkeypatch):
    """The object-store-safe marker protocol: S3-class stores have no
    atomic directory rename, so the commit record is a single
    _COMMITTED.<id> marker PUT after the data lands. This suite runs the
    sink against a RENAME-LESS filesystem shim — os.rename/os.replace/
    shutil.move raise — and checks the three failure shapes:

    - replay of a committed batch is a byte-identical no-op;
    - a TORN first attempt (data prefix, no marker) is invisible to
      readers, then cleaned object-by-object and rewritten on retry;
    - a marker whose manifest names a short/missing object fails the
      read loudly instead of serving a partial batch."""
    import json
    import os
    import shutil

    from etl_adsbx_spark.sinks import exactly_once_batch_sink, read_committed_batches

    root = tempfile.mkdtemp() + "/corpus"
    sink = exactly_once_batch_sink(root)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    b1 = spark.createDataFrame([(3, "c")], "id bigint, v string")

    def no_rename(*a, **k):
        raise AssertionError("marker protocol must never rename")

    # Spark's own JVM task committer renames inside the batch write (pair
    # with a zero-rename committer on a real store); the PROTOCOL layer
    # under test is the Python one — shim it after the data write by
    # wrapping the sink's commit steps: patch during the replay + torn
    # paths, where no fresh Spark write happens before the marker logic.
    sink(b0, 0)
    sink(b1, 1)
    before = _tree_digest(root)
    monkeypatch.setattr(os, "rename", no_rename)
    monkeypatch.setattr(os, "replace", no_rename)
    monkeypatch.setattr(shutil, "move", no_rename)
    sink(b0, 0)  # replay: marker exists → pure no-op, rename-free
    sink(b1, 1)
    assert _tree_digest(root) == before
    got = {
        (r["id"], r["v"], r["batch"])
        for r in read_committed_batches(spark, root).collect()
    }
    assert got == {(1, "a", 0), (2, "b", 0), (3, "c", 1)}
    monkeypatch.undo()

    # torn write: batch dir exists (junk), marker absent → invisible,
    # then cleaned + rewritten on the retry, and the marker appears
    torn = os.path.join(root, "batch=2")
    os.makedirs(os.path.join(torn, "half=x"))
    with open(os.path.join(torn, "half=x", "part-junk.parquet"), "w") as f:
        f.write("torn write")
    assert read_committed_batches(spark, root).count() == 3
    sink(spark.createDataFrame([(4, "d")], "id bigint, v string"), 2)
    assert os.path.exists(os.path.join(root, "_COMMITTED.2"))
    assert not os.path.exists(os.path.join(torn, "half=x"))
    assert read_committed_batches(spark, root).count() == 4

    # TORN MARKER (crash between O_EXCL create and the write): must read
    # as UNCOMMITTED — readers skip it, the replay heals it
    b3 = spark.createDataFrame([(5, "e")], "id bigint, v string")
    sink(b3, 3)
    with open(os.path.join(root, "_COMMITTED.4"), "w"):
        pass  # empty marker, no batch=4 data
    assert read_committed_batches(spark, root).count() == 5
    sink(spark.createDataFrame([(6, "f")], "id bigint, v string"), 4)
    marker4 = json.load(open(os.path.join(root, "_COMMITTED.4")))
    assert marker4["n_files"] >= 1  # healed: real marker after the rewrite
    assert read_committed_batches(spark, root).count() == 6

    # corruption: shorten a committed object → the manifest check trips
    marker = json.load(open(os.path.join(root, "_COMMITTED.2")))
    rel = next(iter(marker["files"]))
    victim = os.path.join(
        root, "batch=2", f"attempt={marker['attempt']}", rel
    )
    with open(victim, "wb") as f:
        f.write(b"short")
    with pytest.raises(ValueError, match="short object"):
        read_committed_batches(spark, root).count()


def test_marker_commit_race_and_read_mode_guards(spark, monkeypatch):
    """The concurrent-replay race and the read-side guards:

    - losing the O_EXCL marker PUT (a rival attempt committed between
      this attempt's data write and its PUT) must NOT crash: the loser
      re-validates the rival's marker, garbage-collects its own
      attempt-unique prefix, and returns — readers resolve the rival's
      attempt through the marker;
    - verify="hash" re-hashes every object against the manifest sha256
      and trips on a same-size bitflip that the size check passes;
    - the marker protocol is the only one: any other ``commit`` raises,
      as does an unknown ``verify`` level."""
    import json
    import os

    from etl_adsbx_spark.sinks import exactly_once_batch_sink, read_committed_batches

    root = tempfile.mkdtemp() + "/corpus"
    sink = exactly_once_batch_sink(root)
    sink(spark.createDataFrame([(1, "a")], "id bigint, v string"), 0)

    # --- lost race: a rival's valid marker lands between this attempt's
    # top-of-function check and its PUT. Intercept the PUT to plant it.
    marker1 = os.path.join(root, "_COMMITTED.1")
    rival = json.load(open(os.path.join(root, "_COMMITTED.0")))
    real_open = os.open

    def racing_open(p, flags, *a, **k):
        if p == marker1 and flags & os.O_EXCL:
            body = dict(rival, batch_id=1)
            with open(marker1, "w") as fh:  # the rival's PUT wins first
                json.dump(body, fh)
        return real_open(p, flags, *a, **k)

    monkeypatch.setattr(os, "open", racing_open)
    # loser must return cleanly (no FileExistsError escape)...
    sink(spark.createDataFrame([(9, "z")], "id bigint, v string"), 1)
    monkeypatch.undo()
    # ...leave the rival's marker untouched...
    assert json.load(open(marker1))["attempt"] == rival["attempt"]
    # ...and GC its own attempt prefix (the rival's marker references a
    # different attempt token, so nothing else may linger under batch=1)
    leftovers = os.listdir(os.path.join(root, "batch=1"))
    assert leftovers in ([], [f"attempt={rival['attempt']}"]), leftovers

    # --- option guards, then a fresh corpus with real committed data
    with pytest.raises(ValueError, match="commit protocol"):
        exactly_once_batch_sink(root, commit="posix")
    root2 = tempfile.mkdtemp() + "/corpus"
    sink2 = exactly_once_batch_sink(root2)
    sink2(spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string"), 0)
    with pytest.raises(ValueError, match="verify level"):
        read_committed_batches(spark, root2, verify="none")
    assert read_committed_batches(spark, root2, verify="hash").count() == 2

    # --- same-size bitflip: size check passes, hash check trips
    meta = json.load(open(os.path.join(root2, "_COMMITTED.0")))
    rel = next(iter(meta["files"]))
    victim = os.path.join(root2, "batch=0", f"attempt={meta['attempt']}", rel)
    blob = bytearray(open(victim, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    with open(victim, "wb") as f:
        f.write(bytes(blob))
    with pytest.raises(ValueError, match="sha256"):
        read_committed_batches(spark, root2, verify="hash").count()


def test_exactly_once_sink_through_real_stream_restart(spark):
    """End-to-end: run a file stream through foreachBatch(exactly-once
    sink) with a checkpoint, stop, add a file, restart from the SAME
    checkpoint — every committed batch appears exactly once even though
    restart semantics allow the engine to re-offer the last batch: one
    ``_COMMITTED.<id>`` marker per batch, no attempt prefix that a marker
    does not name, and every committed object passes its sha256."""
    import json
    import os

    from etl_adsbx_spark.sinks import exactly_once_batch_sink, read_committed_batches

    src_dir = tempfile.mkdtemp()
    root = tempfile.mkdtemp() + "/corpus"
    ckpt = tempfile.mkdtemp()

    def add_file(i, rows):
        p = os.path.join(src_dir, f"f{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def run_once():
        src = (
            spark.readStream.schema("id bigint, v string")
            .option("maxFilesPerTrigger", 1)
            .json(src_dir)
        )
        q = (
            src.writeStream.foreachBatch(exactly_once_batch_sink(root))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    add_file(0, [{"id": 1, "v": "a"}])
    add_file(1, [{"id": 2, "v": "b"}])
    run_once()
    add_file(2, [{"id": 3, "v": "c"}])
    run_once()  # restart from the same checkpoint
    rows = [
        (r["id"], r["v"], r["batch"])
        for r in read_committed_batches(spark, root, verify="hash").collect()
    ]
    assert sorted(rows) == [(1, "a", 0), (2, "b", 1), (3, "c", 2)]  # no duplicates
    entries = sorted(os.listdir(root))
    assert entries == [
        "_COMMITTED.0", "_COMMITTED.1", "_COMMITTED.2", "batch=0", "batch=1", "batch=2",
    ], entries
    for b in range(3):
        with open(os.path.join(root, f"_COMMITTED.{b}")) as fh:
            meta = json.load(fh)
        assert meta["batch_id"] == b
        assert os.listdir(os.path.join(root, f"batch={b}")) == [
            f"attempt={meta['attempt']}"
        ]


def test_flagship_stream_sessions_parity_with_batch(spark):
    """The flagship true-streaming leg (plans.flagship
    flagship_stream_sessions): per-aircraft contact sessions over a
    multi-tick observation stream must equal a pure-Python batch
    sessionization of the same observations, for every session whose
    close is provable under the final watermark. Ticks split
    mid-session to force cross-batch state, and one observation arrives
    late (earlier event time in a later tick)."""
    import json
    import os

    from etl_adsbx_spark.plans.flagship import flagship_stream_sessions

    def t(m, s=0):  # minutes/seconds past 12:00
        return f"2026-01-15 12:{m:02d}:{s:02d}"

    batches = [
        [("ae0001", t(0)), ("ae0001", t(2)), ("ae0002", t(1))],
        # ae0001 continues (cross-batch same session); ae0002 over-gap
        # (closes session 1); ae0001 gets a LATE observation at 12:01
        [("ae0001", t(4)), ("ae0001", t(1)), ("ae0002", t(20))],
        # over-gap observations close both; sentinel drives the watermark
        [("ae0001", t(30)), ("zz9999", t(59))],
    ]
    d = tempfile.mkdtemp()
    for i, batch in enumerate(batches):
        p = os.path.join(d, f"b{i}.json")
        with open(p, "w") as f:
            for hexid, ts in batch:
                f.write(json.dumps({"hex": hexid, "obs_ts": ts}) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema("hex string, obs_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = flagship_stream_sessions(src, gap_seconds=300, watermark="10 minutes")
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["hex"], r["session_idx"]): (
            r["session_start"].strftime("%H:%M:%S"),
            r["session_end"].strftime("%H:%M:%S"),
            r["n_events"],
        )
        for r in rows
    }
    # batch reference: sort all observations per hex, split on gap>300s
    import datetime as dt

    all_obs: dict[str, list] = {}
    for batch in batches:
        for hexid, ts in batch:
            all_obs.setdefault(hexid, []).append(
                dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
            )
    final_wm = max(x for v in all_obs.values() for x in v) - dt.timedelta(minutes=10)
    expected = {}
    for hexid, obs in all_obs.items():
        obs.sort()
        sessions, cur = [], [obs[0]]
        for x in obs[1:]:
            if (x - cur[-1]).total_seconds() > 300:
                sessions.append(cur)
                cur = [x]
            else:
                cur.append(x)
        sessions.append(cur)
        for i, s in enumerate(sessions, 1):
            if s[-1] + dt.timedelta(seconds=300) <= final_wm or i < len(sessions):
                expected[(hexid, i)] = (
                    s[0].strftime("%H:%M:%S"),
                    s[-1].strftime("%H:%M:%S"),
                    len(s),
                )
    assert got == expected
    # the late 12:01 observation folded into ae0001's first session
    assert got[("ae0001", 1)] == ("12:00:00", "12:04:00", 4)
