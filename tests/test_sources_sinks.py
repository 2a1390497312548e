"""Schema-validated ingestion (R4: FAILFAST vs PERMISSIVE quarantine),
the schema introspection endpoint (R30), HTTP micro-batch source with
injected fetch, FeatureCollection sink."""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import StructType

from etl_adsbx_spark.fixtures import includes_df
from etl_adsbx_spark.pipeline import control, to_features
from etl_adsbx_spark.schemas import (
    ADSB_SCHEMA,
    ENVELOPE_SCHEMA,
    FEATURE_SCHEMA,
    INCLUDES_SCHEMA,
    schema_registry,
)
from etl_adsbx_spark.sinks import submit
from etl_adsbx_spark.sources.files import parse_envelope, quarantine
from etl_adsbx_spark.sources.http import build_url, fetch_batch

GOOD = json.dumps(
    {
        "msg": "No error",
        "ac": [
            {"hex": "ae1", "type": "adsb_icao", "flight": "UAL1", "r": "N1",
             "lat": 39.0, "lon": -104.0, "seen_pos": 1.0, "seen": 0.5},
            {"hex": "ae2", "type": "adsb_icao", "r": "N2",
             "lat": 40.0, "lon": -105.0, "seen_pos": 1.0, "seen": 0.5},
        ],
    }
)
BAD = '{"msg": "broken", "ac": "not-an-array"}'


def test_parse_envelope_strict(spark):
    raw = spark.createDataFrame([(GOOD,)], "value string")
    rows = parse_envelope(raw, strict=True).collect()
    assert [r["_idx"] for r in rows] == [0, 1]   # ingestion order preserved
    assert rows[0]["r"] == "N1" and rows[1]["hex"] == "ae2"


@pytest.mark.parametrize("body", [
    GOOD[: len(GOOD) // 2], "not json", "[]", '{"ac":"nope"}', "", "  ",
], ids=["truncated", "not-json", "array", "ac-not-array", "empty", "blank"])
def test_parse_envelope_failfast_aborts(spark, body):
    """A malformed body aborts the tick no later than its first action,
    ``submit``'s collect (R4, FAILFAST). FAILFAST reads an empty or blank
    body as a null envelope with no rows, so ``fetch_batch`` rejects
    those itself."""
    def post(_doc):
        pytest.fail("posted a FeatureCollection for a malformed body")

    with pytest.raises(Exception):
        aircraft = fetch_batch(spark, "x", fetch_fn=lambda _url, _token: body)
        submit(to_features(control(aircraft, includes_df(spark))), post)


def test_permissive_quarantine(spark):
    raw = spark.createDataFrame([(GOOD,), (BAD,)], "value string")
    bad = quarantine(raw).collect()
    assert len(bad) == 1 and "broken" in bad[0]["raw"]


def test_schema_registry_mirrors_reference_schema():
    """R30: the reference ``schema()`` (task.ts:100-113) answers five
    (type, flow) pairs — the validated envelope and its rows in, the
    includes config, the features out — and the job has no outgoing
    flow, so ``output:outgoing`` is the empty schema. Every entry
    round-trips through ``StructType.json()``."""
    reg = schema_registry()
    assert reg == {
        "input:incoming": ENVELOPE_SCHEMA,
        "input:rows": ADSB_SCHEMA,
        "config:includes": INCLUDES_SCHEMA,
        "output:incoming": FEATURE_SCHEMA,
        "output:outgoing": StructType([]),
    }
    for schema in reg.values():
        assert StructType.fromJson(json.loads(schema.json())) == schema


def test_http_fetch_batch_with_injected_fetch(spark):
    url = build_url("https://example.invalid", 39.0, -104.0, 250.0)
    assert "/v2/lat/39.0/lon/-104.0/dist/250.0/" in url  # geo pushdown (R2)
    assert "cacheBuster=" in url                         # task.ts:122

    df = fetch_batch(spark, url, token="t", fetch_fn=lambda u, tok: GOOD)
    assert df.count() == 2


@pytest.mark.parametrize("base", [
    "https://adsbexchange-com1.p.rapidapi.com",   # ADSBX_API enum variant 1
    "https://adsbexchange.com/api/aircraft",       # variant 2 = default
])
def test_http_url_and_auth_fidelity(base):
    """URL + auth shape per ADSBX_API variant (task.ts:15-21,115-129):
    ``{base}/v2/lat/../lon/../dist/../`` with apiKey THEN cacheBuster
    query params, and BOTH auth headers carrying the same token."""
    from etl_adsbx_spark.sources.http import (
        ADSBX_API_VARIANTS,
        auth_headers,
    )

    assert base in ADSBX_API_VARIANTS
    url = build_url(base, 40.14401, -119.81204, 2650.0, token="tok",
                    cache_buster_ms=1234567890123)
    assert url == (
        f"{base}/v2/lat/40.14401/lon/-119.81204/dist/2650.0/"
        "?apiKey=tok&cacheBuster=1234567890123"
    )
    assert auth_headers("tok") == {
        "x-rapidapi-key": "tok",   # rapidapi variant auth (task.ts:125)
        "api-auth": "tok",         # direct-API auth (task.ts:126)
    }


def test_feature_collection_sink(spark):
    from etl_adsbx_spark.fixtures import BATCH_TIME, aircraft_df, includes_df
    from etl_adsbx_spark.pipeline import control, to_features

    feats = to_features(
        control(aircraft_df(spark), includes_df(spark), batch_time=BATCH_TIME)
    )
    posts = []
    n = submit(feats, posts.append)
    assert n == 3 and len(posts) == 1
    doc = json.loads(posts[0])
    assert doc["type"] == "FeatureCollection"
    assert {f["id"] for f in doc["features"]} == {"n100aa", "n200hh", "n300ll"}


def test_write_corpus_partitioned_file_budget(spark, tmp_path):
    """Hive layout by (lang, source); per-hive-partition file count stays
    within the slot budget regardless of task count; content survives."""
    import glob

    from etl_adsbx_spark.sinks import write_corpus
    from etl_adsbx_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=["lang", "source"],
                 sort_by=["doc_id"], files_per_partition=2, salt_col="doc_id")

    part_dirs = glob.glob(out + "/lang=*/source=*")
    assert part_dirs, "no hive partition directories written"
    for d in part_dirs:
        n = len(glob.glob(d + "/*.parquet"))
        assert 1 <= n <= 2, f"{d} has {n} files (budget 2)"

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_write_corpus_sorted_within_files(spark, tmp_path):
    """sort_by clusters rows inside each file (row-group stats prune)."""
    import glob

    from etl_adsbx_spark.sinks import write_corpus
    from etl_adsbx_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "sorted")
    write_corpus(docs, out, partition_by=["lang"], sort_by=["doc_id"])
    for f in glob.glob(out + "/lang=*/*.parquet"):
        ids = [r.doc_id for r in spark.read.parquet(f).select("doc_id").collect()]
        assert ids == sorted(ids), f"{f} not sorted"


def test_compact_parquet_reduces_files(spark, tmp_path):
    from etl_adsbx_spark.sinks import compact_parquet
    from etl_adsbx_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    frag = str(tmp_path / "frag")
    docs.repartition(16).write.parquet(frag)  # simulate micro-batch litter
    import glob

    assert len(glob.glob(frag + "/*.parquet")) == 16
    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, dst)
    got = glob.glob(dst + "/*.parquet")
    assert len(got) == n == 1  # tiny corpus -> single target file
    assert spark.read.parquet(dst).count() == docs.count()


def test_reconcile_schema_across_generations(spark, tmp_path):
    """Two writer generations of a corpus (gen2 adds columns, narrows an
    int); one mergeSchema read + reconcile yields the contract schema for
    every row, with typed NULLs where the old generation had no column."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_adsbx_spark.sources.files import reconcile_schema

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "first gen doc")], "doc_id long, text string"
    ).write.parquet(path + "/g=1")
    spark.createDataFrame(
        [(2, "second gen doc", "en", 14)],
        "doc_id long, text string, lang string, n_chars int",
    ).write.parquet(path + "/g=2")

    target = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    out = reconcile_schema(merged, target)
    assert [f.name for f in out.schema.fields] == ["doc_id", "text", "lang", "n_chars"]
    assert dict(out.dtypes) == {
        "doc_id": "bigint", "text": "string", "lang": "string", "n_chars": "bigint",
    }
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].lang is None and rows[1].n_chars is None
    assert rows[2].lang == "en" and rows[2].n_chars == 14

    # a generation with a column the contract does not know
    g3 = spark.createDataFrame(
        [(3, "third", "experimental")], "doc_id long, text string, scratch string"
    )
    dropped = reconcile_schema(g3, target)
    assert "scratch" not in dropped.columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="scratch"):
        reconcile_schema(g3, target, on_extra="error")


def _csv_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("score", DoubleType()),
        ]
    )


def test_read_csv_validated_strict_and_tsv(spark, tmp_path):
    from etl_adsbx_spark.sources.files import read_csv_validated

    p = tmp_path / "docs.tsv"
    p.write_text("doc_id\ttext\tscore\n1\thello world\t0.5\n2\tbye\t0.25\n")
    df = read_csv_validated(spark, str(p), _csv_schema(), sep="\t")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["text"] == "hello world" and rows[2]["score"] == 0.25
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "double",
    ]


def test_read_csv_validated_failfast_aborts(spark, tmp_path):
    from etl_adsbx_spark.sources.files import read_csv_validated

    p = tmp_path / "bad.csv"
    p.write_text("doc_id,text,score\n1,ok,0.5\nnot-a-number,broken,xyz\n")
    with pytest.raises(Exception):
        read_csv_validated(spark, str(p), _csv_schema()).collect()


def test_read_csv_validated_permissive_quarantine(spark, tmp_path):
    from etl_adsbx_spark.sources.files import csv_quarantine, read_csv_validated

    p = tmp_path / "mixed.csv"
    p.write_text("doc_id,text,score\n1,ok,0.5\nnope,broken,xyz\n2,fine,1.0\n")
    parsed = read_csv_validated(spark, str(p), _csv_schema(), strict=False)
    valid, bad = csv_quarantine(parsed)
    assert {r["doc_id"] for r in valid.collect()} == {1, 2}
    assert valid.columns == ["doc_id", "text", "score"]
    raws = [r["raw"] for r in bad.collect()]
    assert raws == ["nope,broken,xyz"]


def test_csv_quarantine_requires_permissive_read(spark, tmp_path):
    from etl_adsbx_spark.sources.files import csv_quarantine, read_csv_validated

    p = tmp_path / "ok.csv"
    p.write_text("doc_id,text,score\n1,ok,0.5\n")
    strict_df = read_csv_validated(spark, str(p), _csv_schema())
    with pytest.raises(ValueError, match="strict=False"):
        csv_quarantine(strict_df)


def test_parse_csv_lines_matches_file_read(spark):
    from etl_adsbx_spark.sources.files import parse_csv_lines

    lines = spark.createDataFrame(
        [("1,hello,0.5",), ("2,bye,0.25",)], "value string"
    )
    out = parse_csv_lines(lines, _csv_schema())
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["text"] == "hello" and rows[2]["score"] == 0.25
    # PERMISSIVE line parsing nulls the typed fields of a broken line
    broken = spark.createDataFrame([("x,y,z",)], "value string")
    row = parse_csv_lines(broken, _csv_schema(), strict=False).first()
    assert row["doc_id"] is None and row["score"] is None


def test_write_corpus_orc_roundtrip_and_pruning(spark, tmp_path):
    """ORC corpus output: identical rows to the parquet path, hive
    partition pruning intact, and ORC predicate pushdown visible in the
    scan plan (PushedFilters) — the Hive-ecosystem publish format."""
    from pyspark.sql import functions as F

    from etl_adsbx_spark.sinks import write_corpus

    from .conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    porc, ppq = str(tmp_path / "orc"), str(tmp_path / "pq")
    write_corpus(docs, porc, partition_by=["lang"], sort_by=["doc_id"],
                 file_format="orc")
    write_corpus(docs, ppq, partition_by=["lang"], sort_by=["doc_id"])
    back_orc = spark.read.orc(porc)
    back_pq = spark.read.parquet(ppq)
    cols = sorted(docs.columns)
    assert sorted(map(tuple, back_orc.select(*cols).collect())) == sorted(
        map(tuple, back_pq.select(*cols).collect())
    )
    # partition pruning: a lang filter scans only that hive directory
    one_lang = back_orc.select("lang").limit(1).collect()[0]["lang"]
    plan = (
        back_orc.filter(F.col("lang") == one_lang)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    # predicate pushdown reaches the ORC scan
    plan2 = (
        back_orc.filter(F.col("doc_id") < 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan2


def test_write_corpus_rejects_unknown_format(spark, tmp_path):
    import pytest as _pytest

    from etl_adsbx_spark.sinks import write_corpus

    from .conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    with _pytest.raises(ValueError, match="file_format"):
        write_corpus(docs, str(tmp_path / "x"), partition_by=["lang"],
                     file_format="avro")
