"""Keyed dedup operators.

The reference has two distinct dedup semantics (SURVEY.md R21/R25):

- *last-write-wins* within a batch: `ids.set(id, feat)` overwrites, so the
  last row per key in ingestion order survives (task.ts:136, 187);
- *first-wins* at output: a `Set` guard keeps the first occurrence
  (task.ts:215, 235-238, 244-247). After last-wins the ids are already
  unique, so the guard never drops a row; what it fixes is each id's
  output position, which ``last_wins(first_as=...)`` and the includes
  join emit as a column (pipeline.py) — no second dedup.

Spark has no row order, so last-wins takes an explicit ``order_col``
(ingestion index, timestamp, …). Implementation is a single hash
aggregation with ``max_by`` — one shuffle on the key, map-side partial
aggregation, no window sort. That is the scalable form: at 100 TB a window +
``row_number`` would sort every partition; ``max_by`` keeps one struct per
key per partition before the shuffle.

Text-corpus dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard) lives
here too — the LLM-pipeline [EXT] operators over ``documents``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..planprobe import pin, probe_step

from ..functions.text import tokens as _text_tokens


def last_wins(df: DataFrame, keys: list[str] | str, order_col: str | Column,
              first_as: str | None = None) -> DataFrame:
    """Keep the row with the greatest ``order_col`` per key — Map-upsert
    semantics (task.ts:136). Ties: max_by picks an arbitrary winner, so use
    a total order (e.g. unique ingestion index). ``first_as`` also emits
    the key's least ``order_col`` under that name, in the same
    aggregation: where a Map first inserted the key, which fixes its
    iteration position while later upserts replace its value
    (task.ts:242)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    others = [c for c in df.columns if c not in keys]
    aggs = [F.max_by(F.struct(*others), order).alias("_row")]
    if first_as:
        aggs.append(F.min(order).alias(first_as))
    picked = df.groupBy(*keys).agg(*aggs)
    return picked.select(*keys, "_row.*", *([first_as] if first_as else []))


# ---------------------------------------------------------------------------
# [EXT] Text-corpus dedup (documents table; BASELINE.json north star)
# ---------------------------------------------------------------------------

def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism iff the
    input has fewer partitions. CPU-bound per-row stages (shingling,
    hashing, signature computation) over a small file count would otherwise
    run on as few tasks as there are input splits; the extra exchange ships
    only the raw input rows once and is reused by Spark's ReuseExchange
    when the subplan appears on both sides of a self-join."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: Exploded-stage sizing target: keep each map task's post-explode row
#: count near this bound so its sort/agg buffers fit default executor
#: memory (≈64 MB of 50-100 B shingle rows). The round-8 sf10 probes died
#: in the MAP stage (GCLocker allocation failure at 32 input splits ×
#: ~8M exploded rows each) — a knob no shuffle-partition setting reaches;
#: the fix is sizing the pre-explode repartition from the corpus itself.
EXPLODE_ROWS_PER_TASK = 1_500_000

#: Expected distinct word-shingles (≈ tokens) per document — the measured
#: corpus shape (BASELINE.md round-8: 260M posting rows over 500k sf10
#: docs ≈ 520/doc). A hint, not a contract: a 2× error moves task memory
#: 2×, which the EXPLODE_ROWS_PER_TASK headroom absorbs.
DOC_SHINGLE_FANOUT = 512


def spread_for_explode(df: DataFrame, fanout_hint: int) -> DataFrame:
    """``spread_for_cpu`` for EXPLODE-heavy stages: repartition the input
    so each task's exploded output stays near ``EXPLODE_ROWS_PER_TASK``
    rows, deriving the partition count from an input pre-count. On a bare
    parquet scan the pre-count is metadata-only (COUNT(*) from footer);
    on a DERIVED frame (tfidf_cosine_pairs feeds arbitrary plans in here)
    ``df.count()`` runs the upstream plan as an extra job — callers on
    the hot path should pass a frame that is either a scan or already
    cached, or accept the one extra pass as the price of right-sizing
    the explode. ``fanout_hint`` is the expected output rows per input
    row (e.g. distinct word-shingles per document). Floored at the session's
    default parallelism so small corpora keep every core busy; the
    round-robin exchange is reused by ReuseExchange when the subplan
    feeds both sides of a self-join (the spread_for_cpu property).
    Partition count never affects values — only task memory — so the
    oracle contract is untouched."""
    sc = df.sparkSession.sparkContext
    n_rows = df.count()
    target = max(
        sc.defaultParallelism,
        -(-(n_rows * fanout_hint) // EXPLODE_ROWS_PER_TASK),  # ceil div
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def normalized_text(col: Column | str = "text") -> Column:
    """Canonical text for exact dedup: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: sha256 over normalized text, keep the lowest id per
    hash. Single hash-agg shuffle on a 64-char key — at 100 TB this is the
    cheapest possible dedup (no sort, partial agg map-side)."""
    hashed = df.withColumn("text_sha", F.sha2(normalized_text(text_col), 256))
    return last_wins(hashed, ["text_sha"], F.col(id_col) * -1)


def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """Bit positions for ``key``: ``num_hashes`` independent draws of
    pmod(xxhash64(key, seed_i), num_bits) — the standard seeded-hash
    family, pure codegen expressions."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits)) for i in range(num_hashes)
    ]


def bloom_index(
    df: DataFrame,
    key_col: str = "text_sha",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over ``df[key_col]`` as a ONE-ROW DataFrame
    ``(num_bits, num_hashes, words: map<bigint,bigint>)`` — word w holds
    the OR of bit (pos mod 64) for every pos with pos div 64 = w. Pure
    SQL expressions end to end (explode positions → bit_or per word →
    map_from_entries), so the index is *persistable*: production writes it
    next to the corpus like ``lsh_signature_table`` and each ingest tick
    reads the one-row table instead of re-aggregating the corpus.

    Why: ``incremental_exact_dedup``'s anti-join probes the full DISTINCT
    hash index every tick — a corpus-sized table at 100 TB. The Bloom
    bitmap is the compact summary (1.2 GB at 10^10 keys / 1% FP vs ~640 GB
    of raw sha256 keys): definitely-new batch rows admit MAP-SIDE with no
    join at all; only ``might contain`` rows (true dups + the FP tail) pay
    the exact verify join. False negatives are impossible by construction,
    so admission semantics are exactly the anti-join path's
    (tests/test_incremental_dedup.py pins frame equality).

    Sizing: FP rate ≈ (1 − e^(−kn/m))^k; the 2^20-bit default holds ~10^5
    keys at <1%. The one-row map form is broadcast-bound (~100 MB of map
    entries ≈ 10^8 bits); past that use ``bloom_word_table`` — the same
    bitmap kept as (word, bits) ROWS probed by equi-join, no broadcast
    bound at all. Spark's own runtime bloom join
    (tests/test_scale_techniques.py) covers the *intra-query* case; this
    index is the *cross-tick* one the optimizer cannot maintain for us.
    """
    return bloom_word_table(df, key_col, num_bits, num_hashes).agg(
        F.lit(num_bits).alias("num_bits"),
        F.lit(num_hashes).alias("num_hashes"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("_word", "_bits")))
        ).alias("words"),
    )


def bloom_word_table(
    df: DataFrame,
    key_col: str = "text_sha",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """The DISTRIBUTED form of ``bloom_index``: the bitmap as (word, bits)
    rows — at most num_bits/64 of them, each carrying the sizing as
    literal columns so a persisted table is self-describing. This is the
    scale path past the one-row map's broadcast bound: a 2^34-bit filter
    (10^9 keys at 1% FP) is 268M 16-byte rows ≈ 4 GB spread across the
    cluster, probed with a plain equi-join on the word id
    (``bloom_probe``) — nothing is ever collected or broadcast."""
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), num_bits, num_hashes)))
    return (
        df.select(pos.alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("bigint").alias("_word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (F.col("_pos") % 64).cast("int")
            ).alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
        .select(
            "_word",
            "_bits",
            F.lit(num_bits).alias("num_bits"),
            F.lit(num_hashes).alias("num_hashes"),
        )
    )


def bloom_probe(
    batch: DataFrame, bloom_words: DataFrame, key_col: str = "text_sha",
    out_col: str = "_maybe", sizing: tuple[int, int] | None = None,
) -> DataFrame:
    """Probe a ``bloom_word_table`` with every DISTINCT ``key_col`` of the
    batch and join the verdict back: batch + a boolean ``out_col`` (true =
    possibly in the indexed set; false = definitely new). Fully
    distributed: distinct keys explode to num_hashes (key, word, bit)
    rows, LEFT-join the word table on the word id (a missing word means
    no indexed key ever touched it — definite miss), and ``bool_and`` per
    key folds the hits. At bench scale AQE turns the word join into a
    broadcast on its own; at 10^9-key filters it stays a shuffle
    equi-join — either way the plan shape is declared once here.

    ``sizing``: pass the (num_bits, num_hashes) the filter was built with
    to keep the probe a pure plan transform — without it, the sizing is
    read off the word table's literal columns with a 1-row ``first()``,
    which is metadata-cheap but IS a driver action per call; a per-tick
    ingest loop should capture the build-time literals instead (the
    filter is self-describing either way). With ``sizing``, an EMPTY
    filter needs no special case: every probe word LEFT-joins to nothing
    and ``bool_and`` folds to a definite miss.

    Without ``sizing``, an EMPTY filter (first tick of an ingest, nothing
    indexed yet) has no metadata row to read: every key is definitely new
    by definition, so the verdict is a constant False with no probe."""
    if sizing is not None:
        nb, nh = sizing
    else:
        meta = bloom_words.select("num_bits", "num_hashes").first()
        if meta is None:
            return batch.withColumn(out_col, F.lit(False))
        nb, nh = meta
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), nb, nh)))
    verdicts = (
        batch.select(key_col).distinct()
        .select(key_col, pos.alias("_pos"))
        .select(
            key_col,
            (F.col("_pos") / 64).cast("bigint").alias("_word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (F.col("_pos") % 64).cast("int")
            ).alias("_probe_bit"),
        )
        .join(bloom_words.select("_word", "_bits"), "_word", "left")
        .groupBy(key_col)
        .agg(
            F.bool_and(
                F.col("_bits").isNotNull()
                & (F.col("_bits").bitwiseAND(F.col("_probe_bit")) != 0)
            ).alias(out_col)
        )
    )
    return batch.join(verdicts, key_col)


def bloom_maybe_contains(
    key: Column, words: Column, num_bits: int, num_hashes: int
) -> Column:
    """True iff every hash position of ``key`` is set in the bitmap —
    i.e. the key is *possibly* in the indexed set (false positives at the
    sized rate, never false negatives)."""
    maybe = F.lit(True)
    for p in _bloom_positions(key, num_bits, num_hashes):
        word = F.element_at(words, (p / 64).cast("bigint"))
        bit = F.call_function("shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int"))
        maybe = maybe & word.isNotNull() & (word.bitwiseAND(bit) != 0)
    return maybe


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom: DataFrame | None = None,
    bloom_sizing: tuple[int, int] | None = None,
) -> DataFrame:
    """Admit only the batch documents whose normalized text has never been
    seen: not in the corpus, and first (lowest ``id_col``) within the
    batch. FIRST-SEEN-WINS — a batch doc whose text already exists in the
    corpus is dropped even if its id is lower than the corpus copy's,
    because the corpus copy has already been emitted downstream; this is
    deliberately different from re-running ``exact_dedup`` over
    corpus ∪ batch, which could retroactively prefer the batch copy.

    Scale shape: the corpus collapses to DISTINCT text_sha before the
    anti-join (map-side partial agg on a 64-char key; at a real deployment
    this is a *maintained* hash-index table — pass it as ``corpus`` with a
    ``text_sha`` column already present and the agg is free), then the
    batch left-anti-joins it. The batch is the small side of every
    incremental tick, so the per-tick cost is one scan of the batch plus
    an equi-join shuffle keyed on the hash — never a rescan of the corpus
    text. Returns the admitted batch rows + ``text_sha``.

    ``bloom``: a ``bloom_index`` frame built over the corpus hashes.
    When supplied, batch rows the filter rules out admit map-side with NO
    corpus join (the dominant case — most ingested text is new); only
    might-contain rows (true dups + the sized FP tail) pay the exact
    anti-join verify, and the verify result is what admits them, so the
    output is frame-identical to the plain path — the Bloom filter only
    ever *removes* work, never changes a decision.

    ``bloom_sizing``: the build-time (num_bits, num_hashes). Supplying it
    makes this a pure plan transform; omitting it costs one 1-row
    ``first()`` driver action per call to read the sizing off the filter
    (fine interactively, one extra job per tick in an ingest loop).
    """
    b = batch.withColumn("text_sha", F.sha2(normalized_text(text_col), 256))
    if "text_sha" in corpus.columns:
        seen = corpus.select("text_sha").distinct()
    else:
        seen = corpus.select(
            F.sha2(normalized_text(text_col), 256).alias("text_sha")
        ).distinct()
    if bloom is None:
        fresh = b.join(seen, "text_sha", "left_anti")
    else:
        if "words" in bloom.columns:
            # one-row map form: broadcast the bitmap, probe per-row
            if bloom_sizing is not None:
                nb, nh = bloom_sizing
            else:
                nb, nh = bloom.select("num_bits", "num_hashes").first()
            flagged = b.crossJoin(F.broadcast(bloom.select("words"))).withColumn(
                "_maybe",
                bloom_maybe_contains(F.col("text_sha"), F.col("words"), nb, nh),
            ).drop("words")
        else:
            # word-table form (bloom_word_table): equi-join probe
            flagged = bloom_probe(b, bloom, "text_sha", sizing=bloom_sizing)
        definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
        maybes = flagged.filter(F.col("_maybe")).drop("_maybe")
        fresh = definite_new.unionByName(maybes.join(seen, "text_sha", "left_anti"))
    return last_wins(fresh, ["text_sha"], F.col(id_col) * -1)


def incremental_minhash_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup admission of a new batch against an existing corpus: a
    batch document is admitted iff (a) it shares NO LSH band bucket with
    any corpus document (first-seen-wins, as in
    ``incremental_exact_dedup``) and (b) it is the canonical (lowest-id)
    member of its intra-batch near-dup component — survivors' candidate
    pairs are clustered with ``connected_components`` and one doc per
    component survives, exactly the semantics of the full-corpus
    ``dedup_clusters`` pipeline applied to the batch alone.

    Scale shape: the corpus side reduces to its DISTINCT (band, bucket)
    signature set — the LSH *index*; production maintains it as a bucketed
    table, appending admitted docs' signatures per tick, so each tick
    computes signatures only for the batch and probes with a semi-join
    keyed on the short bucket hash. Batch-sized frames are the only thing
    the CC fixpoint ever sees. Returns the admitted batch rows.
    """
    bsig = band_signatures(batch, id_col, text_col, shingle_n, num_hashes, bands)
    if set(corpus.columns) >= {"band", "bucket"}:
        index = corpus.select("band", "bucket").distinct()
    else:
        index = (
            band_signatures(corpus, id_col, text_col, shingle_n, num_hashes, bands)
            .select("band", "bucket")
            .distinct()
        )
    # One signature pass serves BOTH probes: the corpus-index semi-join and
    # the intra-batch pair join below reuse `bsig` (re-signaturing the
    # survivors from raw text would repeat the shingle+minhash pass — the
    # expensive half of the whole operator).
    bsig = pin("minhash_admit_incremental", "band_signatures", bsig)
    collided = (
        bsig.join(index, ["band", "bucket"], "left_semi").select("_id").distinct()
    )
    surv_sig = bsig.join(collided, "_id", "left_anti")
    pairs = (
        surv_sig.alias("a")
        .join(
            surv_sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .distinct()
    )
    survivors = batch.join(
        collided.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )
    labels = connected_components(pairs, survivors.select(id_col), id_col)
    canonical = labels.where(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return survivors.join(canonical, id_col, "left_semi")


def strip_boilerplate_lines(
    docs: DataFrame,
    min_doc_frac: float = 0.01,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Line-level cross-document dedup (the C4/RefinedWeb boilerplate
    filter): a line whose normalized form appears in at least
    ``max(min_docs, min_doc_frac · n_docs)`` DISTINCT documents is
    boilerplate (nav menus, cookie banners, license footers) and is removed
    from every document. Returns (id_col, text, n_lines_removed) with each
    document's surviving lines re-joined in original order; documents
    reduced to nothing keep an empty text.

    Scale shape: posexplode lines (order survives as the position column) →
    one hash-agg counting distinct docs per normalized-line hash — the ONLY
    corpus-body shuffle except the per-doc reassembly agg. The frequent set
    is joined back by hash; it is small by construction (only lines
    crossing the threshold), so AQE turns that join into a broadcast. The
    reassembly sorts line structs per document with ``array_sort`` inside
    the agg — never a global sort. The doc-count threshold compares against
    a 1-row count subquery folded in as a broadcast crossJoin (the same
    shape tfidf uses for n_docs).
    """
    n_docs_df = docs.select(F.count("*").alias("_n_docs"))
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("_pos", "_line"),
    ).withColumn("_lh", F.md5(F.lower(F.trim(F.col("_line")))))
    freq = (
        lines.groupBy("_lh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(
            F.col("_nd")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.lit(min_doc_frac) * F.col("_n_docs")).cast("bigint"),
            )
        )
        .select("_lh")
    )
    kept = lines.join(freq, "_lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            line_sep,
        ).alias("text"),
        F.count("*").alias("_n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("_n_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text", F.lit("")).alias("text"),
            (F.col("_n_total") - F.coalesce("_n_kept", F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def word_shingles(col: Column | str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> of space-joined n-grams.

    Built-in only: split → transform over index range → slice+concat. No
    Python UDF, so shingling runs inside codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    k = F.size(toks) - F.lit(n - 1)
    # guard k < 1: Spark sequence(1, 0) yields a DESCENDING sequence, not []
    return F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


#: Mersenne prime 2^61-1 — modulus of the universal hash family. With
#: base hashes < 2^32 and multipliers < 2^29, a*h + b < 2^62 stays inside
#: a signed 64-bit integer on both Spark and DuckDB.
MERSENNE61 = (1 << 61) - 1


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multiplier/offset pairs for the universal hash
    family h_s(x) = (a_s·x + b_s) mod (2^61−1). Derived from a fixed LCG so
    Spark and the DuckDB oracle can embed identical literals."""
    params: list[tuple[int, int]] = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = ((x >> 33) & ((1 << 29) - 1)) | 1  # odd, < 2^29
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x % MERSENNE61
        params.append((a, b))
    return params


def minhash_signature(hashes: Column, num_hashes: int = 16) -> Column:
    """MinHash signature over an array of pre-hashed shingles (bigint in
    [0, 2^32), from ``token_hash32``): for each seed, min over the array of
    (a·h + b) mod (2^61−1). Integer-only, so the 16 passes are cheap; the
    single md5 pass lives in the *caller's* projection and is evaluated
    once (passing raw shingles here would inline the md5 transform into
    every seed's expression — 16× the hashing work, SURVEY.md §7
    hard-point 6). Returns array<bigint> of length ``num_hashes``."""
    # NB: capture constants via a closure factory — a default-arg lambda
    # (lambda t, s=s: ...) is seen by PySpark as a 2-arg (elem, index) HOF
    # lambda and silently receives the array index instead of the seed.
    def mixed(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE61)

    sigs = [
        F.array_min(F.transform(hashes, mixed(a, b)))
        for a, b in minhash_params(num_hashes)
    ]
    return F.array(*sigs)


def band_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-document LSH band signatures: shingle → minhash → band hashes.

    Returns (_id, band, bucket) — ``bands`` rows per document. This is the
    shared first half of every MinHash-LSH operator: the self-join pair
    enumeration (``minhash_lsh_pairs``) and the batch-vs-corpus incremental
    admission (``incremental_minhash_dedup``) both join on (band, bucket).
    At production scale the corpus side of the incremental path persists
    this frame as a bucketed index table so only the new batch recomputes.
    """
    rows_per_band = num_hashes // bands
    # Stage 1 (the only md5 pass): shingle + hash each shingle to a 32-bit
    # int. Materialized as its own projection so stage 2's 16 seed minima
    # reference it instead of re-evaluating it (CollapseProject keeps
    # non-cheap multi-referenced aliases un-inlined). The input is
    # round-robin repartitioned first: shingling+hashing is CPU-bound per
    # row, and a small source (one parquet file) would otherwise pin the
    # whole pass to a single task.
    df = spread_for_cpu(df)
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.transform(word_shingles(text_col, shingle_n), token_hash32).alias("_h"),
    )
    sig = hashed.select(
        "_id", minhash_signature(F.col("_h"), num_hashes).alias("_sig")
    )
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.transform(
                                    F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                                    lambda v: v.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs.

    Pipeline: shingle → minhash signature → split into ``bands`` bands →
    band-hash equi-join → distinct (a_id < b_id) pairs. The only shuffle is
    the band equi-join on a short hash key; at scale each band bucket is
    small, and AQE splits skewed buckets. Returns (a_id, b_id).
    """
    # Pinned (lazy localCheckpoint): both sides of the band equi-join
    # reference the signature frame — unpinned, the CPU-heavy
    # shingle→minhash→band pipeline ran twice per query (2 scans in the
    # r11 before plans of every minhash consumer).
    banded = band_signatures(df, id_col, text_col, shingle_n, num_hashes, bands)
    banded = pin("minhash_lsh_pairs", "band_signatures", banded)
    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: explode distinct shingles,
    self-join on shingle, |∩| via group count, |∪| = |A|+|B|−|∩|.

    This is the *oracle-checkable exact* path; MinHash-LSH is the scaled
    approximation of it. Shuffles: one explode+distinct agg, one shingle
    equi-join, one pair agg. Returns (a_id, b_id, jaccard).

    Structure note (measured, don't "simplify"): carrying the per-doc
    shingle count on every exploded row to skip the two `sizes` joins is
    3.5× SLOWER (7.0s vs 1.9s at sf0.1) — materializing the shingle array
    column before Generate serializes the heavy stage, while the separate
    tiny sizes aggregate reuses the shuffle and costs ~nothing.
    """
    sh = spread_for_cpu(df).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("shingle"),
    )
    # sizes + both self-join sides: 4 explode replays otherwise
    sh = pin("ngram_jaccard_pairs", "shingles", sh)
    sizes = sh.groupBy("_id").agg(F.count("*").alias("n_shingles"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .agg(F.count("*").alias("n_common"))
    )
    joined = (
        inter.join(sizes.withColumnRenamed("_id", "a_id").withColumnRenamed("n_shingles", "a_n"), "a_id")
        .join(sizes.withColumnRenamed("_id", "b_id").withColumnRenamed("n_shingles", "b_n"), "b_id")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )
    return joined


class CCNonConvergenceError(RuntimeError):
    """``connected_components`` exhausted ``max_iter`` rounds without
    reaching a verified fixpoint. Returning the partial labels would
    silently produce WRONG clusters (nodes still carrying a non-minimal
    label split one true component into several), so the engine refuses:
    raise ``max_iter``, or switch to ``algorithm="star"`` whose round
    count is O(log n) in nodes instead of O(diameter)."""


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components over an undirected pair graph: every node gets
    ``cluster_id`` = the minimum node id reachable through the pairs. This
    is the clustering step of near-dup removal — group LSH/Jaccard pairs
    into components, then keep one canonical document per component.

    Two algorithms, same output contract:

    - ``algorithm="propagation"`` (default): iterative min-label
      propagation. Each round is one shuffle (edge ⋈ labels on src) + one
      hash agg (min label per dst) + one left join back onto labels;
      labels only ever decrease, so convergence is detected by the
      label-sum fixpoint (an exact decimal sum — no overflow at 10^11
      rows × 10^18 ids). The sum rides the round's materializing action as
      an ``observe`` metric, so each round is exactly ONE Spark job.
      Rounds scale with component *diameter* — right for LSH near-dup
      graphs, whose components are quasi-cliques (every pair sharing a
      band bucket is directly connected; diameters are tiny, ~2-4 rounds
      regardless of data size). The fixpoint iterates ONLY over
      edge-incident nodes (per-round shuffles are O(|E|), not O(|V|) —
      in a near-dup corpus almost every document is isolated and re-enters
      as its own singleton cluster in one final left join).
    - ``algorithm="star"``: alternating large-star / small-star (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC '14).
      Each round rewires every edge toward its neighborhood minimum, so
      rounds scale O(log n) in the *number of nodes*, independent of
      diameter — the fallback for adversarial long-chain graphs where
      propagation would need diameter rounds. Per-round cost is two
      groupBy+join passes (vs one for propagation), so it is not the
      default for LSH graphs.

    Block/lineage hygiene (both variants): each round's frame is
    ``persist``-ed and the previous round's is explicitly unpersisted as
    soon as the new one materializes — no waiting on driver GC /
    ContextCleaner to free round blocks. Because each round's *logical
    plan* references the prior round's multiple times (labels twice per
    propagation round, edges ~12× per star round), lineage would grow
    exponentially and OOM the analyzer after ~15 rounds; every few rounds
    an eager ``localCheckpoint`` truncates it (and its persisted parent is
    freed immediately, so at most one truncation block set per few rounds
    outlives explicit cleanup, reclaimed by the ContextCleaner). The final
    labels are returned as an eager ``localCheckpoint`` — self-contained,
    so re-running actions on the result does not replay the rounds. On a
    real cluster, prefer ``checkpoint`` to reliable storage so lost
    executors replay one round, not the whole chain.

    Returns (node_id_col, cluster_id).

    Contract: every id in ``pairs`` must appear in ``nodes`` (edges whose
    endpoints are unknown nodes are silently ignored by the joins). A
    graph needing more than ``max_iter`` rounds raises
    ``CCNonConvergenceError`` rather than returning wrong labels —
    raise ``max_iter`` or use ``algorithm="star"`` for long-chain
    graphs; LSH pair graphs never get close. Convergence is *verified*,
    not assumed: the last executed round must observe an unchanged label
    sum (propagation) / an identical edge set (star), so ``max_iter``
    must leave room for one confirming round past the true fixpoint.
    """
    if algorithm == "star":
        return _cc_star(pairs, nodes, id_col, a_col, b_col, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'propagation' or 'star'")
    from pyspark.sql import Observation

    # Materialize the edge list once: `pairs` may sit on an expensive
    # lineage (the whole MinHash-LSH pipeline), and every propagation round
    # joins against it — without pinning, each round's job re-plans that
    # full subtree (Spark's shuffle-stage reuse usually skips the re-run,
    # but the edge list is tiny relative to the corpus, so pinning it is
    # strictly better and makes the per-round cost explicit).
    und = pairs.select(
        F.col(a_col).cast("bigint").alias("src"), F.col(b_col).cast("bigint").alias("dst")
    ).union(
        pairs.select(
            F.col(b_col).cast("bigint").alias("src"), F.col(a_col).cast("bigint").alias("dst")
        )
    ).persist()
    # The fixpoint runs ONLY over edge-incident nodes: an isolated node can
    # never receive a neighbor label, so carrying it through every round
    # just inflates each round's shuffle from O(|E|) to O(|V|). In a
    # near-dup corpus |touched| ≈ 2·|pairs| ≪ |docs| (most documents have
    # no near-duplicate), so rounds shuffle the pair graph, not the corpus;
    # isolated nodes re-enter as their own singleton cluster in the final
    # left join below. Round 0 needs no node list and no join at all: the
    # post-round-0 label of a touched node is min(direct neighborhood ∪
    # self) — ONE hash agg over the edge list seeds the fixpoint.
    obs0 = Observation()
    labels = (
        und.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("_nbr"))
        .select("node", F.least(F.col("node"), F.col("_nbr")).alias("label"))
        .observe(obs0, F.sum(F.col("label").cast("decimal(38,0)")).alias("label_sum"))
        .persist()
    )
    labels.count()
    prev_sum: object = obs0.get["label_sum"]
    prev_persisted: DataFrame | None = labels
    # sum over an empty touched set observes NULL → no edges, trivially at
    # the fixpoint (every node re-enters as a singleton in the final join)
    converged = prev_sum is None
    for rnd in range(1, max_iter):
        if converged:
            break
        prop = (
            und.join(labels, und["src"] == labels["node"])
            .groupBy(F.col("dst").alias("p_node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        obs = Observation()
        labels_pre = labels.join(prop, labels["node"] == prop["p_node"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        probe_step("connected_components", f"round{rnd + 1}", labels_pre)
        labels = labels_pre.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("label_sum")
        ).persist()
        labels.count()  # the round's single job; fills obs, pins the frame
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = labels
        # each round's plan embeds the prior round's twice — truncate the
        # lineage periodically or analysis cost grows 2^rounds
        if (rnd + 1) % 4 == 0:
            labels = labels.localCheckpoint(eager=True)
            prev_persisted.unpersist()
            prev_persisted = None
        new_sum = obs.get["label_sum"]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        if prev_persisted is not None:
            prev_persisted.unpersist()
        und.unpersist()
        raise CCNonConvergenceError(
            f"label propagation did not reach a verified fixpoint in "
            f"{max_iter} rounds — the graph's diameter exceeds the round "
            f"budget; raise max_iter or use algorithm='star' (O(log n) rounds)"
        )
    out = (
        nodes.select(F.col(id_col).cast("bigint").alias("node"))
        .join(labels.withColumnRenamed("node", "t_node"),
              F.col("node") == F.col("t_node"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    if prev_persisted is not None:
        prev_persisted.unpersist()
    und.unpersist()
    return out


def _cc_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., SoCC '14). Edge state is the canonical directed set
    (src > dst, distinct, self-loops dropped); each round applies

    - large-star: for every center u, connect each *larger* neighbor
      v > u to m = min(Γ(u) ∪ {u});
    - small-star: for every center u, connect each smaller neighbor and u
      itself to m = min of the smaller neighborhood.

    Both steps strictly rewire edges toward component minima; the edge set
    reaches the star fixpoint (every node points at its component min) in
    O(log n) rounds. Convergence is detected exactly: same edge count and
    an empty ``exceptAll`` diff — no checksum heuristics. See
    ``connected_components`` for the persist/unpersist contract.
    """
    e = (
        pairs.select(
            F.col(a_col).cast("bigint").alias("u"), F.col(b_col).cast("bigint").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("src"), F.least("u", "v").alias("dst")
        )
        .distinct()
        .persist()
    )
    cur_cnt = e.count()
    prev: DataFrame = e
    prev_is_persisted = True
    converged = False
    for rnd in range(max_iter):
        # large-star over the symmetrized edges
        sym = prev.union(prev.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        lmin = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_m"))
            .withColumn("_m", F.least("_m", F.col("src")))
        )
        large = (
            sym.join(lmin, "src")
            .where(F.col("dst") > F.col("src"))
            # _m = min(Γ(u) ∪ {u}) ≤ u < v, so (v, _m) is already src > dst
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .distinct()
        )
        # small-star over the large→small directed edges
        smin = large.groupBy("src").agg(F.min("dst").alias("_m"))
        nbrs = large.join(smin, "src").select(F.col("dst").alias("v"), "_m")
        selfs = smin.select(F.col("src").alias("v"), "_m")
        new_e = (
            nbrs.union(selfs)
            .where(F.col("v") != F.col("_m"))
            # every survivor has v > _m (= min of a set containing smaller ids)
            .select(F.col("v").alias("src"), F.col("_m").alias("dst"))
            .distinct()
            .persist()
        )
        new_cnt = new_e.count()
        converged = new_cnt == cur_cnt and new_e.exceptAll(prev).isEmpty()
        if prev_is_persisted:
            prev.unpersist()
        prev, cur_cnt, prev_is_persisted = new_e, new_cnt, True
        if converged:
            break
        # a star round embeds the prior edge plan ~12× (two symmetrize/
        # join/agg passes) — truncate every other round or analysis blows
        # up exponentially (observed: JVM heap OOM near round 8 untruncated)
        if (rnd + 1) % 2 == 0:
            prev = prev.localCheckpoint(eager=True)
            new_e.unpersist()
            prev_is_persisted = False
    if not converged and cur_cnt > 0:
        if prev_is_persisted:
            prev.unpersist()
        raise CCNonConvergenceError(
            f"large-star/small-star did not reach the edge-set fixpoint in "
            f"{max_iter} rounds ({cur_cnt} edges still rewiring) — raise "
            f"max_iter (rounds are O(log n) in nodes, so this is rare)"
        )
    mins = prev.groupBy("src").agg(F.min("dst").alias("_m"))
    out = (
        nodes.select(F.col(id_col).cast("bigint").alias("node"))
        .join(mins, F.col("node") == mins["src"], "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("_m", F.col("node")).alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    if prev_is_persisted:
        prev.unpersist()
    return out


def cc_incremental(
    labels: DataFrame,
    new_pairs: DataFrame,
    new_nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """Maintain connected-component labels ACROSS INGEST TICKS: given the
    persisted ``(id_col, cluster_id)`` table from the prior tick, the new
    tick's pairs, and the newly admitted node ids, produce the updated
    full label table WITHOUT re-running CC over the corpus graph.

    Why this is correct: the old labels are a complete summary of the old
    edge set (two old nodes are connected iff they share a label, and each
    label is its component's min id), so CC over (old edges ∪ new edges)
    equals CC over the LABEL graph — contract each new pair to the
    (label(a), label(b)) edge, run ``connected_components`` over only the
    labels those edges touch, and remap. Min-id semantics survive the
    contraction: min over a merged component = min of its parts' minima
    and any smaller new node id, exactly what the label-graph CC computes.

    Why this is the 100-TB shape: per-tick cost is O(|new pairs| +
    touched labels) — a batch-sized label join plus a fixpoint over a
    contracted graph whose node count is the number of AFFECTED
    components, never corpus-sized. Untouched rows pass through with a
    left join + coalesce (no shuffle of their labels beyond the one
    equi-join). The corpus-sized from-scratch CC runs once at bootstrap;
    every tick after is this.

    Contract (same as ``connected_components``): every id in ``new_pairs``
    must appear in ``labels`` or ``new_nodes``; raises
    ``CCNonConvergenceError`` via the inner CC if the label graph needs
    more than ``max_iter`` rounds (it needs O(diameter of the CONTRACTED
    graph) — tiny even when the raw graph is a long chain built over many
    ticks, but adversarial single-tick chains should pass
    ``algorithm="star"``).
    """
    base = labels.select(
        F.col(id_col).cast("bigint").alias("node"),
        F.col("cluster_id").cast("bigint").alias("label"),
    )
    if new_nodes is not None:
        admitted = (
            new_nodes.select(F.col(id_col).cast("bigint").alias("node"))
            .distinct()
            .join(base.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("label"))
        )
        base = base.unionByName(admitted)
    e = new_pairs.select(
        F.col(a_col).cast("bigint").alias("_a"), F.col(b_col).cast("bigint").alias("_b")
    )
    la = base.select(F.col("node").alias("_a"), F.col("label").alias("_la"))
    lb = base.select(F.col("node").alias("_b"), F.col("label").alias("_lb"))
    label_edges = (
        e.join(la, "_a").join(lb, "_b")
        .where(F.col("_la") != F.col("_lb"))
        .select(F.col("_la").alias("a_id"), F.col("_lb").alias("b_id"))
        .distinct()
    )
    touched = (
        label_edges.select(F.col("a_id").alias("lbl"))
        .unionByName(label_edges.select(F.col("b_id").alias("lbl")))
        .distinct()
    )
    merged = connected_components(
        label_edges, touched, id_col="lbl", max_iter=max_iter, algorithm=algorithm
    ).withColumnRenamed("cluster_id", "_new_label")
    return (
        base.join(merged, base["label"] == merged["lbl"], "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("_new_label", "label").alias("cluster_id"),
        )
    )


def token_hash32(tok: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 → bigint.
    Spark `conv(hex,16,10)`; DuckDB `('0x'||hex)::BIGINT` — identical."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def simhash32(hashes: Column) -> Column:
    """32-bit SimHash over an array of pre-hashed tokens (bigint in
    [0, 2^32), from ``token_hash32``): signature bit i is 1 iff sum over
    tokens of (bit_i ? +1 : -1) is > 0. Deterministic and portable (md5 +
    `>>`/`&` exist in both Spark and DuckDB, so this is oracle-checkable).
    Takes the *hashed* array — this expression references it 32 times, so
    the md5 pass must be materialized in the caller's projection (same
    inlining hazard as ``minhash_signature``). Returns bigint in [0, 2^32).
    """

    def bit_weight(i: int):
        # closure factory, NOT a default-arg lambda (see minhash note)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sig = F.lit(0).cast("bigint")
    for i in range(32):
        weight = F.aggregate(hashes, F.lit(0).cast("long"), bit_weight(i))
        sig = sig + F.when(weight > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0))
    return sig


def simhash_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document 32-bit SimHash: one md5 pass over distinct whitespace
    tokens (own projection), then the 32 interpreted bit-sum passes over
    the cached hash array. Returns (id_col, simhash)."""
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    hashed = spread_for_cpu(df).select(
        F.col(id_col), F.transform(toks, token_hash32).alias("_th")
    )
    return hashed.select(F.col(id_col), simhash32(F.col("_th")).alias("simhash"))


def bloom_merge(
    *blooms: DataFrame, sizing: tuple[int, int] | None = None
) -> DataFrame:
    """OR-merge Bloom word tables built with the SAME num_bits/num_hashes
    — union the (word, bits) rows and ``bit_or`` per word. This is the
    maintenance op of an incremental ingest: each tick builds a tiny
    filter over its admitted keys (``bloom_word_table`` on the batch) and
    merges it into the persisted corpus filter — one shuffle over
    filter-sized frames, never a corpus rescan. Merging is exact (a
    Bloom bitmap is a pure OR of its members' bitmaps), so
    merge(build(A), build(B)) ≡ build(A ∪ B) bit for bit; sizing
    mismatches raise rather than silently corrupt the filter. EMPTY
    inputs (a first-tick filter over nothing) carry no metadata row and
    merge as identity; if every input is empty the merge is the empty
    filter.

    ``sizing``: the shared build-time (num_bits, num_hashes). Supplying it
    keeps the merge a pure plan transform — the per-input 1-row
    ``first()`` metadata reads (one driver action each) exist only to
    recover sizing the caller didn't pass and to cross-check mismatched
    inputs; a per-tick maintenance loop built everything with one KW dict
    and should just pass it."""
    import functools

    if sizing is not None:
        nb, nh = sizing
    else:
        metas = [m for b in blooms if (m := b.select("num_bits", "num_hashes").first())]
        for meta in metas[1:]:
            if tuple(meta) != tuple(metas[0]):
                raise ValueError(
                    f"bloom sizing mismatch: {tuple(metas[0])} vs {tuple(meta)}"
                )
        if not metas:
            return blooms[0]
        nb, nh = metas[0]
    unioned = functools.reduce(
        lambda a, b: a.unionByName(b), [b.select("_word", "_bits") for b in blooms]
    )
    return (
        unioned.groupBy("_word")
        .agg(F.bit_or("_bits").alias("_bits"))
        .select(
            "_word",
            "_bits",
            F.lit(int(nb)).alias("num_bits"),
            F.lit(int(nh)).alias("num_hashes"),
        )
    )


def lsh_candidate_prob(jaccard: float, num_hashes: int, bands: int) -> float:
    """Probability MinHash-LSH surfaces a pair with the given Jaccard
    similarity as a candidate: 1 − (1 − s^r)^b with r = num_hashes/bands
    rows per band — the standard S-curve (Mining of Massive Datasets
    §3.4). Exact for ideal minhashes; the universal-hash family here is
    close enough that tests/test_lsh_plan.py measures the curve on the
    real ``minhash_lsh_pairs`` within binomial noise."""
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    r = num_hashes // bands
    return 1.0 - (1.0 - jaccard**r) ** bands


def plan_lsh(
    threshold: float,
    target_recall: float = 0.9,
    max_fp_prob: float = 0.05,
    fp_at: float | None = None,
    max_hashes: int = 256,
) -> dict:
    """Choose (num_hashes, bands) for a MinHash-LSH dedup at a Jaccard
    ``threshold``: the CHEAPEST config (fewest hashes, then fewest bands
    — bands drive the candidate-join row count) whose S-curve catches
    pairs at the threshold with ≥ ``target_recall`` while flagging
    clearly-dissimilar pairs (similarity ``fp_at``, default threshold/2)
    with ≤ ``max_fp_prob``. Pure math — run it BEFORE the corpus-sized
    job; the returned dict records the predicted probabilities so the
    choice is auditable next to the measured calibration.

    Raises if no config within ``max_hashes`` satisfies both targets
    (e.g. threshold too low for the budget) — explicit, not silent
    best-effort."""
    fp_at = threshold / 2 if fp_at is None else fp_at
    best = None
    for num_hashes in range(4, max_hashes + 1):
        for bands in range(1, num_hashes + 1):
            if num_hashes % bands:
                continue
            recall = lsh_candidate_prob(threshold, num_hashes, bands)
            fp = lsh_candidate_prob(fp_at, num_hashes, bands)
            if recall >= target_recall and fp <= max_fp_prob:
                cand = (num_hashes, bands)
                if best is None or cand < best[:2]:
                    best = (num_hashes, bands, recall, fp)
        if best is not None and best[0] == num_hashes:
            break  # minimal num_hashes found; inner loop already minimized bands
    if best is None:
        raise ValueError(
            f"no (num_hashes<=max_hashes={max_hashes}, bands) reaches "
            f"recall>={target_recall} at s={threshold} with fp<={max_fp_prob} at s={fp_at}"
        )
    num_hashes, bands, recall, fp = best
    return {
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": num_hashes // bands,
        "predicted_recall_at_threshold": recall,
        "predicted_fp_prob_at_low_sim": fp,
        "threshold": threshold,
        "fp_at": fp_at,
    }


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs whose 32-bit SimHash signatures differ in at
    most ``max_hamming`` bits — EXACT sub-quadratic search, not an
    approximation: by pigeonhole, signatures within Hamming distance k
    must agree exactly on at least one of k+1 disjoint bit blocks, so
    enumerating block-equality candidates and verifying with a popcount
    finds every qualifying pair (completeness is a theorem, and the test
    pins it against brute force). The standard trick from Manku et al.,
    "Detecting Near-Duplicates for Web Crawling" (WWW '07).

    Scale shape: signatures once per doc (the expensive tokenize+hash
    pass), then k+1 short-key equi-joins expressed as ONE join on
    (block_idx, block_value) — same bucket-join pattern as MinHash
    bands; ``bit_count(a XOR b)`` verifies candidates in codegen. Block
    width 32/(k+1) bits bounds bucket sizes; for adversarial skew
    (a constant block across the corpus) AQE splits the hot bucket.
    Returns (a_id, b_id, hamming).
    """
    nblocks = max_hamming + 1
    width = 32 // nblocks  # remainder bits join the last block
    sig = simhash_docs(df, text_col, id_col).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_sig")
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                (
                    F.shiftright(F.col("_sig"), b * width)
                    % F.lit(1 << (width if b < nblocks - 1 else 32 - b * width))
                ).alias("val"),
            )
            for b in range(nblocks)
        ]
    )
    keyed = sig.select("_id", "_sig", F.explode(blocks).alias("bb")).select(
        "_id", "_sig", "bb.blk", "bb.val"
    )
    pairs = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("a_id"),
            F.col("b._id").alias("b_id"),
            F.bit_count(
                F.col("a._sig").bitwiseXOR(F.col("b._sig"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring removal (the ExactSubstr dedup of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"),
    re-expressed Spark-first at word granularity.

    The suffix-array formulation is a single-machine algorithm; the
    distributed equivalent is shingle-keyed: any duplicated word span of
    length ≥ k contains a duplicated k-word shingle, so marking every
    non-canonical occurrence of every duplicated k-shingle and erasing the
    covered words removes exactly the duplicated spans (canonical = first
    occurrence in global (doc_id, position) order, so one copy of every
    span survives, as in the paper).

    Plan (all built-ins, no UDFs, no self-joins):
      1. split + posexplode → (doc, pos, word); shingles via
         transform(sequence, slice) higher-order exprs — map-side only.
      2. One shuffle on md5(shingle) (fixed 32-byte key, never the raw
         text): count + row_number per shingle → non-canonical duplicated
         occurrences.
      3. Broadcast-free join back to words on (doc, pos) — co-partitioned
         with the per-doc window that follows.
      4. Per-doc running max of removal ends (gaps-and-islands cummax)
         marks covered words; the survivors reassemble with
         sort_array(collect_list) + concat_ws.

    At 100 TB: cost is O(total words) rows through one wide shuffle keyed
    by digest (uniform, unskewed by construction) plus one doc-partitioned
    window; contrast with the quadratic pair-join family this module's
    MinHash path replaces. A 50-token k (the paper's setting) at BPE
    granularity drops in by swapping the tokenizer column in step 1.

    Returns one row per input doc: (id_col, n_words, n_removed,
    cleaned_md5) — the md5 of the surviving text, empty-string stable.
    """
    words_arr = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), words_arr.alias("_w"))
    words = base.select(
        id_col, F.posexplode("_w").alias("_p0", "word")
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "word")

    shingle_expr = F.expr(
        f"transform(sequence(1, size(_w) - {k} + 1),"
        f" i -> md5(concat_ws(' ', slice(_w, i, {k}))))"
    )
    sh = (
        base.filter(F.size("_w") >= k)
        .select(id_col, F.posexplode(shingle_expr).alias("_s0", "gram"))
        .select(id_col, (F.col("_s0") + 1).alias("pos"), "gram")
    )
    wg = Window.partitionBy("gram")
    removals = (
        sh.withColumn("_cnt", F.count("*").over(wg))
        .withColumn(
            "_rk",
            F.row_number().over(wg.orderBy(id_col, "pos")),
        )
        .filter((F.col("_cnt") >= 2) & (F.col("_rk") > 1))
        .select(F.col(id_col).alias("_rid"), F.col("pos").alias("_rpos"))
    )

    flagged = words.join(
        removals,
        (F.col(id_col) == F.col("_rid")) & (F.col("pos") == F.col("_rpos")),
        "left_outer",
    ).select(
        id_col,
        "pos",
        "word",
        F.when(F.col("_rpos").isNotNull(), F.col("pos") + k).alias("_rem_end"),
    )
    wdoc = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = F.max("_rem_end").over(wdoc).isNull() | (
        F.max("_rem_end").over(wdoc) <= F.col("pos")
    )
    return (
        flagged.withColumn("_kept", kept)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.when(~F.col("_kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "  CASE WHEN _kept THEN struct(pos, word) END)),"
                        " s -> s.word)"
                    ),
                )
            ).alias("cleaned_md5"),
        )
    )


# --- exact edit-distance (fuzzy) self-join ------------------------------


def _delete_one(s: Column) -> Column:
    """All strings obtained by deleting exactly one character of ``s``
    (empty array for the empty string — Spark's ``sequence(1, 0)`` would
    otherwise count DOWN and fabricate variants)."""
    return F.when(
        F.length(s) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - F.lit(1)),
                F.substring(s, i + F.lit(1), F.length(s)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def deletion_variants(s: Column | str, max_dist: int = 1) -> Column:
    """The SymSpell deletion neighborhood: every string reachable from
    ``s`` by deleting up to ``max_dist`` characters, the string itself
    included, deduplicated. Pure higher-order-function expression — stays
    inside whole-stage codegen, no UDF.

    Size is O(len^max_dist) per row, which is why callers keep
    ``max_dist`` at 1-2 (the useful entity-resolution range)."""
    col = F.col(s) if isinstance(s, str) else s
    out = F.array(col)
    for _ in range(max_dist):
        out = F.array_union(out, F.array_distinct(F.flatten(F.transform(out, _delete_one))))
    return out


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "text",
    max_dist: int = 1,
    expand: bool = True,
) -> DataFrame:
    """EXACT edit-distance self-join (entity-resolution near-dup): all
    (a_id, b_id, dist) with ``levenshtein(a, b) <= max_dist`` and
    ``a_id < b_id``.

    Blocking is the SymSpell deletion-neighborhood equi-join: two strings
    within edit distance d always share a common member of their
    ≤d-deletion neighborhoods (delete the edited positions from each
    side), so candidates = equi-join on variant, then an exact
    ``levenshtein`` verify. No similarity is lost — the blocking is a
    superset of the true pair set — and there is no quadratic cross
    product: the only shuffle is the variant equi-join, whose buckets are
    the handful of strings sharing a variant (AQE splits pathological
    buckets, e.g. a mass-duplicated string).

    Generalizes the reference's exact-key last-write-wins dedup
    (task.ts:176-190) to approximate keys. 100-TB: variants add a
    ~(len+1)^d row blow-up before one equi-join — linear in corpus size,
    never all-pairs; candidate dedup happens BEFORE the levenshtein
    verify so each surviving pair is verified once.

    Scale discipline (measured 7.6s → 2.5s at sf0.1, and 127s → see
    BASELINE.md at 10× replicated data):

    - **Distinct strings first.** Every stage up to the verified
      rep-pair list runs on the DISTINCT-string dictionary (standard
      SymSpell practice); id pairs are expanded only at output, joining
      each group's members back in — so duplicated strings (re-crawled
      names, replicated rows) multiply only the OUTPUT, never the
      candidate join. Intra-group (distance-0) pairs come from the
      group sizes directly.
    - **Ids only in shuffles.** The variant table and the candidate
      dedup carry hashes/ids, never string payloads; strings re-join
      for the verify when one row per candidate pair remains.
    - **Position-keyed blocking at max_dist=1.** A distance-1
      substitution pair shares the deletion at the SAME position, so
      the d=1 sub-leg joins on (pos, variant) — bucket size is bounded
      by the alphabet (≤10 on digit serials), where the position-blind
      variant join's buckets grow with serial density (measured: 978k
      → 108M candidates for 10× dense names; position-keyed stays
      ~26k/262k — linear). Indels join each string's deletions against
      whole strings. Both legs are exactly lossless for d=1.

    ``expand=False`` returns the REP-LEVEL result instead: one row per
    distinct-string pair (a_id, b_id, dist, a_mult, b_mult) with a_id <
    b_id the representative (min) ids and mults the group sizes, plus a
    diagonal row (rep, rep, 0, m, m) per group with m ≥ 2. Member-pair
    output is quadratic in duplicate density (10× replicated rows ⇒
    ~100× pairs — measured, BASELINE.md), so scale consumers (and the
    graded registry row) take the rep form: member counts are
    a_mult·b_mult (off-diagonal) and m·(m−1)/2 (diagonal) — exact,
    never materialized.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
    # distinct-string dictionary: one representative id per string.
    # Pinned (lazy localCheckpoint): groups feeds uniq/av/bv/diag — the
    # r11 before plan re-expanded the scan+agg subtree 7× (14 scans,
    # plans/r11/fuzzy_name_pairs_before.txt); one pin materializes the
    # dictionary once. Values untouched.
    groups = base.groupBy("_s").agg(
        F.min("_id").alias("_rep"), F.count("*").alias("_mult")
    )
    groups = pin("fuzzy_pairs", "string_dictionary", groups)
    uniq = groups.select(F.col("_rep").alias("_id"), "_s")
    if max_dist == 1:
        # pinned: feeds both sides of the position-keyed sub join AND the
        # deletion-variant dictionary — 3 replays of the posexplode
        # otherwise
        posvar = uniq.select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("_s")),
                    lambda i: F.concat(
                        F.substring(F.col("_s"), F.lit(1), i - F.lit(1)),
                        F.substring(F.col("_s"), i + F.lit(1), F.length("_s")),
                    ),
                )
            ).alias("_pos", "_v"),
        )
        posvar = pin("fuzzy_pairs", "position_variants", posvar)
        sub = (
            posvar.alias("a")
            .join(
                posvar.alias("b"),
                (F.col("a._pos") == F.col("b._pos"))
                & (F.col("a._v") == F.col("b._v"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        )
        delvar = posvar.select("_id", "_v").distinct()
        indel = (
            delvar.alias("a")
            .join(
                uniq.alias("b"),
                (F.col("a._v") == F.col("b._s"))
                & (F.col("a._id") != F.col("b._id")),
            )
            .select(
                F.least(F.col("a._id"), F.col("b._id")).alias("a_id"),
                F.greatest(F.col("a._id"), F.col("b._id")).alias("b_id"),
            )
        )
        cand = sub.unionByName(indel).distinct()
    else:
        var = uniq.select(
            "_id", F.explode(deletion_variants(F.col("_s"), max_dist)).alias("_v")
        )
        # both sides of the variant self-join
        var = pin("fuzzy_pairs", "deletion_variants", var)
        cand = (
            var.alias("a")
            .join(
                var.alias("b"),
                (F.col("a._v") == F.col("b._v")) & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
            .distinct()
        )
    av = groups.select(
        F.col("_rep").alias("a_id"),
        F.col("_s").alias("_a_s"),
        F.col("_mult").alias("a_mult"),
    )
    bv = groups.select(
        F.col("_rep").alias("b_id"),
        F.col("_s").alias("_b_s"),
        F.col("_mult").alias("b_mult"),
    )
    rep_pairs = (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn("dist", F.levenshtein("_a_s", "_b_s").cast("bigint"))
        .filter(F.col("dist") <= max_dist)
    )
    if not expand:
        diag = groups.filter(F.col("_mult") >= 2).select(
            F.col("_rep").alias("a_id"),
            F.col("_rep").alias("b_id"),
            F.lit(0).cast("bigint").alias("dist"),
            F.col("_mult").alias("a_mult"),
            F.col("_mult").alias("b_mult"),
        )
        return rep_pairs.select(
            "a_id", "b_id", "dist", "a_mult", "b_mult"
        ).unionByName(diag)
    # expand rep pairs to all (a_id, b_id) member pairs, a_id < b_id; the
    # distance of every member pair equals its groups' rep distance
    members_a = base.join(
        uniq.select(F.col("_id").alias("a_id"), "_s"), "_s"
    ).select("a_id", F.col("_id").alias("_ma"))
    members_b = base.join(
        uniq.select(F.col("_id").alias("b_id"), "_s"), "_s"
    ).select("b_id", F.col("_id").alias("_mb"))
    cross = (
        rep_pairs.select("a_id", "b_id", "dist")
        .join(members_a, "a_id")
        .join(members_b, "b_id")
        .select(
            F.least(F.col("_ma"), F.col("_mb")).alias("a_id"),
            F.greatest(F.col("_ma"), F.col("_mb")).alias("b_id"),
            "dist",
        )
    )
    # distance-0 pairs: all member pairs within one string group
    grp = base.join(uniq.select(F.col("_id").alias("_rep"), "_s"), "_s").select(
        "_rep", F.col("_id").alias("_m")
    )
    intra = (
        grp.alias("x")
        .join(
            grp.alias("y"),
            (F.col("x._rep") == F.col("y._rep")) & (F.col("x._m") < F.col("y._m")),
        )
        .select(
            F.col("x._m").alias("a_id"),
            F.col("y._m").alias("b_id"),
            F.lit(0).cast("bigint").alias("dist"),
        )
    )
    return cross.unionByName(intra)


def cluster_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware canonical selection over a ``connected_components``
    output: per cluster, KEEP the member with the highest ``score_col``
    (ties → lowest id), instead of the min-id member — the curation rule
    real pipelines want ("keep the longest / highest-quality duplicate",
    the RefinedWeb-style keep policy), decoupled from the cluster-label
    convention.

    ``scores`` is an (id, score) frame — any per-doc signal: length, a
    learned quality probability, an LM score. Cluster members MISSING a
    score row still survive to the output (LEFT join, not inner — the
    contract is "clusters columns + kept_doc_id" for EVERY cluster row):
    an unscored member never wins the argmax against any scored one
    (null-flag field ranks first in the struct ordering), and a cluster
    whose members are ALL unscored falls back to lowest-id keep. Plan:
    one id-keyed equi join to attach scores, ONE cluster-keyed hash agg
    computing the argmax as ``max(struct(has_score, score, -id))``
    (exact, no window over the corpus), and a cluster-keyed join back
    (cluster count ≤ doc count; AQE broadcasts small cluster tables).
    Output: ``clusters`` columns + ``kept_doc_id`` + ``is_kept``.
    """
    # pinned: scored feeds the argmax agg AND the join back — one lazy
    # pin replaces a second score-attach join + scores scan
    scored = clusters.join(
        scores.select(
            F.col(id_col), F.col(score_col).alias("_score")
        ),
        id_col,
        "left",
    )
    scored = pin("cluster_keep_best", "scored_members", scored)
    best = scored.groupBy(cluster_col).agg(
        F.max(
            F.struct(
                F.col("_score").isNotNull().cast("int").alias("_has"),
                F.col("_score"),
                (-F.col(id_col)).alias("_nid"),
            )
        ).alias("_m")
    ).select(
        cluster_col, (-F.col("_m._nid")).cast("long").alias("kept_doc_id")
    )
    return (
        scored.join(best, cluster_col)
        .withColumn("is_kept", (F.col(id_col) == F.col("kept_doc_id")).cast("int"))
        .drop("_score")
    )


def dedup_lines_global(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide FIRST-OCCURRENCE line dedup with reassembly — the C4
    span-dedup rule at line granularity: every distinct (normalized)
    non-blank line survives only at its first occurrence across the WHOLE
    corpus, ordered by (doc id, position); later occurrences are removed
    from their documents. Complements ``strip_boilerplate_lines`` (which
    removes frequent lines from EVERY document, including the first):
    this keeps exactly one copy. Blank lines are structural, never
    deduped. Returns (id_col, text, n_lines_removed); documents reduced
    to nothing keep an empty text, and a NULL-text document is treated
    as empty (returned with text='' and n_lines_removed=0) rather than
    silently dropped from the output.

    Scale shape: posexplode (order survives as the position column) → one
    hash-agg per normalized-line hash computing the global argmin
    occurrence as ``min(struct(id, pos))`` — the only corpus-body shuffle
    besides the per-doc reassembly agg; the winner set joins back by line
    hash (corpus-lines-sized equi join, AQE-planned). Reassembly sorts
    line structs per document inside the agg — never a global sort.
    """
    lines = docs.select(
        F.col(id_col),
        # NULL text would posexplode to ZERO rows, vanishing the doc from
        # totals and the result — coalesce to '' so it yields one blank
        # (structural, kept) line and survives as text=''
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), line_sep)
        ).alias("_pos", "_line"),
    ).withColumn("_lh", F.md5(F.lower(F.trim(F.col("_line")))))
    blank = F.trim(F.col("_line")) == ""
    first = (
        lines.filter(~blank)
        .groupBy("_lh")
        .agg(F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_first"))
    )
    kept = (
        lines.join(first, "_lh", "left")
        .filter(
            blank
            | (
                (F.col(f"_first.{id_col}") == F.col(id_col))
                & (F.col("_first._pos") == F.col("_pos"))
            )
        )
        .drop("_first")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            line_sep,
        ).alias("text"),
        F.count("*").alias("_n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("_n_total"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("text", F.lit("")).alias("text"),
        (F.col("_n_total") - F.coalesce("_n_kept", F.lit(0))).alias(
            "n_lines_removed"
        ),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs similarity join — the WEIGHTED
    complement of ``ngram_jaccard_pairs``: pairs whose tf-idf vectors
    have cosine ≥ ``threshold``. Weighting: ``(1+ln(tf)) · ln(N/df)``
    (standard log-tf · idf), L2-normalized per document, per-term partial
    products summed per pair.

    The quadratic guard — the whole reason this shape survives scale —
    is DF-CAP PRUNING: terms appearing in more than ``max_df_frac·N``
    documents are dropped BEFORE the postings self-join (the standard
    all-pairs-similarity stop-term rule: a term in p docs contributes
    p·(p−1)/2 candidate partials, so frequent terms dominate cost while
    contributing ~zero idf weight — their idf is ln(1/frac) ≈ 0 anyway).
    Work is then Σ_term df² over RARE terms only. Shuffles: tf agg, df
    agg (broadcast back), one term-keyed postings self-join, one pair
    agg. At 100 TB tighten the cap (1%), or route through MinHash-LSH
    banding first and use this as the exact verify on candidates.

    Determinism contract: weights round 6 → decimal partials; norms and
    the final ratio in double, round 6 (the registry cosine rule).
    Returns (a_id, b_id, cosine).
    """
    w = _tfidf_weight_rows(
        spread_for_explode(df, DOC_SHINGLE_FANOUT), max_df_frac, id_col, text_col
    )
    norms = w.groupBy("_id").agg(
        F.sqrt(F.sum((F.col("_w") * F.col("_w")).cast("decimal(38,12)")).cast("double")).alias("_norm")
    )
    dots = (
        w.alias("a")
        .join(
            w.alias("b"),
            (F.col("a.term") == F.col("b.term")) & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .agg(F.sum((F.col("a._w") * F.col("b._w")).cast("decimal(38,12)")).alias("_dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("_id", "a_id").withColumnRenamed("_norm", "a_norm"), "a_id")
        .join(norms.withColumnRenamed("_id", "b_id").withColumnRenamed("_norm", "b_norm"), "b_id")
        .withColumn(
            "cosine",
            F.round(F.col("_dot").cast("double") / (F.col("a_norm") * F.col("b_norm")), 6),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("a_id", "b_id", "cosine")
    )


def tfidf_cosine_verify(
    candidates: DataFrame,
    df: DataFrame,
    max_df_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "a_id",
    b_col: str = "b_id",
    weights: DataFrame | None = None,
) -> DataFrame:
    """Exact tf-idf cosine for a GIVEN candidate pair list — the
    candidates→verify half of the scale-safe near-dup composition
    (MinHash-LSH banding generates candidates, this verifies them
    exactly). Work is linear in candidates × vector length, never Σ df²:
    the verify joins are DRIVEN BY the candidate list (candidates ⋈
    a-weights on id, then b-weights on (id, term)), the repo's
    posting-verify discipline. Same weighting/rounding contract as
    ``tfidf_cosine_pairs``. Returns (a_col, b_col, cosine) for every
    candidate whose both sides have a non-empty capped vector.
    ``weights``: pass a precomputed ``_tfidf_weight_rows`` frame to
    reuse the caller's weight subtree instead of rebuilding it.
    """
    w = (
        weights
        if weights is not None
        else _tfidf_weight_rows(df, max_df_frac, id_col, text_col)
    )
    norms = w.groupBy("_id").agg(
        F.sqrt(
            F.sum((F.col("_w") * F.col("_w")).cast("decimal(38,12)")).cast("double")
        ).alias("_norm")
    )
    cand = candidates.select(a_col, b_col)
    aw = w.select(
        F.col("_id").alias(a_col), "term", F.col("_w").alias("_wa")
    )
    bw = w.select(
        F.col("_id").alias(b_col), "term", F.col("_w").alias("_wb")
    )
    dots = (
        cand.join(aw, a_col)
        .join(bw, [b_col, "term"])
        .groupBy(a_col, b_col)
        .agg(F.sum((F.col("_wa") * F.col("_wb")).cast("decimal(38,12)")).alias("_dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("_id", a_col).withColumnRenamed("_norm", "_na"), a_col)
        .join(norms.withColumnRenamed("_id", b_col).withColumnRenamed("_norm", "_nb"), b_col)
        .select(
            a_col,
            b_col,
            F.round(
                F.col("_dot").cast("double") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
    )


def _tfidf_weight_rows(
    df: DataFrame,
    max_df_frac: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shared df-capped log-tf·idf weight rows: (_id, term, _w decimal(18,6)),
    the vector space of the tfidf cosine family (weights round-6 → decimal,
    the exact-partial-sum contract)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_text_tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("_tf"))
    n_docs = df.select(F.count("*").alias("_n"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") <= F.col("_n") * F.lit(max_df_frac))
    )
    return tf.join(F.broadcast(dfreq), "term").select(
        "_id",
        "term",
        F.round(
            (F.lit(1.0) + F.log(F.col("_tf"))) * F.log(F.col("_n") / F.col("_df")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("_w"),
    )


def tfidf_simhash_rep_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df_frac: float = 0.2,
    nbits: int = 32,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    observation=None,
) -> DataFrame:
    """The SCALE-SAFE weighted-cosine near-dup join — the composition that
    replaces ``tfidf_cosine_pairs``'s Σ df² postings self-join (measured
    DNF at the sf1 replicas: 4.5e9 partials over 310 capped terms):

    1. **Identical-vector rep collapse** (the fuzzy_pairs rep-level
       lesson): docs whose ENTIRE capped weight vector is identical
       collapse to one representative + multiplicity, keyed by an exact
       integer fingerprint (md5 of the sorted term:w·10⁶ rows — decimal
       weights make it portable). Intra-group pairs are cosine 1.0 BY
       DEFINITION and are emitted as one (rep, rep, m·(m−1)/2) row,
       never expanded (the synthetic corpus measured a 246-doc identical
       group at sf0.1 → 30 135 member pairs as ONE row).
    2. **Weighted SimHash screen over reps** (Charikar's simhash with
       tf-idf weights): bit p = sign(Σ_terms w·s_p(term)) with
       s_p(term) = ±1 from the term's md5 parity — an EXACT decimal sum,
       so the signature is bit-deterministic and SQL-replayable. Work is
       rep-postings × nbits, linear.
    3. **Pigeonhole candidate join** (the simhash_neardup_pairs
       machinery): hamming ≤ ``max_hamming`` requires agreement on one
       of k+1 disjoint blocks — ONE (block, value) equi-join, popcount
       verify.
    4. **Exact cosine verify** on candidates only (candidate-driven
       postings joins) and the ``threshold`` filter.

    The screen is approximate in the standard simhash sense: a pair at
    cosine c has per-bit agreement 1 − arccos(c)/π, so hamming
    concentrates near nbits·arccos(c)/π — borderline pairs can be
    missed while near-identical ones (the near-dup regime) are found
    with near-certainty; the rep collapse is exact. Returns rep-level
    rows (a_id, b_id, cosine, n_members) — a_id == b_id marks an
    intra-group row.
    """
    # Pin the weight rows: they feed FIVE consumers (fingerprint agg,
    # rep semi-join, both verify posting sides, norms) and each one
    # re-expanded the toks-explode→tf-agg→df-cap subtree — the r11
    # before plan of the graded query shows 90 parquet scans / 361
    # exchanges (plans/r11/tfidf_cosine_pairs_before.txt). One lazy
    # localCheckpoint materializes the capped vector space once
    # (guide §2.4/§5); values untouched.
    w = _tfidf_weight_rows(
        spread_for_explode(df, DOC_SHINGLE_FANOUT), max_df_frac, id_col, text_col
    )
    w = pin("tfidf_simhash_rep_pairs", "weight_rows", w)
    wi = (F.col("_w") * 1_000_000).cast("long")
    fp = w.groupBy("_id").agg(
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.concat(F.col("term"), F.lit(":"), wi.cast("string")))
                ),
                "|",
            )
        ).alias("_fp")
    )
    groups = fp.groupBy("_fp").agg(
        F.min("_id").alias("_rep"), F.count("*").alias("_m")
    )
    # reps feeds the rep semi-join, both member-multiplicity joins and
    # the intra leg — pin it so the fingerprint double-agg runs once.
    reps = pin("tfidf_simhash_rep_pairs", "fingerprint_reps",
               groups.select("_rep", "_m"))
    repw = w.join(
        reps.select(F.col("_rep").alias("_id")), "_id", "left_semi"
    )
    signs = (
        repw.select("term")
        .distinct()
        .select(
            "term",
            F.explode(F.sequence(F.lit(0), F.lit(nbits - 1))).alias("_p"),
        )
        .withColumn(
            "_s",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("term"), F.lit("|"), F.col("_p"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
    )
    sums = (
        repw.join(signs, "term")
        .groupBy("_id", "_p")
        .agg(F.sum(F.col("_w") * F.col("_s")).alias("_sum"))
    )
    sig = sums.groupBy("_id").agg(
        F.sum(
            F.when(F.col("_sum") > 0, F.expr("shiftleft(1L, _p)")).otherwise(
                F.lit(0)
            )
        ).alias("_sig")
    )
    nblocks = max_hamming + 1
    width = nbits // nblocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                (
                    F.shiftright(F.col("_sig"), b * width)
                    % F.lit(1 << (width if b < nblocks - 1 else nbits - b * width))
                ).alias("val"),
            )
            for b in range(nblocks)
        ]
    )
    keyed = sig.select("_id", "_sig", F.explode(blocks).alias("bb")).select(
        "_id", "_sig", F.col("bb.blk").alias("_blk"), F.col("bb.val").alias("_val")
    )
    cands = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._val") == F.col("b._val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
            <= F.lit(max_hamming)
        )
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .distinct()
    )
    if observation is not None:
        # free per-run density telemetry (an Observation aggregates on the
        # rows the plan already produces — no extra job, no extra scan):
        # candidate count is the quantity the sfN scaling story turns on
        # (r9 verdict: the 35.6x sf0.1->sf1 bulge is claimed to be
        # pair-density saturation — this makes the claim measurable).
        cands = cands.observe(
            observation, F.count(F.lit(1)).alias("candidate_pairs")
        )
    verified = tfidf_cosine_verify(
        cands, df, max_df_frac=max_df_frac, id_col=id_col, text_col=text_col,
        weights=w,
    ).filter(F.col("cosine") >= F.lit(threshold))
    ma = reps.select(F.col("_rep").alias("a_id"), F.col("_m").alias("_ma"))
    mb = reps.select(F.col("_rep").alias("b_id"), F.col("_m").alias("_mb"))
    cross = (
        verified.join(ma, "a_id")
        .join(mb, "b_id")
        .select(
            "a_id",
            "b_id",
            "cosine",
            (F.col("_ma") * F.col("_mb")).cast("bigint").alias("n_members"),
        )
    )
    intra = reps.filter(F.col("_m") >= 2).select(
        F.col("_rep").alias("a_id"),
        F.col("_rep").alias("b_id"),
        F.lit(1.0).alias("cosine"),
        (F.col("_m") * (F.col("_m") - 1) / 2).cast("bigint").alias("n_members"),
    )
    return cross.unionByName(intra)


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard join via PREFIX FILTERING (SSJoin/PPJoin,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — same output contract
    as ``ngram_jaccard_pairs`` (it is graded against the identical naive
    oracle, which is the losslessness proof), different candidate
    generation: order every document's shingles by GLOBAL rarity
    (document frequency asc, shingle tiebreak) and join only each
    document's PREFIX — the first ``|s| − ceil(t·|s|) + 1`` shingles. Any
    pair with J ≥ t must share a prefix token on BOTH sides (the prefix
    principle), so no qualifying pair is lost; everything outside the
    prefixes — in particular every document's most FREQUENT shingles,
    exactly the posting lists that blow up the naive self-join's biggest
    buckets — never enters the join.

    The threshold is a RATIONAL (num/den): the prefix length uses exact
    integer ceil division and the final gate is the integer cross-multiply
    ``n_common·den ≥ num·(|A|+|B|−n_common)`` — no float ever decides a
    boundary pair (the naive row's double-division gate is 1-ulp exposed;
    this one is exact by construction).

    100-TB shape: one shingle-keyed df agg + one doc-keyed window
    (rank-within-doc) + the PREFIX-only shingle equi-join + a
    candidate-driven verify (cand ⋈ postings ⋈ postings) — the
    candidates→verify discipline. At t=1/2 the prefix is ~half of each
    posting list by rows, but the removed half is the FREQUENT half —
    candidate pairs drop superlinearly (measured vs the naive join,
    BASELINE.md). Returns (a_id, b_id, jaccard).

    The exploded posting frame ``sh`` is lazily ``localCheckpoint``-ed:
    it feeds SIX consumers (dfreq, ranked, sizes, prefix×2 via the self
    join, both verify posting sides), and without the pin each consumer
    re-expands the whole scan→spread→explode subtree — the r11 before
    plan shows 10 parquet scans + 10 Generates of the same documents
    table (plans/r11/jaccard_prefix_pairs_before.txt). One lazy pin
    materializes the postings exactly once and every consumer reads
    blocks (guide §2.4/§5: share one computation; lineage truncation).
    Values are untouched — the pin is pure materialization.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a fraction in (0, 1]")
    sh = spread_for_explode(df, DOC_SHINGLE_FANOUT).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(word_shingles(text_col, shingle_n))
        ).alias("shingle"),
    )
    sh = pin("jaccard_prefix_pairs", "postings", sh)
    # dfreq / sizes are CORPUS-DERIVED (shingle-count / doc-count rows):
    # their post-agg size estimates run far below the true in-memory
    # hashed-relation size, so an estimate-driven broadcast OOMs the
    # driver at scale (measured at sf10: broadcast-exchange GC death on
    # the 6M-row sizes frame). merge hints pin them to shuffle joins —
    # they share keys with their probe sides anyway.
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df")).hint("merge")
    ranked = sh.join(dfreq, "shingle").withColumn(
        "_pos",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("shingle").asc())
        ),
    )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n")).hint("merge")
    # p = n − ceil(num·n/den) + 1, in exact integer arithmetic: SQL `div`
    # is true BIGINT division (Column `/` would round-trip through double,
    # whose 53-bit mantissa could mis-floor if num·n+den−1 ever neared
    # 2^53 — unreachable for realistic shingle counts, but `div` makes
    # the exactness unconditional)
    p = (
        F.col("_n")
        - F.expr(
            f"(CAST({threshold_num} AS BIGINT) * _n + {threshold_den - 1}) "
            f"div {threshold_den}"
        )
        + F.lit(1)
    )
    # prefix / cand get the same merge pins as dfreq / sizes: both are
    # EXPLODE-DERIVED (size estimates inherit the pre-explode scan's
    # bytes, far under the true relation size), so at the third decade
    # the planner offers them as 8g-killing broadcast builds unless
    # pinned (the r8 lesson, re-measured at default heap in r9)
    prefix = (
        ranked.join(sizes, "_id")
        .where(F.col("_pos") <= p)
        .select("_id", "shingle", "_n", "_pos")
        .hint("merge")
    )
    # LENGTH filter (SSJoin, r11): J ≥ t implies t·max(|A|,|B|) ≤
    # min(|A|,|B|) (since J ≤ min/max), so candidates whose set sizes
    # differ by more than den/num are provably non-qualifying — pruning
    # them before the verify join is lossless (the exact integer gate
    # below decides every survivor anyway; this only shrinks its input —
    # measured 24.3% fewer candidate pairs at sf0.1, t=1/2). The exact
    # integer form num·max ≤ den·min avoids any float boundary.
    #
    # POSITIONAL filter (PPJoin, Xiao et al. WWW'08 — r12): for a pair
    # whose prefix matches sit at positions (i₁,j₁)…(i_k,j_k), every
    # common shingle OUTSIDE the match set is globally rarer-ranked than
    # the last match in BOTH documents (both prefixes are ordered by the
    # same global (df, shingle) total order, so matches correspond in
    # order; an unmatched common shingle earlier than the last match in A
    # would have to sit inside B's prefix too — i.e. be a match), hence
    # |A∩B| ≤ k + min(|A|−i_max, |B|−j_max). J ≥ num/den needs
    # |A∩B|·(num+den) ≥ num·(|A|+|B|), so pairs whose BOUND fails that
    # inequality are provably non-qualifying. Exact integers throughout;
    # the unchanged verify gate still decides every survivor — this only
    # shrinks the verify join's input (measured at sf0.1, t=1/2:
    # 309,803 → 119,907 candidate pairs, −61.3%). The groupBy replaces
    # the old DISTINCT (same shuffle key, three tiny extra aggregates).
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa._id") < F.col("pb._id"))
            & (
                F.greatest(F.col("pa._n"), F.col("pb._n"))
                * F.lit(threshold_num)
                <= F.least(F.col("pa._n"), F.col("pb._n"))
                * F.lit(threshold_den)
            ),
        )
        .groupBy(
            F.col("pa._id").alias("a_id"),
            F.col("pb._id").alias("b_id"),
            F.col("pa._n").alias("_an"),
            F.col("pb._n").alias("_bn"),
        )
        .agg(
            F.count("*").alias("_k"),
            F.max(F.col("pa._pos")).alias("_imax"),
            F.max(F.col("pb._pos")).alias("_jmax"),
        )
        .where(
            (
                F.col("_k")
                + F.least(
                    F.col("_an") - F.col("_imax"), F.col("_bn") - F.col("_jmax")
                )
            )
            * F.lit(threshold_num + threshold_den)
            >= F.lit(threshold_num) * (F.col("_an") + F.col("_bn"))
        )
        .select("a_id", "b_id")
        .hint("merge")
    )
    a_post = sh.select(F.col("_id").alias("a_id"), "shingle")
    b_post = sh.select(F.col("_id").alias("b_id"), F.col("shingle").alias("shingle"))
    inter = (
        cand.join(a_post, "a_id")
        .join(b_post, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("_id").alias("a_id"), F.col("_n").alias("a_n"))
    sb = sizes.select(F.col("_id").alias("b_id"), F.col("_n").alias("b_n"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .where(
            F.col("n_common") * F.lit(threshold_den)
            >= F.lit(threshold_num)
            * (F.col("a_n") + F.col("b_n") - F.col("n_common"))
        )
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join via asymmetric prefix filtering —
    the directed complement of ``jaccard_prefix_pairs``: emit (a, b,
    containment) where C(A,B) = |A∩B| / |A| ≥ t (how much of document
    a's shingle set lives inside b's). Jaccard misses the
    quote/excerpt/subset-duplicate class by construction — a 12-word
    snippet fully contained in a 500-word page has J ≈ 0.02 but C = 1.0;
    containment dedup (drop documents mostly contained in a kept
    document) is the standard corpus treatment for quoted/boilerplated
    subsets (the SSJoin containment variant, Chaudhuri et al. ICDE'06
    §3: R-prefix vs unindexed-S).

    The prefix principle, ASYMMETRIC edition: C(A,B) ≥ t needs
    |A∩B| ≥ ceil(t·|A|), so A cannot miss B on ALL of its first
    ``|A| − ceil(t·|A|) + 1`` globally-rarest shingles — the probe side
    prefixes exactly like the Jaccard join, but the INDEXED side must
    stay FULL (B is unbounded above: a page can contain any snippet, so
    B-side pruning would lose pairs). The join is still rare-keyed:
    candidates form only on the probe's rare prefix shingles, so the
    frequent posting lists enter the join ONLY as the indexed side of
    those rare keys, never self-joined. Threshold is RATIONAL; the gate
    ``n_common·den ≥ num·|A|`` is exact integer arithmetic.

    100-TB shape: identical stage inventory to jaccard_prefix_pairs
    (one df agg, one per-doc rarity window, prefix×postings equi-join,
    candidate-driven verify) with the same merge pins on the
    explode-derived frames; directed output, self-pairs excluded.
    ``sh`` is lazily ``localCheckpoint``-ed for the same reason as in
    ``jaccard_prefix_pairs`` — its consumers (dfreq, ranked, sizes, both
    verify posting sides) each re-expanded the scan→explode subtree (14
    scans in the r11 before plan); since r12 the windowed ``ranked``
    frame is pinned as well (it feeds both prefix and full, carrying the
    rarity positions the positional filter needs).
    Returns (a_id, b_id, containment) — a is the contained side.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must be a fraction in (0, 1]")
    sh = spread_for_explode(df, DOC_SHINGLE_FANOUT).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(word_shingles(text_col, shingle_n))
        ).alias("shingle"),
    )
    sh = pin("containment_prefix_pairs", "postings", sh)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df")).hint("merge")
    # ranked is pinned too (r12): the positional filter below needs B-side
    # rarity positions, so the windowed frame now has TWO consumers
    # (prefix AND full) — without the pin the dfreq join + per-doc window
    # would run twice. Thin projection only (id, shingle, pos).
    ranked = sh.join(dfreq, "shingle").withColumn(
        "_pos",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("shingle").asc())
        ),
    )
    ranked = pin(
        "containment_prefix_pairs", "ranked",
        ranked.select("_id", "shingle", "_pos"),
    )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n")).hint("merge")
    # probe prefix p = n − ceil(num·n/den) + 1 (exact BIGINT div ceil)
    p = (
        F.col("_n")
        - F.expr(
            f"(CAST({threshold_num} AS BIGINT) * _n + {threshold_den - 1}) "
            f"div {threshold_den}"
        )
        + F.lit(1)
    )
    prefix = (
        ranked.join(sizes, "_id")
        .where(F.col("_pos") <= p)
        .select("_id", "shingle", "_n")
        .hint("merge")
    )
    full = ranked.select(
        F.col("_id").alias("_b"), "shingle", F.col("_pos").alias("_jb")
    )
    # POSITIONAL filter, asymmetric edition (PPJoin bound adapted to
    # R-prefix × full-S — r12): matches correspond in rarity order on
    # both sides (one global (df, shingle) total order), so a common
    # shingle OUTSIDE the match set is either beyond A's prefix (at most
    # ceil(num·|A|/den) − 1 = |A| − p_A such shingles exist at all) and,
    # being rarer than the last match, sits after j_max in B — hence
    # |A∩B| ≤ k + min(|A| − p_A, |B| − j_max). C(A,B) ≥ num/den needs
    # |A∩B|·den ≥ num·|A|; pairs whose bound fails are provably
    # non-qualifying, the unchanged verify gate decides every survivor.
    # Exact integers; b_n attaches at PAIR scale (post-agg), never on the
    # corpus-scale join input. Measured at sf0.1, t=4/5:
    # 299,544 → 173,683 candidate pairs (−42.0%). The groupBy replaces
    # the old DISTINCT (same shuffle key).
    sb_cand = sizes.select(F.col("_id").alias("b_id"), F.col("_n").alias("_bn"))
    ceil_a = F.expr(
        f"(CAST({threshold_num} AS BIGINT) * _an + {threshold_den - 1}) "
        f"div {threshold_den}"
    )
    cand = (
        prefix.join(full, "shingle")
        .where(F.col("_id") != F.col("_b"))
        .groupBy(
            F.col("_id").alias("a_id"),
            F.col("_b").alias("b_id"),
            F.col("_n").alias("_an"),
        )
        .agg(F.count("*").alias("_k"), F.max("_jb").alias("_jmax"))
        .join(sb_cand, "b_id")
        .where(
            (
                F.col("_k")
                + F.least(ceil_a - F.lit(1), F.col("_bn") - F.col("_jmax"))
            )
            * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("_an")
        )
        .select("a_id", "b_id")
        .hint("merge")
    )
    a_post = sh.select(F.col("_id").alias("a_id"), "shingle")
    b_post = sh.select(F.col("_id").alias("b_id"), F.col("shingle").alias("shingle"))
    inter = (
        cand.join(a_post, "a_id")
        .join(b_post, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("_id").alias("a_id"), F.col("_n").alias("a_n"))
    return (
        inter.join(sa, "a_id")
        .where(
            F.col("n_common") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("a_n")
        )
        .select(
            "a_id",
            "b_id",
            F.round(F.col("n_common") / F.col("a_n"), 6).alias("containment"),
        )
    )
