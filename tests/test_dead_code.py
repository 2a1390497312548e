"""The engine package holds no code that only its tests run, unless that
code is listed in ``TEST_ONLY`` with the reason it stays; and no package
module imports a name it never uses.

Reachability starts at the roots: ``__spark_entry__.py``, ``perfbench/``,
``scripts/`` and every ``@register``ed query. A reached body reaches each
top-level package definition whose name it uses (a load or an attribute;
``import x as y`` maps ``y`` back to ``x``). An import alone is not a use,
and ``tests/`` never counts. Checked by parsing the sources with ``ast``,
without importing them or starting Spark.

A definition that no root reaches is dead unless ``TEST_ONLY`` lists it
under one reason: a reference behaviour (an R-number of SURVEY.md §2A)
or a SURVEY.md §2B row that keeps an implementation without a registry
key of its own. A listed entry that no longer exists, or that a root now
reaches, fails too, so the table stays exact."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "etl_adsbx_spark")
ROOT_DIRS = ("perfbench", "scripts")

#: Definitions only tests reach, as ``module.name`` under the package,
#: grouped by the reason each stays.
TEST_ONLY = {
    "R1/R2: the ADSBX_API base variants of the HTTP source (task.ts:15-21)": (
        "sources.http.ADSBX_API_RAPIDAPI",
        "sources.http.ADSBX_API_VARIANTS",
    ),
    "R4: PERMISSIVE quarantine of the schema-validated parse; quirk #1 alt_baro": (
        "sources.files.quarantine",
        "functions.scalar.alt_baro_ft",
        "functions.scalar.alt_baro_is_ground",
    ),
    "R21 across ticks (§2B 'Stateful cross-batch dedup')": (
        "streaming.dedup.streaming_dropdup",
        "streaming.dedup.TRACK_STATE_SCHEMA",
        "streaming.dedup.TRACK_OUTPUT_SCHEMA",
        "streaming.dedup._track_fn",
        "streaming.dedup.stateful_last_position",
    ),
    "R27: ids.size per batch (task.ts:251) as a zero-job observe metric": (
        "operators.agg.observed_count",
    ),
    "R28 (§2B 'Parquet/JSON/ORC file sink'): the partitioned corpus writer": (
        "sinks.write_corpus",
        "sinks.compact_parquet",
    ),
    "R29: the scheduled micro-batch driver and its stateful session legs": (
        "streaming.windows.run_micro_batches",
        "plans.flagship.flagship_stream_sessions",
        "streaming.sessionize.sessionize_tick",
        "streaming.sessionize.SESSION_STATE_SCHEMA",
        "streaming.sessionize.stateful_sessionize",
        "streaming.sessionize.IncrementalSessionizer",
    ),
    "R30: schema introspection (task.ts:100-113)": ("schemas.schema_registry",),
    "§2B 'Stream-stream interval join'": ("streaming.windows.stream_interval_join",),
    "§2B 'Schema-drift reconciliation'": ("sources.files.reconcile_schema",),
    "§2B 'CSV/TSV validated source'": (
        "sources.files.read_csv_validated",
        "sources.files.csv_quarantine",
        "sources.files.parse_csv_lines",
    ),
    "§2B 'WARC shard ingest': the file source and the record serializer": (
        "sources.warc._record_rows",
        "sources.warc.read_warc",
        "sources.warc.warc_response_record",
    ),
    "§2B 'WebDataset tar-shard ingest'": (
        "sources.webdataset.MEMBER_SCHEMA",
        "sources.webdataset.read_webdataset",
        "sources.webdataset.group_samples",
        "sources.webdataset.samples_as_media",
    ),
    "§2B 'BPE tokenizer fitting'": (
        "functions.bpe.EOW",
        "functions.bpe.MERGES_SCHEMA",
        "functions.bpe.word_freq",
        "functions.bpe._initial_symbols",
        "functions.bpe._merge_fold",
        "functions.bpe._pair_counts",
        "functions.bpe._fit_merges_local",
        "functions.bpe.fit_bpe",
        "functions.bpe._encode_word",
        "functions.bpe.bpe_encode",
        "functions.bpe.bpe_decode_tokens",
    ),
    "§2B 'Pretrained GPT-2-format BPE'": (
        "functions.bpe.gpt2_bytes_to_unicode",
        "functions.bpe._GPT2_CONTRACTIONS",
        "functions.bpe.gpt2_pretokenize",
        "functions.bpe.load_gpt2_merges",
        "functions.bpe.load_gpt2_vocab",
        "functions.bpe._gpt2_encode_pretoken",
        "functions.bpe.bpe_encode_pretrained",
    ),
    "§2B 'Compression-ratio quality signal'": ("functions.signals.with_compression_ratio",),
    "§2B 'Text canonicalization'": (
        "functions.signals.with_nfc_text",
        "functions.text.canonicalize_text",
    ),
    "§2B 'Within-document repeated-paragraph removal'": (
        "functions.text.dedup_paragraphs",
        "functions.text.n_paragraphs_removed",
    ),
    "§2B 'Writing-system composition signal'": ("functions.text.script_ratios",),
    "§2B 'Blocklist + URL/domain filtering'": (
        "functions.text.blocklist_hits",
        "functions.text.extract_urls",
        "functions.text.url_domains",
        "functions.text.domain_blocked",
    ),
    "§2B 'Maintained distinct-count sketches'": (
        "operators.agg.distinct_sketch",
        "operators.agg.merge_distinct_sketches",
        "operators.agg.sketch_estimate",
    ),
    "§2B 'Whole-document bin packing'": ("operators.agg.pack_bins",),
    "§2B 'Count-min frequency sketch'": (
        "operators.agg.cms_table",
        "operators.agg.cms_merge",
        "operators.agg.cms_probe",
        "operators.agg.maintained_topk",
    ),
    "§2B 'Maintained quantile sketches'": (
        "operators.agg.quantile_sketch",
        "operators.agg.merge_quantile_sketches",
        "operators.agg.sketch_quantiles",
        "operators.agg.quantile_drift",
    ),
    "§2B 'Theta-sketch release analytics'": (
        "operators.agg.theta_sketch",
        "operators.agg.theta_set_report",
    ),
    "§2B 'Corpus generation monitoring plan'": (
        "plans.monitor.generation_sketches",
        "plans.monitor.generation_report",
    ),
    "§2B 'Dataset-card report' over the near-dup cleaning audit": (
        "plans.corpus.clean_corpus",
        "plans.corpus.corpus_audit",
        "plans.corpus.corpus_report",
    ),
    "§2B 'Bloom-filter admission index', 'Distributed Bloom word table', "
    "'Bloom index maintenance'": (
        "operators.dedup.bloom_index",
        "operators.dedup.bloom_word_table",
        "operators.dedup.bloom_merge",
    ),
    "§2B 'Near-dup clustering': incremental label maintenance": (
        "operators.dedup.cc_incremental",
    ),
    "§2B 'LSH parameter planner'": (
        "operators.dedup.lsh_candidate_prob",
        "operators.dedup.plan_lsh",
    ),
    "§2B 'SimHash Hamming-ball near-dup join'": ("operators.dedup.simhash_neardup_pairs",),
    "§2B 'Sparse TF-IDF weighted-cosine near-dup join': the exact all-pairs join": (
        "operators.dedup.tfidf_cosine_pairs",
    ),
    "§2B 'Event analytics': the SCD2 merge": ("operators.events.scd2_merge",),
    "§2B 'Deterministic training-order shuffle'": (
        "operators.layout.shuffle_key",
        "operators.layout.deterministic_shuffle",
    ),
    "§2B 'Dataset mixing': the filter and upsampling forms": (
        "operators.sampling.hash_sample",
        "operators.sampling.stratified_sample",
        "operators.sampling.weighted_mix",
    ),
    "§2B 'Skew diagnostic report'": ("operators.skew.skew_report",),
    "§2B 'Multimodal': the media schema": ("operators.multimodal.MEDIA_SCHEMA",),
    "§2B 'Image near-dup (perceptual hash)'": (
        "operators.multimodal.PHASH_SCHEMA",
        "operators.multimodal._dct_matrix",
        "operators.multimodal._phash_of_gray",
        "operators.multimodal.phash_images",
        "operators.multimodal._phash_block_keys",
        "operators.multimodal.phash_pairs",
        "operators.multimodal.incremental_media_admit",
    ),
    "§2B 'Audio near-dup (spectral fingerprints)'": (
        "operators.multimodal.AUDIO_FP_SCHEMA",
        "operators.multimodal.audio_fingerprint",
        "operators.multimodal.audio_candidate_pairs",
    ),
    "§2B 'Video near-dup (per-frame hashes)'": (
        "operators.multimodal.VIDEO_PHASH_SCHEMA",
        "operators.multimodal._y4m_geometry",
        "operators.multimodal.video_frame_phashes",
        "operators.multimodal.video_candidate_pairs",
    ),
    "§2B 'Persistable IVF index'": (
        "operators.similarity.ivf_index",
        "operators.similarity.ivf_append",
    ),
    "§2B 'Embedding-space decontamination'": ("operators.similarity.embedding_decontaminate",),
    "§2B 'Incremental semantic admission'": ("operators.similarity.incremental_semantic_dedup",),
    "§2B 'Retrieval plan: chunk → embed → LSH index → search'": (
        "plans.rag.hashed_bow_embed",
        "plans.rag.embed_texts",
        "plans.rag.chunk_embed_index",
        "plans.rag.index_signatures",
        "plans.rag.index_ivf",
        "plans.rag.hybrid_search",
        "plans.rag.search_index",
    ),
}


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _package_modules() -> dict[str, tuple[str, ast.Module]]:
    """``module`` (dotted, under the package) -> (path, tree)."""
    out = {}
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        mod = os.path.relpath(path, PACKAGE)[: -len(".py")].replace(os.sep, ".")
        out[mod] = (path, _parse(path))
    return out


def _root_trees() -> list[ast.Module]:
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for d in ROOT_DIRS:
        paths += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    return [_parse(p) for p in sorted(paths)]


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and (getattr(d.func, "id", None) or getattr(d.func, "attr", None)) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _definitions(tree: ast.Module):
    """(name, statement) of every top-level function, class and constant."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield name.id, node


def _aliases(trees) -> dict[str, set[str]]:
    """``y`` -> {``x``} for every ``import x as y`` / ``from m import x as y``."""
    out: dict[str, set[str]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                out.setdefault(node.asname, set()).add(node.name.rsplit(".", 1)[-1])
    return out


def _uses(node: ast.AST, aliases: dict[str, set[str]]):
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id
            yield from aliases.get(n.id, ())
        elif isinstance(n, ast.Attribute):
            yield n.attr


def _reachability():
    """({``module.name``: (path, node)}, set of reached ``module.name``)."""
    modules = _package_modules()
    roots = _root_trees()
    aliases = _aliases([t for _, t in modules.values()] + roots)
    defs: dict[str, tuple[str, ast.AST]] = {}
    by_name: dict[str, list[str]] = {}
    work: list[ast.AST] = list(roots)
    reached: set[str] = set()
    for mod, (path, tree) in modules.items():
        for name, node in _definitions(tree):
            qual = f"{mod}.{name}"
            defs[qual] = (path, node)
            by_name.setdefault(name, []).append(qual)
            if (name.startswith("__") and name.endswith("__")) or _is_registered(node):
                reached.add(qual)
                work.append(node)
    seen: set[str] = set()
    while work:
        for name in _uses(work.pop(), aliases):
            if name in seen:
                continue
            seen.add(name)
            for qual in by_name.get(name, ()):
                if qual not in reached:
                    reached.add(qual)
                    work.append(defs[qual][1])
    return defs, reached


def _listed() -> list[str]:
    return [qual for quals in TEST_ONLY.values() for qual in quals]


def _where(defs, qual: str) -> str:
    path, node = defs[qual]
    return f"{os.path.relpath(path, REPO)}:{node.lineno} {qual.rsplit('.', 1)[-1]}"


def test_every_package_definition_is_reachable_from_a_root_or_listed():
    defs, reached = _reachability()
    listed = set(_listed())
    dead = [_where(defs, q) for q in defs if q not in reached and q not in listed]
    assert not dead, (
        "no root reaches these definitions (delete them, or list them in "
        "TEST_ONLY with their R-number or SURVEY.md §2B row):\n" + "\n".join(dead)
    )


def test_test_only_table_is_exact():
    defs, reached = _reachability()
    listed = _listed()
    dups = sorted({q for q in listed if listed.count(q) > 1})
    stale = [q for q in listed if q not in defs]
    live = [_where(defs, q) for q in listed if q in reached]
    assert not (dups or stale or live), (
        f"TEST_ONLY listed twice: {dups}\nno such definition: {stale}\n"
        "reached from a root:\n" + "\n".join(live)
    )


def _bound_names(node: ast.Import | ast.ImportFrom):
    for alias in node.names:
        yield alias.asname or alias.name.split(".", 1)[0]


def _loaded_names(tree: ast.Module) -> set[str]:
    """Every name a load uses, including the names inside quoted
    annotations (``-> "Decimal"``)."""
    used = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            used.add(n.id)
        elif isinstance(n, (ast.arg, ast.FunctionDef, ast.AsyncFunctionDef, ast.AnnAssign)):
            ann = n.returns if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) else n.annotation
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                used |= {m.id for m in ast.walk(ast.parse(ann.value)) if isinstance(m, ast.Name)}
    return used


def test_package_has_no_unused_imports():
    """In the package and in ``tests/``; ``__init__.py`` re-exports and
    ``from __future__`` are exempt."""
    tests = sorted(glob.glob(os.path.join(REPO, "tests", "*.py")))
    unused = []
    for path, tree in [*_package_modules().values(), *((p, _parse(p)) for p in tests)]:
        if os.path.basename(path) == "__init__.py":
            continue
        used = _loaded_names(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                unused += [
                    f"{os.path.relpath(path, REPO)}:{node.lineno} {name}"
                    for name in _bound_names(node)
                    if name != "*" and name not in used
                ]
    assert not unused, "imported but never used:\n" + "\n".join(unused)
