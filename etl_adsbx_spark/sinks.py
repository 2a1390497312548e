"""Sinks: FeatureCollection document assembly + file/HTTP emit
(task.ts:252-257, R28)."""

from __future__ import annotations

import json
from collections.abc import Callable
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import POSITION


def submit(features: DataFrame, post_fn: Callable[[str], None]) -> int:
    """`submit()` equivalent (task.ts:257): POST the batch's single
    FeatureCollection document. Returns the feature count (the reference
    logs ids.size, task.ts:251).

    The reference emits ONE document per tick (task.ts:252-255), so a
    driver-side collect of the (already deduped, O(10³-10⁴) row) feature set
    is the correct shape — this is the one place `collect()` is legitimate.

    One Spark action: the features' ``to_json`` strings are collected,
    ordered by ``POSITION`` on the driver (a global ``orderBy`` would add
    a range-partition sampling job) and joined as they are; the count is
    the number of collected rows. The document therefore carries Spark's
    JSON text: raw UTF-8 rather than ``\\uXXXX`` escapes, and Java's double
    formatting (``1.0E-5``).
    """
    body = F.to_json(F.struct(*[c for c in features.columns if c != POSITION]))
    rows = sorted(features.select(POSITION, body).collect(), key=itemgetter(0))
    post_fn('{"type":"FeatureCollection","features":[' + ",".join(r[1] for r in rows) + "]}")
    return len(rows)


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
    salt_col: str | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Curated-corpus writer: hive-partitioned, small-file-safe,
    optionally clustered for row-group pruning. ``file_format`` selects
    the columnar container — "parquet" (default) or "orc"; both are
    Spark-native, support predicate pushdown + partition pruning, and get
    the identical shuffle/sort/file-budget treatment (ORC matters for
    Hive-ecosystem consumers of a published corpus).

    The naive ``df.write.partitionBy(cols)`` writes one file per (task ×
    live partition value) — at 100 TB with thousands of tasks and hundreds
    of partition values that is the classic small-files explosion (memory
    too: each task holds one open parquet writer PER value it encounters).
    This writer shuffles first so each hive partition's rows land on
    exactly ``files_per_partition`` tasks:

    - the shuffle key is (partition_by…, file slot), where the slot is
      ``pmod(xxhash64(salt_col), files_per_partition)`` — content-derived
      (deterministic under retry, unlike round-robin), and skew-safe: a
      single hot partition value still spreads over ``files_per_partition``
      tasks. Pick ``files_per_partition`` ≈ partition bytes / desired file
      size. With the default 1, each hive partition is exactly one file.
    - ``sort_by`` applies ``sortWithinPartitions(partition_by…, sort_by…)``
      after the shuffle, so parquet row-group min/max stats actually prune
      on those columns for readers filtering inside a partition. The
      partition columns MUST lead the sort: a dynamic-partition write whose
      input is not already ordered by the partition columns gets an
      implicit writer-side sort on exactly those columns (one open file per
      task), and that sort is NOT stable — it permutes rows within equal
      partition keys and silently destroys any secondary clustering
      (observed: hash-order clustering scrambled whenever one task carried
      several partition values). Leading with the partition columns makes
      the writer's required ordering a satisfied prefix, so it skips its
      own sort and the secondary order survives to the row groups.
    - ``max_records_per_file`` caps runaway files via the DataSource
      option of the same name (rows, not bytes — estimate from the
      corpus's average row width).
    """
    salt = salt_col or partition_by[-1]
    slot = F.pmod(F.xxhash64(F.col(salt)), F.lit(max(1, files_per_partition)))
    out = df.withColumn("_slot", slot).repartition(
        *[F.col(c) for c in partition_by], F.col("_slot")
    )
    if sort_by:
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    w = out.drop("_slot").write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if file_format == "parquet":
        w.parquet(path)
    elif file_format == "orc":
        w.orc(path)
    else:
        raise ValueError(f"unsupported corpus file_format: {file_format!r}")


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    mode: str = "overwrite",
) -> int:
    """Compact a small-files parquet directory into ~``target_file_bytes``
    files (the maintenance pass every long-lived ingest needs: per-tick
    micro-batch writes accumulate thousands of tiny files whose open/footer
    overhead eventually dominates scans). File count is sized from the
    *actual on-disk bytes* of the source, never a row-count guess;
    ``coalesce`` (not ``repartition``) avoids a full shuffle — compaction
    is IO-bound, so collapsing read tasks is exactly what we want. Returns
    the target file count. Partitioned layouts: compact per partition (this
    helper is the flat-directory case; hive-partitioned dirs keep their
    structure by re-running ``write_corpus`` instead)."""
    import os

    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, round(total / target_file_bytes))
    spark.read.parquet(src).coalesce(n_files).write.mode(mode).parquet(dst)
    return n_files


def corpus_diff_content(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Content-aware run-to-run corpus delta: ids added, removed, and
    'changed' (same id, different content) via ONE full-outer equi-join
    on the id comparing content fingerprints — the re-publish review
    that also answers "which surviving documents did the new
    normalization rewrite?". Output: (id_col, change) with change in
    {'added','removed','changed','unchanged'}.

    Scale shape: both sides prune to (id, md5) at the scan — the join
    ships 2 narrow columns regardless of document size; one shuffle
    keyed on the id. The full-outer join is the right primitive here
    (a pair of id anti-joins cannot see 'changed', and a 3-way union of
    anti/anti/inner would scan each side twice)."""
    o = old.select(F.col(id_col), F.md5(F.col(content_col)).alias("_oh"))
    n = new.select(F.col(id_col), F.md5(F.col(content_col)).alias("_nh"))
    return (
        o.join(n, id_col, "full_outer")
        .select(
            F.col(id_col),
            F.when(F.col("_oh").isNull(), F.lit("added"))
            .when(F.col("_nh").isNull(), F.lit("removed"))
            .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change"),
        )
    )


def exactly_once_batch_sink(path: str, commit: str = "marker"):
    """``foreachBatch`` sink with EXACTLY-ONCE publication per batchId —
    the task-retry story at the sink. Structured Streaming's foreachBatch
    is at-least-once: after a driver failure the restarted query RE-FIRES
    the last unacknowledged batch with the SAME batchId.

    The commit protocol is object-store-safe (S3-class stores have NO
    atomic directory rename): each ATTEMPT writes its data under an
    attempt-unique prefix ``batch=<id>/attempt=<token>`` (so two
    concurrent attempts of the same batchId — the zombie-driver replay
    case — can never interleave bytes), and the commit record is one
    ``_COMMITTED.<id>`` marker object published with a single atomic
    PUT (``O_EXCL`` create locally) AFTER the data lands and is fsynced
    — the Iceberg/Delta pointer-flip protocol in one file. The marker
    names the winning attempt and carries a per-file manifest
    (relpath → bytes + sha256), so readers resolve data THROUGH the
    marker and can verify every committed object is present and whole:

    - marker exists and parses → committed; replay is a NO-OP
      regardless of what the data prefix looks like.
    - marker PUT loses the ``O_EXCL`` race (``FileExistsError``) → the
      existing marker is re-validated: if it parses, another attempt
      won and this attempt's prefix is deleted as garbage; if it is
      TORN (a concurrent attempt crashed mid-PUT), it is healed
      (deleted) and the PUT retried.
    - after WINNING, stray sibling objects under ``batch=<id>`` (torn
      attempts that can no longer win — the marker exists) are
      garbage-collected object-by-object; unreferenced attempt prefixes
      are invisible to readers either way, because readers list markers,
      never data prefixes.

    This Python layer never renames (pinned by a monkeypatched-
    ``os.rename`` test). Scope honesty: Spark's OWN file committer may
    still rename task files inside the batch write — on a real object
    store pair this sink with an S3A "magic"/zero-rename committer.
    Durability: every data file is fsynced (and the attempt + batch
    directory entries flushed) BEFORE the marker PUT, so a durable
    marker never references non-durable objects on a POSIX host; on a
    real object store PUT visibility already implies durability and the
    fsyncs degrade to no-ops.

    Returns the (df, batch_id) callable for
    ``writeStream.foreachBatch(...)``; read the corpus back with
    ``read_committed_batches``. Each batch is a plain parquet write; a
    ``POSITION`` column is never written. ``commit`` names the protocol
    and accepts only ``"marker"``."""
    import os

    if commit != "marker":
        raise ValueError(f"unknown commit protocol: {commit!r}")

    def sink_marker(df: DataFrame, batch_id: int) -> None:
        import hashlib
        import uuid

        final = os.path.join(path, f"batch={batch_id}")
        marker = _marker_path(path, batch_id)
        if os.path.exists(marker):
            # a marker is the commit record ONLY if it parses: a crash
            # between the O_EXCL create and the write leaves an empty/
            # truncated marker, which must read as UNCOMMITTED — else the
            # replay no-ops forever while readers crash on it (wedged
            # batch). Torn marker -> heal (delete) and fall through.
            if _load_marker(marker) is not None:
                return  # committed — replay is a NO-OP
            os.unlink(marker)
        token = uuid.uuid4().hex[:16]
        attempt_dir = os.path.join(final, f"attempt={token}")
        # a feature's tick position is not data
        df.drop(POSITION).write.mode("overwrite").parquet(attempt_dir)
        # manifest + durability in one pass: size and sha256 every data
        # object, fsync it, then flush the directory entries — only THEN
        # may the marker become durable (a durable marker must never
        # point at non-durable bytes)
        files: dict[str, dict] = {}
        for root, _dirs, fs in os.walk(attempt_dir):
            for f in fs:
                if f.startswith(".") or f.startswith("_"):
                    continue
                fp = os.path.join(root, f)
                h = hashlib.sha256()
                with open(fp, "rb") as fh:
                    for chunk in iter(lambda: fh.read(1 << 20), b""):
                        h.update(chunk)
                    os.fsync(fh.fileno())
                files[os.path.relpath(fp, attempt_dir)] = {
                    "bytes": os.path.getsize(fp),
                    "sha256": h.hexdigest(),
                }
        for d in (attempt_dir, final):
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        body = json.dumps(
            {
                "batch_id": batch_id,
                "attempt": token,
                "n_files": len(files),
                "files": files,
            },
            sort_keys=True,
        ).encode()
        # single-object atomic publish: O_EXCL create + one write + fsync
        # (the local stand-in for an S3 conditional PUT, all-or-nothing)
        won = False
        for _ in range(8):
            try:
                fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            except FileExistsError:
                # lost the race: re-validate the existing marker instead
                # of crashing (the concurrent-replay case this protocol
                # exists for)
                if _load_marker(marker) is not None:
                    # another attempt committed — this attempt's prefix
                    # is unreferenced garbage; remove it and succeed
                    _rm_objects(attempt_dir)
                    return
                try:  # torn marker from a crashed rival: heal, retry PUT
                    os.unlink(marker)
                except FileNotFoundError:
                    pass
                continue
            try:
                os.write(fd, body)
                os.fsync(fd)
            finally:
                os.close(fd)
            won = True
            break
        if not won:
            raise RuntimeError(
                f"marker PUT for batch {batch_id} kept losing to torn "
                f"markers after 8 attempts: {marker}"
            )
        # we won: torn sibling attempts can never win now — GC them so
        # the prefix doesn't accumulate unreferenced garbage
        for entry in os.listdir(final):
            if entry != f"attempt={token}":
                _rm_objects(os.path.join(final, entry))

    return sink_marker


def _load_marker(marker: str) -> dict | None:
    """Parse a commit marker; None when missing or TORN (unparseable —
    a crash between the O_EXCL create and the write)."""
    try:
        with open(marker) as fh:
            return json.load(fh)
    except (ValueError, OSError):
        return None


def _rm_objects(p: str) -> None:
    """Delete a file or a tree object-by-object (unlink + rmdir — the
    only primitives an object store guarantees; never rename)."""
    import os

    if not os.path.isdir(p):
        try:
            os.unlink(p)
        except FileNotFoundError:
            pass
        return
    for root, _dirs, files in os.walk(p, topdown=False):
        for f in files:
            try:
                os.unlink(os.path.join(root, f))
            except FileNotFoundError:
                pass
        try:
            os.rmdir(root)
        except (FileNotFoundError, OSError):
            pass


def _marker_path(path: str, batch_id: int | str) -> str:
    import os

    return os.path.join(path, f"_COMMITTED.{batch_id}")


def read_committed_batches(spark, path: str, verify: str = "size") -> DataFrame:
    """Read every COMMITTED batch of an ``exactly_once_batch_sink``
    corpus: list the ``_COMMITTED.*`` markers and read exactly the
    attempt prefixes they name (the ``batch=<id>`` dirs read back as a
    hive partition column). A data prefix without a marker is an
    uncommitted torn write and stays invisible; a MARKER whose manifest
    names a missing/short object is corruption and fails loudly before
    any row is served. ``verify="hash"`` additionally re-hashes every
    committed object against the manifest's sha256 (full-scan cost — for
    audits; ``"size"`` is the steady-state check)."""
    import glob as _glob
    import hashlib
    import os

    if verify not in ("size", "hash"):
        raise ValueError(f"unknown verify level: {verify!r}")
    dirs = []
    for marker in sorted(_glob.glob(_marker_path(path, "*"))):
        meta = _load_marker(marker)
        if meta is None:
            # torn marker (crash mid-PUT): the batch is UNCOMMITTED —
            # the sink's replay heals it; skip it here so the corpus
            # stays readable in the meantime
            continue
        attempt_dir = os.path.join(
            path, f"batch={meta['batch_id']}", f"attempt={meta['attempt']}"
        )
        for rel, info in meta["files"].items():
            fp = os.path.join(attempt_dir, rel)
            if not os.path.exists(fp) or os.path.getsize(fp) != info["bytes"]:
                raise ValueError(
                    f"committed batch {meta['batch_id']} is missing or has a "
                    f"short object: {rel} (marker says {info['bytes']} bytes)"
                )
            if verify == "hash":
                h = hashlib.sha256()
                with open(fp, "rb") as fh:
                    for chunk in iter(lambda: fh.read(1 << 20), b""):
                        h.update(chunk)
                if h.hexdigest() != info["sha256"]:
                    raise ValueError(
                        f"committed batch {meta['batch_id']} object {rel} "
                        "fails its manifest sha256 — corruption"
                    )
        dirs.append(attempt_dir)
    if not dirs:
        # zero committed batches: reading the batch=* prefixes would
        # expose torn uncommitted writes — fail loudly instead
        raise ValueError(f"no committed batches under {path!r}")
    return spark.read.option("basePath", path).parquet(*dirs).drop("attempt")
