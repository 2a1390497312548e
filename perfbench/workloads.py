"""The benchmark's workloads. Each drives the program from one Python
thread — a closed loop with one client on ``local[nproc]`` — and records
per-operation latencies and output checks on a :class:`Run`.

An operation (op) is one tick or one stream micro-batch on
``adsb_pipeline`` and one registry query on ``parquet_analytics``. Inputs
come from the seed; output checks run outside the timed region and
count toward ``failed`` instead of aborting the run.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import data
import gen
from tracing import Tracer

from pyspark.sql import functions as F

from etl_adsbx_spark import pipeline, sinks
from etl_adsbx_spark.planprobe import release_pins
from etl_adsbx_spark.schemas import ENV_DEFAULTS, INCLUDES_SCHEMA
from etl_adsbx_spark.sources.files import parse_envelope
from etl_adsbx_spark.sources.http import ADSBX_API_DIRECT, build_url, fetch_batch


@dataclass
class Run:
    """What one benchmark run measured."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    t_start: float
    trace: bool
    setup_s: float | None = None
    latencies_ms: list[float] = field(default_factory=list)
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    units: dict[str, int] = field(default_factory=dict)
    traced_ms: dict[str, list[float]] = field(default_factory=dict)
    untraced_ms: dict[str, list[float]] = field(default_factory=dict)
    pins: list[int] = field(default_factory=list)
    round_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong output: {what}", file=sys.stderr)

    def first_result(self) -> None:
        """Marks the first result: the end of set-up."""
        if self.setup_s is None:
            self.setup_s = time.monotonic() - self.t_start

    def record(self, kind: str, units: int, ms: float, traced: bool) -> None:
        """One measured op of ``kind`` (tick or stream batch and payload
        size, or a query) that did ``units`` of work (aircraft, or one
        query). In a traced run,
        traced and untraced ops alternate so the two medians give the
        tracing overhead."""
        self.latencies_ms.append(ms)
        self.by_kind.setdefault(kind, []).append(ms)
        self.units[kind] = units
        (self.traced_ms if traced else self.untraced_ms).setdefault(kind, []).append(ms)

    def more_rounds(self, rounds: int, measured_s: float, least: int) -> bool:
        """Whether to measure another round: at least ``least``, then
        until ``--seconds`` of op time is measured. A traced run traces
        its odd rounds and measures at least three, so that the traced
        rounds sit between untraced ones on the JVM's warm-up curve."""
        return rounds < max(least, 3 * self.trace) or measured_s < self.seconds

    def kind_medians_ms(self) -> dict[str, float]:
        """Each op kind's median latency; every kind runs the same number
        of times."""
        return {k: statistics.median(v) for k, v in self.by_kind.items()}

    def latency_ms(self) -> float:
        """Geometric mean over op kinds of each kind's median latency."""
        meds = self.kind_medians_ms().values()
        return math.exp(statistics.fmean(math.log(m) for m in meds))

    def trace_overhead_pct(self) -> float:
        """Traced over untraced median latency, per op kind, combined by
        geometric mean over the kinds run both ways."""
        med = statistics.median
        ratios = [med(self.traced_ms[k]) / med(self.untraced_ms[k])
                  for k in self.traced_ms if k in self.untraced_ms]
        return (math.exp(statistics.fmean(math.log(r) for r in ratios)) - 1) * 100

    def work_per_s(self) -> float:
        """Work units per second for one op of every kind: aircraft per
        second on ``adsb_pipeline``, queries per second on
        ``parquet_analytics``. The time is the median wall time of a
        round where a workload records whole rounds (``round_s``), else
        the sum of each kind's median latency."""
        meds = self.kind_medians_ms()
        work = sum(self.units[k] for k in meds)
        if self.round_s:
            return work / statistics.median(self.round_s)
        return work / (sum(meds.values()) / 1e3)


# --- adsb_pipeline --------------------------------------------------------

#: Measured rounds per run, at least; more only where these take less
#: than ``--seconds``.
ROUNDS = 2
#: Stream batch ids and tick op ids share the tracer's op space; stream
#: batches are numbered from here.
STREAM_OP = 1_000_000


def adsb_pipeline(run: Run) -> None:
    """The reference's tick and the same pipeline as a micro-batch stream,
    in one run so that both share one JVM launch.

    A tick is the reference's scheduled job, back to back: fetch one
    envelope (in memory), control(filtering) with the includes join, nest
    the features, submit one FeatureCollection. A stream batch is one
    envelope file of a file-source Structured Streaming query run as a
    scheduled ``availableNow`` job: ``foreachBatch`` runs the tick's
    control → to_features plan and commits the batch through the
    exactly-once marker sink (parquet write, fsync, sha256 manifest,
    marker), and each stream round drops one file per payload size into
    the source directory and restarts the query on its checkpoint.

    A round is one tick of every payload size, then one stream round.
    Sizes always come in the same order: the JVM compiles hot paths while
    a run measures, so an op's place in the round moves its latency, and a
    seeded order would add that to the run-to-run spread. The first cold
    tick ends set-up; an untimed one-file stream round, which also runs
    the tick's control → to_features plan, warms up."""
    spark, tr = run.spark, run.tracer
    inc_rows = gen.includes_rows(run.seed)
    includes = spark.createDataFrame(inc_rows, INCLUDES_SCHEMA)
    url = build_url(ADSBX_API_DIRECT, ENV_DEFAULTS["ADSBX_LAT"], ENV_DEFAULTS["ADSBX_LON"],
                    ENV_DEFAULTS["ADSBX_DIST_NM"], cache_buster_ms=0)
    base = os.path.join(run.work, "stream")
    shutil.rmtree(base, ignore_errors=True)
    src, out = os.path.join(base, "in"), os.path.join(base, "out")
    os.makedirs(src)
    sink = sinks.exactly_once_batch_sink(out, commit="marker")
    expected: list[dict] = []  # per stream batch
    batch_sizes: list[int] = []
    traced_batches: set[int] = set()

    def tick(op: int, n: int, traced: bool) -> float:
        rows = gen.aircraft(run.seed, op, n)
        payload = gen.envelope(rows)
        want = gen.expected_features(rows, inc_rows)
        tr.enabled = traced
        posted: list[str] = []
        t0 = time.perf_counter()
        with tr.span("tick", op, "op"):
            with tr.span("sources.fetch_batch", op, "plan"):
                aircraft = fetch_batch(spark, url, fetch_fn=lambda _url, _token: payload)
            with tr.span("pipeline.control", op, "plan"):
                flat = pipeline.control(aircraft, includes, filtering=True)
            with tr.span("pipeline.to_features", op, "plan"):
                feats = pipeline.to_features(flat)
            with tr.span("sinks.submit", op, "execute"):
                count = sinks.submit(feats, posted.append)
        ms = (time.perf_counter() - t0) * 1e3
        tr.enabled = False
        got = {
            f["id"]: (f["properties"]["type"], f["properties"]["metadata"]["group"])
            for f in json.loads(posted[0])["features"]
        }
        run.check(count == len(want) and got == want, f"tick {op} ({n} aircraft)")
        run.notes["json_bytes_per_feature"] = len(posted[0]) / max(count, 1)
        return ms

    def batch_fn(df, batch_id: int) -> None:
        op = STREAM_OP + batch_id
        tr.enabled = batch_id in traced_batches
        with tr.span("stream.foreach_batch", op, "op"):
            with tr.span("sources.parse_envelope", op, "plan"):
                aircraft = parse_envelope(df)
            with tr.span("pipeline.control", op, "plan"):
                flat = pipeline.control(aircraft, includes, filtering=True)
            with tr.span("pipeline.to_features", op, "plan"):
                feats = pipeline.to_features(flat)
            with tr.span("sinks.exactly_once_batch_sink", op, "execute"):
                sink(feats, batch_id)
        tr.enabled = False

    def stream_round(sizes: tuple[int, ...], traced: bool) -> tuple[list, float]:
        """Batch progress of one stream round, and its wall time from the
        query's start to its stop."""
        for n in sizes:
            i = len(expected)
            batch_sizes.append(n)
            if traced:
                traced_batches.add(i)
            rows = gen.aircraft(run.seed, STREAM_OP + i, n)
            expected.append(gen.expected_features(rows, inc_rows))
            path = os.path.join(src, f"envelope-{i:05d}.json")
            with open(path, "w") as fh:
                fh.write(gen.envelope(rows))
            stamp = time.time() - 3600 + i  # the file source orders by mtime
            os.utime(path, (stamp, stamp))
        t0 = time.perf_counter()
        q = (
            spark.readStream.option("wholetext", "true").option("maxFilesPerTrigger", 1)
            .text(src)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        wall = time.perf_counter() - t0
        batches = [p for p in map(_progress, q.recentProgress) if p[1] > 0]
        if len(batches) != len(sizes):
            raise RuntimeError(f"stream ran {len(batches)} batches for {len(sizes)} files")
        return batches, wall

    tick(0, gen.SIZES[0], False)
    run.first_result()
    stream_round(gen.SIZES[:1], False)
    op = 1
    rounds, measured = 0, 0.0
    while run.more_rounds(rounds, measured, ROUNDS):
        traced = run.trace and rounds % 2 == 1
        wall = 0.0
        for n in gen.SIZES:
            ms = tick(op, n, traced)
            run.record(f"tick.{n}", n, ms, traced)
            wall += ms / 1e3
            op += 1
        batches, stream_wall = stream_round(gen.SIZES, traced)
        for batch_id, _, d in batches:
            n = batch_sizes[batch_id]
            run.record(f"stream.{n}", n, d["triggerExecution"], traced)
            if traced:
                _engine_spans(tr, STREAM_OP + batch_id, d)
        wall += stream_wall
        run.round_s.append(wall)
        measured += wall
        rounds += 1
    _check_committed(run, out, expected)
    shutil.rmtree(base, ignore_errors=True)


#: Micro-batch phases reported in ``StreamingQueryProgress.durationMs``.
_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def _progress(p) -> tuple[int, int, dict]:
    return p.batchId, p.numInputRows, p.durationMs


def _engine_spans(tr: Tracer, op: int, d: dict) -> None:
    """Hang the traced batch's callback spans under engine spans built
    from its progress report: trigger → addBatch → foreach_batch."""
    root = next(s for s in tr.spans if s.op == op and s.name == "stream.foreach_batch")
    trigger = len(tr.spans)
    tr.add("streaming.trigger", op, None, root.start, d["triggerExecution"], "op")
    root.layer = "engine"
    tr.add("streaming.add_batch", op, trigger, root.start, d.get("addBatch", 0), "engine")
    root.parent = trigger + 1
    for phase in _PHASES:
        tr.add(f"streaming.{phase}", op, trigger, root.start, d.get(phase, 0), "engine")


def _check_committed(run: Run, out: str, expected: list[dict]) -> None:
    """Read the committed batches back through the marker protocol and
    compare batch ``i`` with file ``i``'s expected features (one file per
    trigger, files ordered by mtime)."""
    try:
        rows = (
            sinks.read_committed_batches(run.spark, out)
            .selectExpr("batch", "id", "properties.type AS t", "properties.metadata.group AS g")
            .collect()
        )
    except Exception:  # noqa: BLE001 — a failed read-back fails every batch
        traceback.print_exc()
        rows = []
    got: dict[int, dict] = {}
    for r in rows:
        got.setdefault(r.batch, {})[r.id] = (r.t, r.g)
    for i, exp in enumerate(expected):
        run.check(got.get(i, {}) == exp, f"stream batch {i}")
    manifests = []
    for name in os.listdir(out):
        if name.startswith("_COMMITTED."):
            with open(os.path.join(out, name)) as fh:
                manifests.append(json.load(fh))
    run.notes["sink_files_per_batch"] = statistics.mean(m["n_files"] for m in manifests)
    run.notes["sink_bytes_per_feature"] = sum(
        f["bytes"] for m in manifests for f in m["files"].values()) / max(len(rows), 1)


# --- parquet_analytics ----------------------------------------------------

#: Registry queries timed on ``parquet_analytics``: a TPC-H scan and
#: aggregation, a three-way join, a running window over ``events``, exact
#: document dedup, and MinHash near-duplicate pairs. Heavier similarity
#: operators (``semantic_dedup`` ≈5 s run to completion plus ≈7 s for its
#: oracle check, ``dedup_clusters`` ≈10 s) do not fit the run budget.
OPS = (
    "q1_pricing_summary", "q3_shipping_priority", "window_running",
    "exact_dedup_docs", "minhash_pairs",
)

#: Measured passes per run, at least: three, so each query's median
#: drops its one slowest execution.
PASSES = 3

_FLOATS = ("float", "double")


def checksum(df) -> tuple:
    """Run ``df`` to completion and summarize every output column in one
    row, so the optimizer can prune nothing a ``count()`` would let it
    drop. Non-float columns go into an order-independent sum of row
    hashes; float columns are summed on their own, since their last bits
    depend on the order a shuffle delivers partial sums in."""
    floats = [f.name for f in df.schema.fields if f.dataType.typeName() in _FLOATS]
    others = [c for c in df.columns if c not in floats]
    aggs = [F.count(F.lit(1))]
    if others:
        aggs.append(F.sum(F.xxhash64(*others).cast("decimal(38,0)")))
    for c in floats:
        aggs += [F.count(c), F.sum(c)]
    return tuple(df.agg(*aggs).collect()[0])


def same_checksum(got: tuple, want: tuple) -> bool:
    return len(got) == len(want) and all(
        math.isclose(g, w, rel_tol=1e-9) if isinstance(w, float) else g == w
        for g, w in zip(got, want))


def parquet_analytics(run: Run) -> None:
    """Registry queries over the parquet tables, each run to completion by
    :func:`checksum`, in a seeded order per pass. The first query's cold
    execution ends set-up. An untimed pass then compares every query's
    full output with its DuckDB oracle through ``compare_query``, which
    also warms each plan up. Every later execution of a query must
    reproduce the checksum of its first execution."""
    from etl_adsbx_spark.queries import oracle_sql, queries
    from etl_adsbx_spark.testing import compare_query

    spark, tr = run.spark, run.tracer
    t0 = time.monotonic()
    sf = data.ensure_tables(run.work)
    run.t_start += time.monotonic() - t0  # a table build is not set-up
    registry, oracle = queries(), oracle_sql()
    rng = random.Random(f"parquet:{run.seed}")
    reference: dict[str, tuple] = {}

    def execute(op: int, name: str) -> float:
        t0 = time.perf_counter()
        with tr.span(f"queries.{name}", op, "op"):
            with tr.span("registry.build", op, "plan"):
                df = registry[name](spark, sf)
            with tr.span("dataframe.checksum", op, "execute"):
                value = checksum(df)
        ms = (time.perf_counter() - t0) * 1e3
        if name in reference:
            run.check(same_checksum(value, reference[name]),
                      f"{name} checksum {value} != {reference[name]}")
        else:
            reference[name] = value
        run.pins.append(release_pins())
        return ms

    execute(-1, rng.choice(OPS))
    run.first_result()
    t0 = time.monotonic()
    for name in OPS:
        try:
            compare_query(registry[name](spark, sf), oracle[name], sf)
            ok = True
        except AssertionError as exc:
            print(f"perfbench: {name}: {exc}", file=sys.stderr)
            ok = False
        run.check(ok, f"{name} vs oracle")
        release_pins()
    run.notes["oracle_check_s"] = time.monotonic() - t0
    run.pins.clear()

    op, passes, measured = 0, 0, 0.0
    while run.more_rounds(passes, measured, PASSES):
        traced = run.trace and passes % 2 == 1
        tr.enabled = traced
        for name in rng.sample(OPS, len(OPS)):
            ms = execute(op, name)
            run.record(name, 1, ms, traced)
            measured += ms / 1e3
            op += 1
        passes += 1


WORKLOADS = {
    "adsb_pipeline": adsb_pipeline,
    "parquet_analytics": parquet_analytics,
}
