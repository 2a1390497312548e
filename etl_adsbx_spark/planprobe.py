"""Step-plan probe for checkpoint-truncated iterative operators.

``localCheckpoint`` cuts lineage, so the executed plan of an iterative
operator (pagerank, HITS, MMR, the CC fixpoint) reads as a handful of
post-checkpoint scans — the loop body's joins and aggregations are
invisible to the PLANS.md plan lint (round-8 verdict, What's-wrong #2:
``domain_pagerank`` showed "0 exchanges" purely because the lint read
the post-checkpoint plan). Iterative operators therefore announce each
step's DataFrame here BEFORE checkpointing; when a collector is
installed (scripts/dump_plans.py's per-step table, the
tests/test_scale_techniques.py step lint) the step plan is captured,
otherwise the call is a zero-cost no-op — production runs never plan or
execute anything extra.
"""

from __future__ import annotations

import logging
from collections import deque
from collections.abc import Callable
from typing import Any

_hook: Callable[[str, str, Any], None] | None = None

#: RDD **ids** (plain ints) of the checkpoints :func:`pin` has created, so
#: a benchmark/driver loop can free their storage blocks between runs (see
#: :func:`release_pins`). Deliberately NOT py4j proxies: a proxy holds a
#: JVM-side strong reference per entry, which blocks the driver GC (and
#: therefore the ContextCleaner) from ever unpersisting the checkpointed
#: RDD in sessions that never call release_pins — correctness runs and
#: long-lived drivers would leak checkpoint blocks for the process
#: lifetime (r11 ADVICE, medium). Ids keep every pin fully GC-eligible;
#: the bounded deque caps the bookkeeping itself (36 pin sites/query —
#: 1024 covers any release interval the bench uses; an id that falls off
#: the end is simply left to the ContextCleaner, the pre-r11 behavior).
_live_pins: deque[int] = deque(maxlen=1024)

_log = logging.getLogger(__name__)
_unpersist_failure_logged = False


def set_step_plan_hook(
    fn: Callable[[str, str, Any], None] | None,
) -> Callable[[str, str, Any], None] | None:
    """Install (or clear, with None) the step collector. The callable
    receives ``(operator, step, df)`` per iteration — e.g.
    ``("pagerank", "iter3", <rank frame before checkpoint>)``. Returns
    the previously installed hook so callers can restore it."""
    global _hook
    prev, _hook = _hook, fn
    return prev


def probe_step(op: str, step: str, df: Any) -> None:
    """Called by iterative operators with each step's pre-checkpoint
    DataFrame. No-op unless a collector is installed."""
    if _hook is not None:
        _hook(op, step, df)


def pin(op: str, step: str, df: Any) -> Any:
    """Announce a shared frame's pre-checkpoint plan to the probe, then
    pin it with a LAZY ``localCheckpoint`` — the shared-subtree
    materialization idiom (an expensive frame consumed by N plan
    references is computed once and every consumer reads blocks instead
    of re-expanding the subtree). Routing every such pin through here
    keeps the checkpoint-hidden subtree visible to PLANS.md and the
    plan lints (round-8 verdict: truncated plans must stay auditable);
    with no collector installed the probe is a zero-cost no-op and this
    is exactly ``df.localCheckpoint(eager=False)`` plus bookkeeping.

    The checkpointed RDD's **id** is recorded in ``_live_pins`` so
    :func:`release_pins` can drop its storage blocks explicitly. Without
    that, blocks live until the DRIVER's JVM garbage-collects the RDD
    object and the ContextCleaner notices (its own safety-net GC fires
    every 30 min — ``spark.cleaner.periodicGC.interval``): a loop that
    re-runs pinned queries accumulates dead blocks for minutes, pushing
    the lazily-committed heap into fresh OS pages. On a
    memory-bandwidth-starved host the resulting page-fault storms were
    measured stalling individual bench runs 3-10× (OPTIMIZATION_r11.md,
    "the pin-block release"); the blocks themselves are small — the
    faulting, not the footprint, is the cost. Only the int id is kept
    (never the py4j proxy, which would pin the JVM object and defeat the
    ContextCleaner in sessions that never release — r11 ADVICE)."""
    probe_step(op, step, df)
    ck = df.localCheckpoint(eager=False)
    try:
        node = ck._jdf.queryExecution().analyzed()
        for _ in range(4):  # the checkpoint plan is LogicalRDD, at times
            if node.getClass().getSimpleName() == "LogicalRDD":  # wrapped
                _live_pins.append(node.rdd().id())
                break
            node = node.children().head()
    except Exception:  # noqa: BLE001 — bookkeeping is best-effort;
        pass  # the pin itself (and the query) must never fail for it
    return ck


def release_pins() -> int:
    """Free the storage blocks of every checkpoint :func:`pin` has created
    since the last release; returns how many were dropped. ONLY safe at a
    point where no previously-constructed pinned DataFrame will be acted
    on again — a released lazy checkpoint cannot recompute (lineage is
    truncated), so late actions on stale frames would fail. The bench
    calls this between timed samples (each sample constructs and
    materializes its own fresh pins, so timing methodology is unchanged —
    only the dead blocks of FINISHED samples are dropped); correctness
    paths never call it.

    Removal goes through ``SparkContext.unpersistRDD(id)`` — the same
    call ``RDD.unpersist`` makes, dropping the blocks AND the
    persistent-RDD registration (blocking, so a caller that immediately
    re-measures sees them gone). No RDD reference is ever held on the
    Python side, so pins in sessions that never call this stay eligible
    for normal ContextCleaner cleanup."""
    global _unpersist_failure_logged
    n = 0
    if not _live_pins:
        return 0
    try:
        from pyspark import SparkContext

        jsc = SparkContext._active_spark_context._jsc.sc()
    except Exception:  # noqa: BLE001 — a dead JVM/SparkContext just
        _live_pins.clear()  # means there is nothing left to free
        return 0
    while _live_pins:
        rdd_id = _live_pins.pop()
        try:
            jsc.unpersistRDD(rdd_id, True)
            n += 1
        except Exception:  # noqa: BLE001 — already cleaned / gone
            if not _unpersist_failure_logged:
                _unpersist_failure_logged = True
                _log.warning("unpersistRDD(%d) failed; later failures are not logged",
                             rdd_id, exc_info=True)
    return n


def physical_plan(df: Any) -> str:
    """The planned physical tree of an un-executed DataFrame (AQE initial
    plan — shape counts are what the lint reads; runtime re-plans only
    tighten them)."""
    return df._jdf.queryExecution().executedPlan().toString()
