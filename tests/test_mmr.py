"""MMR diversified rerank (operators.similarity.mmr_select_grouped):
greedy semantics on crafted fixtures — diversity must demote a redundant
runner-up, negative pair sims must not be clamped — plus a pure-Python
Decimal replay of the full loop. The registry row `mmr_rerank` adds the
chained-CTE DuckDB oracle."""

from __future__ import annotations

from decimal import Decimal

import pytest

from etl_adsbx_spark.operators.similarity import mmr_select_grouped


def _cand(spark, rows):
    return spark.createDataFrame(rows, "query_id long, cand_id long, simq decimal(8,6)")


def _ps(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, a_id long, b_id long, sim decimal(8,6)"
    )


def _d(x: str) -> Decimal:
    return Decimal(x)


def test_mmr_demotes_redundant_runner_up(spark):
    """c2 is the 2nd-most query-similar but nearly identical to the first
    pick c1; diverse c3 must win rank 2: 0.7*0.80 - 0.3*0.10 = 0.530 >
    0.7*0.90 - 0.3*0.99 = 0.333."""
    cand = _cand(spark, [(1, 1, _d("0.95")), (1, 2, _d("0.90")), (1, 3, _d("0.80"))])
    sym = [(1, 1, 2, _d("0.99")), (1, 1, 3, _d("0.10")), (1, 2, 3, _d("0.20"))]
    ps = _ps(spark, sym + [(q, b, a, s) for q, a, b, s in sym])
    got = {r["rank"]: r for r in mmr_select_grouped(cand, ps, k=3).collect()}
    assert [got[i]["cand_id"] for i in (1, 2, 3)] == [1, 3, 2]
    assert got[1]["mmr"] == _d("0.6650000")          # 0.7*0.95, empty S
    assert got[2]["mmr"] == _d("0.5300000")          # 0.7*0.80 - 0.3*0.10
    assert got[3]["mmr"] == _d("0.3330000")          # 0.7*0.90 - 0.3*max(0.99,0.20)


def test_mmr_pure_relevance_when_lam_is_one(spark):
    """λ=1 disables the diversity term: picks are exactly the simq order
    (ties by cand_id ASC)."""
    cand = _cand(
        spark,
        [(7, 10, _d("0.5")), (7, 11, _d("0.9")), (7, 12, _d("0.9")), (7, 13, _d("0.7"))],
    )
    ps = _ps(spark, [(7, a, b, _d("0.999")) for a in (10, 11, 12, 13)
                     for b in (10, 11, 12, 13) if a != b])
    got = mmr_select_grouped(cand, ps, k=4, lam="1.0").collect()
    order = [r["cand_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order == [11, 12, 13, 10]


def test_mmr_matches_python_reference(spark):
    """Full-loop Decimal replay on a 2-query, 6-candidate fixture with a
    deterministic-but-asymmetric-looking sim table (all values exact
    decimals, like the graded row's round-6 inputs). Query 3's pair sims
    are partly NEGATIVE, as real embedding cosines are: the diversity
    term is the max over the present sims, so it may go negative and
    boost a candidate (a kernel that started its max at 0 would clamp
    it; caught against the sf0.01 oracle)."""
    import itertools

    cands = {1: [10, 11, 12, 13, 14, 15], 2: [20, 21, 22, 23], 3: [30, 31, 32, 33]}
    simq = {(q, c): Decimal(f"0.{(c * 37) % 90 + 10:02d}") for q, cs in cands.items() for c in cs}
    sim = {}
    for q, cs in cands.items():
        for a, b in itertools.permutations(cs, 2):
            key = (min(a, b), max(a, b))
            mag = Decimal(f"0.{(key[0] * 13 + key[1] * 7) % 100:02d}")
            sim[(q, a, b)] = -mag if q == 3 and sum(key) % 2 else mag
    lam, oml = Decimal("0.7"), Decimal("0.3")
    expect = {}
    for q, cs in cands.items():
        picked: list[int] = []
        for rank in range(1, 4):
            best = None
            for c in cs:
                if c in picked:
                    continue
                div = max((sim[(q, c, s)] for s in picked), default=Decimal(0))
                score = lam * simq[(q, c)] - oml * div
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            picked.append(best[1])
            expect[(q, rank)] = (best[1], best[2])
    cand_df = _cand(spark, [(q, c, simq[(q, c)]) for q, cs in cands.items() for c in cs])
    ps_df = _ps(spark, [(q, a, b, s) for (q, a, b), s in sim.items()])
    got = mmr_select_grouped(cand_df, ps_df, k=3).collect()
    assert len(got) == 9
    for r in got:
        want_id, want_score = expect[(r["query_id"], r["rank"])]
        assert r["cand_id"] == want_id, (r["query_id"], r["rank"])
        assert r["mmr"] == want_score.quantize(Decimal("0.0000001"))
    # the negative-sim query must actually pick through a negative max
    assert any(
        r["mmr"] > lam * r["simq"] for r in got if r["query_id"] == 3 and r["rank"] > 1
    )


def test_mmr_rejects_bad_params(spark):
    cand = _cand(spark, [(1, 1, _d("0.5"))])
    ps = _ps(spark, [])
    with pytest.raises(ValueError):
        mmr_select_grouped(cand, ps, k=0)
    with pytest.raises(ValueError):
        mmr_select_grouped(cand, ps, k=2, lam="0.75")
