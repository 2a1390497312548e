"""The envelope generator is deterministic, covers every transform branch,
and its expected-output model agrees with the golden pipeline semantics
(tests/test_pipeline_golden.py) on the hand-written fixture rows.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

from etl_adsbx_spark.fixtures import AIRCRAFT_ROWS, INCLUDES_ROWS  # noqa: E402
from etl_adsbx_spark.schemas import ADSB_SCHEMA  # noqa: E402


def test_same_seed_gives_identical_bytes():
    def payload(seed, tick):
        return gen.envelope(gen.aircraft(seed, tick, 1_000))

    assert payload(3, 5) == payload(3, 5)
    assert gen.includes_rows(3) == gen.includes_rows(3)
    assert payload(3, 5) != payload(4, 5)
    assert payload(3, 5) != payload(3, 6)


def test_payload_covers_every_branch():
    ac = json.loads(gen.envelope(gen.aircraft(1, 0, 5_000)))["ac"]
    assert len(ac) == 5_000
    rs = [a["r"] for a in ac]
    assert None in rs and "" in rs and "   " in rs            # falsy / whitespace r
    keys = [(a["r"] or a["flight"] or "").strip().lower() for a in ac]
    assert len(set(keys)) < 0.9 * len(keys)                    # repeated keys
    assert {"A0", "A1", "A6", "A7", "B2", "C1", None} <= {a["category"] for a in ac}
    assert any(a["alt_geom"] == 0.0 for a in ac)
    assert any(a["alt_geom"] is None for a in ac)
    assert any(a["squawk"] == "7700" for a in ac)
    assert any(a["emergency"] not in (None, "none") for a in ac)
    assert any(a["gs"] is None for a in ac) and any(a["track"] is None for a in ac)
    assert {None, 1.0, 2.0} <= {a["dbFlags"] for a in ac}
    inc = gen.includes_rows(1)
    assert len(inc) == gen.N_INCLUDES
    assert {None, ""} <= {r[3] for r in inc}                    # falsy registrations
    assert {None, ""} <= {r[2] for r in inc}                    # falsy callsigns
    assert gen.expected_features(ac, inc)                       # some includes match


def test_expected_output_matches_golden_semantics():
    names = [f.name for f in ADSB_SCHEMA.fields]
    rows = [dict(zip(names, r)) for r in sorted(AIRCRAFT_ROWS)]
    exp = gen.expected_features(rows, INCLUDES_ROWS)
    # only includes matches survive; null and '' registrations are ignored
    assert sorted(exp) == ["n100aa", "n200hh", "n300ll"]
    # _idx 5 wins for n100aa (odd dbFlags → military); the last truthy
    # include group for a duplicated registration wins
    assert exp["n100aa"] == ("a-f-A-M-F", "International")
    assert exp["n200hh"] == ("a-f-A-M-H", "Fire")
    # an include with an empty callsign still enriches the group
    assert exp["n300ll"] == ("a-f-A-C-L", "Marine")
