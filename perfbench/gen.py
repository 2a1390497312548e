"""Seeded ADSBX envelope generator and its pure-Python expected output.

Every payload is a pure function of ``(seed, tick)``: the same arguments
give byte-identical JSON. The rows cover each branch of the reference
transform (R5-R25): falsy and whitespace-only ``r``, repeated keys (the
last occurrence wins), every category arm, ``alt_geom = 0``, emergency
squawks, null ``gs``/``track``, odd/even/null ``dbFlags``, and includes
rows with falsy registrations or callsigns.

:func:`expected_features` models ``pipeline.control(filtering=True)`` in
plain Python, so a tick's output can be checked without Spark.
"""

from __future__ import annotations

import json
import random

#: Aircraft per payload. Each measured round runs one tick of every size.
SIZES = (1_000, 5_000, 20_000)
N_INCLUDES = 200
#: Share of rows that repeat an earlier key in the same payload.
REPEAT_SHARE = 0.2
#: Share of the includes list whose registration appears in a payload.
INCLUDE_HIT_SHARE = 0.75

_CATEGORIES = ("A0", "A1", "A2", "A3", "A4", "A5", "A6", "A7", "B2", "C1", None)
_EMERGENCIES = ("none", "none", "none", "general", "lifeguard", "squawk7700", None)
_SQUAWKS = ("1200", "7500", "7600", "7700", "4521", None)
_DOMAINS = ("EMS", "FIRE", "LAW", "SAR")
_GROUPS = ("National", "International", "Fire", "Law", "Marine")


def _registration(rng: random.Random) -> str:
    return "N" + "".join(rng.choices("0123456789ABCDEFGHJKLMNPRSTUVWXYZ", k=5))


def _variant(rng: random.Random, key: str) -> str:
    """The same key as the feed might spell it: other case, padded."""
    return rng.choice((key, key.lower(), f" {key}", f"{key.lower()}  "))


def includes_rows(seed: int) -> list[tuple]:
    """About 200 includes rows ``(_idx, domain, callsign, registration,
    group)``; some share a registration, some have a falsy registration
    or callsign."""
    rng = random.Random(f"includes:{seed}")
    regs = [_registration(rng) for _ in range(N_INCLUDES)]
    rows = []
    for i in range(N_INCLUDES):
        roll = rng.random()
        if roll < 0.03:
            reg = rng.choice((None, ""))             # skipped by the join
        elif roll < 0.08 and i:
            reg = _variant(rng, regs[rng.randrange(i)])  # duplicate entry
        else:
            reg = _variant(rng, regs[i])
        callsign = rng.choice((None, "", f"MED{i}", f"LAW{i}", f"CS{i}"))
        rows.append((i, rng.choice(_DOMAINS), callsign, reg, rng.choice(_GROUPS)))
    return rows


def _mixed(rng: random.Random, n: int, fixed: tuple, draw) -> list:
    """``n`` values, each one of ``fixed`` or ``draw()``, all equally likely."""
    return [fixed[k] if k < len(fixed) else draw()
            for k in rng.choices(range(len(fixed) + 1), k=n)]


def _uniform(rng: random.Random, n: int, lo: float, hi: float, ndigits: int) -> list[float]:
    return [round(lo + (hi - lo) * rng.random(), ndigits) for _ in range(n)]


def aircraft(seed: int, tick: int, n: int) -> list[dict]:
    """The ``ac`` rows of one ADSBX API response, in ingestion order."""
    rng = random.Random(f"envelope:{seed}:{tick}:{n}")
    inc_regs = [r[3] for r in includes_rows(seed) if r[3]]
    hits = rng.sample(inc_regs, int(len(inc_regs) * INCLUDE_HIT_SHARE))
    keys: list[tuple[str | None, str | None]] = []
    for i in range(n):
        roll = rng.random()
        if keys and roll < REPEAT_SHARE:
            r, flight = keys[rng.randrange(len(keys))]   # a repeated key
            if r:
                r = _variant(rng, r.strip())
        elif i < len(hits):
            r, flight = _variant(rng, hits[i].strip()), f"FLT{i}"
        elif roll < REPEAT_SHARE + 0.03:
            r, flight = rng.choice((None, "")), rng.choice((f"CALL{i}  ", None, ""))
        elif roll < REPEAT_SHARE + 0.05:
            r, flight = "   ", rng.choice((None, f"WS{i}"))  # whitespace r
        else:
            r, flight = _registration(rng), rng.choice((None, f"AAL{i} ", ""))
        keys.append((r, flight))
    cols = {
        "hex": [f"{rng.getrandbits(24):06x}" for _ in range(n)],
        "type": ["adsb_icao"] * n,
        "group": rng.choices((None, None, "UNKNOWN"), k=n),
        "flight": [k[1] for k in keys],
        "r": [k[0] for k in keys],
        "t": rng.choices(("B738", "A320", "EC35", "C172", None), k=n),
        "dbFlags": rng.choices((None, 0.0, 1.0, 2.0, 3.0), k=n),
        "alt_baro": _mixed(rng, n, ("ground", None), lambda: str(rng.randrange(100, 45000))),
        "alt_geom": _mixed(rng, n, (None, 0.0), lambda: round(rng.uniform(100, 40000), 1)),
        "gs": _mixed(rng, n, (None, 0.0), lambda: round(rng.uniform(0, 600), 1)),
        "track": _mixed(rng, n, (None, 0.0), lambda: round(rng.uniform(0, 360), 1)),
        "baro_rate": _mixed(rng, n, (None,), lambda: float(rng.randrange(-3000, 3000))),
        "squawk": rng.choices(_SQUAWKS, k=n),
        "emergency": rng.choices(_EMERGENCIES, k=n),
        "category": rng.choices(_CATEGORIES, k=n),
        "nav_qnh": rng.choices((None, 1013.2), k=n),
        "nav_altitude_mcp": rng.choices((None, 35008.0), k=n),
        "nav_heading": _mixed(rng, n, (None,), lambda: round(rng.uniform(0, 360), 1)),
        "lat": _uniform(rng, n, 25.0, 49.0, 5),
        "lon": _uniform(rng, n, -125.0, -67.0, 5),
        "seen_pos": _uniform(rng, n, 0.0, 30.0, 1),
        "seen": _uniform(rng, n, 0.0, 30.0, 1),
        "dst": _mixed(rng, n, (None,), lambda: round(rng.uniform(0, 2650), 2)),
    }
    rows = [dict(zip(cols, values)) for values in zip(*cols.values())]
    rng.shuffle(rows)
    return rows


def envelope(rows: list[dict]) -> str:
    """The JSON text of the API response ``{"msg", "ac"}`` that the HTTP
    source receives for these rows."""
    return json.dumps({"msg": "No error", "ac": rows}, separators=(",", ":"))


def _falsy(v) -> bool:
    return v is None or v == ""


def _key(v: str) -> str:
    # Spark's trim strips spaces only; the generator pads with spaces only
    return v.strip(" ").lower()


def _cot_type(ac: dict) -> str:
    flags = ac.get("dbFlags")
    mil = "-M" if flags is not None and flags % 2 != 0 else "-C"
    cat = ac.get("category")
    suffix = ("-F" if cat in ("A0", "A1", "A2", "A3", "A4", "A5", "A6")
              else "-H" if cat == "A7" else "-L" if cat == "B2" else "")
    return f"a-f-A{mil}{suffix}"


def expected_features(aircraft: list[dict], includes: list[tuple]) -> dict[str, tuple]:
    """``id -> (cot_type, metadata.group)`` for the features
    ``control(filtering=True)`` emits on these rows, with the hostile
    flag off. Rows are in ingestion order."""
    last: dict[str, dict] = {}
    for ac in aircraft:
        raw = ac.get("r") if not _falsy(ac.get("r")) else ac.get("flight")
        if _falsy(raw) or not _key(raw):
            continue
        last[_key(raw)] = ac                       # last write wins (R21)
    groups: dict[str, str] = {}
    for _idx, _domain, _callsign, reg, group in sorted(includes):
        if _falsy(reg):
            continue                               # task.ts:219
        key = _key(reg)
        if not _falsy(group):
            groups[key] = group                    # last truthy group wins
        else:
            groups.setdefault(key, None)
    return {
        k: (_cot_type(ac), groups[k] if groups[k] is not None
            else (ac.get("group") or "UNKNOWN"))
        for k, ac in last.items() if k in groups
    }
