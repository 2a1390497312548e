"""HTTP micro-batch source — the ADSBX fetch (task.ts:118-129, R2).

The reference pushes its geo predicate (lat/lon/dist) to the server in the
URL — predicate pushdown to the source (SURVEY.md §4) — and busts HTTP
caches with a timestamp param (task.ts:122). The Spark shape: a driver-side
fetch per scheduled tick feeding ``createDataFrame`` → one micro-batch.
Network access is not assumed in this environment: ``fetch_fn`` is
injectable, and tests feed fixture payloads.

Auth fidelity (task.ts:115-129): the reference sends the SAME token three
ways at once — an ``apiKey`` query parameter plus BOTH an
``x-rapidapi-key`` and an ``api-auth`` header — because the two API base
variants in the ``ADSBX_API`` enum (task.ts:15-21) authenticate
differently (rapidapi reads the ``x-rapidapi-key`` header; the direct
adsbexchange.com API reads ``api-auth``/``apiKey``). We replicate the
belt-and-braces shape exactly rather than picking per-variant.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .files import parse_envelope

#: The two API base variants of the reference's ``ADSBX_API`` enum
#: (task.ts:15-21); the direct API is the reference default (task.ts:20).
ADSBX_API_RAPIDAPI = "https://adsbexchange-com1.p.rapidapi.com"
ADSBX_API_DIRECT = "https://adsbexchange.com/api/aircraft"
ADSBX_API_VARIANTS = (ADSBX_API_RAPIDAPI, ADSBX_API_DIRECT)


def build_url(
    base: str,
    lat: float,
    lon: float,
    dist_nm: float,
    token: str | None = None,
    cache_buster_ms: int | None = None,
) -> str:
    """Geo-radius query URL (task.ts:118-122): ``{base}/v2/lat/{lat}/lon/
    {lon}/dist/{dist}/`` — the lat/lon/dist predicate is evaluated
    server-side — then ``apiKey`` (the token AGAIN as a query param,
    task.ts:119) and ``cacheBuster`` (epoch millis, task.ts:120) appended
    in the reference's ``searchParams.append`` order. Both enum variants
    share the ``/v2`` path segment."""
    if cache_buster_ms is None:
        cache_buster_ms = int(time.time() * 1000)
    params = []
    if token is not None:
        params.append(f"apiKey={token}")
    params.append(f"cacheBuster={cache_buster_ms}")
    return (
        f"{base}/v2/lat/{lat}/lon/{lon}/dist/{dist_nm}/"
        f"?{'&'.join(params)}"
    )


def auth_headers(token: str | None) -> dict[str, str]:
    """Both auth headers, same token (task.ts:124-128): rapidapi
    authenticates via ``x-rapidapi-key``, the direct API via
    ``api-auth`` — the reference always sends both."""
    t = token or ""
    return {"x-rapidapi-key": t, "api-auth": t}


def default_fetch(url: str, token: str | None = None) -> str:  # pragma: no cover
    """Driver-side GET with the reference's dual auth headers
    (task.ts:124-129). Kept import-safe: urllib is stdlib; real
    deployments may swap in requests/aiohttp."""
    import urllib.request

    req = urllib.request.Request(url, headers=auth_headers(token))
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.read().decode("utf-8")


def fetch_batch(
    spark: SparkSession,
    url: str,
    token: str | None = None,
    fetch_fn: Callable[[str, str | None], str] | None = None,
) -> DataFrame:
    """One micro-batch: fetch → validate (FAILFAST) → explode to rows with
    ingestion order. Equivalent to one scheduled reference tick (R29).

    FAILFAST rejects a malformed payload at the batch's first action; only
    an empty or blank body, which it reads as a null envelope with no
    rows, is rejected here. The batch is one partition: the payload is
    one row, so the coalesce moves no data, and the ``SinglePartition``
    it reports lets a keyed aggregate downstream (``last_wins``) run with
    no shuffle."""
    fetch = fetch_fn or default_fetch
    payload = fetch(url, token)
    if not payload or payload.isspace():
        raise ValueError("empty ADSBX response body")
    # from Arrow, createDataFrame builds a local relation: scanning it
    # runs no Python worker, unlike a list of rows
    raw = spark.createDataFrame(pa.table({"value": [payload]}))
    return parse_envelope(raw).coalesce(1)
