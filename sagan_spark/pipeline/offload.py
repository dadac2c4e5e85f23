"""`offload` rule gate: remote HTTP classifier (reference
src/offload.c, rule option src/rules.c:3709-3725, engine call
src/processors/engine.c:772-786).

The reference POSTs
``host|facility|priority|level|tag|date|time|program|message`` to the
rule's offload location via libcurl and lets the rule continue only if
the response body contains ``true`` (case-insensitive,
``Sagan_stristr``); a failed connection or empty response fails the
rule.  Here the gate is an Arrow-batched pandas UDF over CANDIDATE rows
only (the engine ships NULL for rows whose cheap predicate failed), and
the transport is an injectable ``poster(location, payloads) -> bools``
callable — the urllib default reproduces the reference's semantics,
tests and offline runs inject a deterministic classifier.

The canonical frame carries one ``ts`` instead of the reference's raw
syslog date/time strings; the payload's date/time fields are its
``yyyy-MM-dd`` / ``HH:mm:ss`` renderings (documented divergence: the
reference forwards whatever strings the syslog parser captured).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: per-executor-process verdict cache: location -> {payload: verdict}.
#: Guarantees one POST per distinct payload per process (see
#: make_offload_udf).
_verdict_cache: dict = {}


def offload_payload() -> Column:
    """The reference's snprintf payload (offload.c:62) from the
    canonical frame columns."""
    s = [
        F.coalesce(F.col("host"), F.lit("")),
        F.coalesce(F.col("facility"), F.lit("")),
        F.coalesce(F.col("priority"), F.lit("")),
        F.coalesce(F.col("level"), F.lit("")),
        F.coalesce(F.col("tag"), F.lit("")),
        # coalesced: format_string renders a NULL ts as the literal
        # token 'null', which the reference never sends
        F.coalesce(F.date_format(F.col("ts"), "yyyy-MM-dd"), F.lit("")),
        F.coalesce(F.date_format(F.col("ts"), "HH:mm:ss"), F.lit("")),
        F.coalesce(F.col("program"), F.lit("")),
        F.coalesce(F.col("message"), F.lit("")),
    ]
    return F.format_string("|".join(["%s"] * 9), *s)


def urllib_poster(location: str, payloads: list[str]) -> list[bool]:
    """Default transport: one POST per payload (the reference's
    per-event libcurl call), verdict = response contains 'true'
    case-insensitively; any error or empty response = False
    (offload.c:96-141)."""
    import urllib.error
    import urllib.request

    out: list[bool] = []
    for p in payloads:
        try:
            req = urllib.request.Request(
                location, data=p.encode(), method="POST",
                headers={"User-Agent": "sagan_spark-offload"},
            )
            with urllib.request.urlopen(req, timeout=10) as resp:
                body = resp.read()
            out.append(b"true" in body.lower())
        except (urllib.error.URLError, OSError, ValueError):
            out.append(False)
    return out


def make_offload_udf(location: str, poster=None):
    """boolean pandas UDF: payload string -> remote verdict (NULL
    payload -> False, never posted).

    Flagged nondeterministic — which a remote classifier genuinely is —
    so CollapseProject cannot inline the gate column into every consumer
    and POST the same event once per consumer.  The per-process verdict
    cache below deduplicates payloads: each distinct payload is POSTed
    at most once per executor process, and a repeated payload reuses its
    first verdict.  The cache is a documented divergence from the
    reference, which POSTs once per event occurrence."""
    post = poster if poster is not None else urllib_poster
    cache_max = 65536

    @F.pandas_udf("boolean")
    def offload_udf(payloads: pd.Series) -> pd.Series:
        cache = _verdict_cache.setdefault(location, {})
        fresh: list = []
        seen: set = set()
        for p in payloads:
            if p is not None and p not in cache and p not in seen:
                seen.add(p)
                fresh.append(p)
        local: dict = {}
        if fresh:
            local = dict(zip(fresh, (bool(v) for v in post(location, fresh))))
            if len(cache) + len(local) > cache_max:
                cache.clear()  # bounded; a re-POST beats unbounded RAM
            cache.update(local)
        out = pd.Series(False, index=payloads.index, dtype=bool)
        for i, p in payloads.items():
            if p is None:
                continue
            out.at[i] = local[p] if p in local else cache.get(p, False)
        return out

    return offload_udf.asNondeterministic()
