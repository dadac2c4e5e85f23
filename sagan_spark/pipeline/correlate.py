"""Stateful correlation: after / threshold / xbits — batch (event-time) form.

The state machines themselves live once, in :mod:`sagan_spark.pipeline.
machines` (after/threshold counters, the xbit/flexbit bit store, chain
verdict gating), shared with the streaming engine.  This module builds
the Spark plans that feed them: hits shuffle ONCE on a colocation key,
each shuffle partition is sorted in canonical event-time order
``(ts, event_key)``, and a single ``mapInPandas`` pass replays every
key's subsequence through the core with state carried across Arrow
batches.  Canonical ordering makes the result deterministic under any
partitioning/parallelism (SURVEY §7.5).  The reference keeps the same
counters in mmap'd shared arrays updated in arrival order
(src/threshold.c:54-234, src/after.c:51-229, src/xbit-mmap.c).

Why mapInPandas and not groupBy().applyInPandas: the track key is
usually a source IP, so a corpus has ~as many groups as distinct IPs.
applyInPandas materializes one pandas DataFrame per group — per-group
constant costs dominate when groups are tiny (millions of 3-row
groups).  One sorted pass per shuffle partition does the same replay
with zero per-group overhead, and it is exactly how the reference
consumes its arrival-ordered stream.

Ordering rules the plans encode: after/threshold run per (sid,
track-key); xbit set/unset happen only for events that survived
after+threshold (engine.c:1415-1427) while isset/isnotset conditions
are part of routing, checked before after/threshold; within one event,
rules replay in ruleset position order and a rule's condition check
precedes its own set (engine.c:999-1024 vs 1415-1427).

Scale note: the shuffle parallelizes across (sid, track-key); rules
carrying BOTH after and threshold on different track keys colocate per
sid (the two machines share the event subsequence, engine.c:1377-1389)
— the same serialization the reference imposes via its shared arrays.
Hot keys cost one partition's sort, not a driver loop.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.pipeline.machines import GATED, CorrMachines, XbitWalk
from sagan_spark.rules.ir import RuleIR
from sagan_spark.session import materialize

FLAG_FIELDS = ["suppressed_after", "suppressed_threshold"]


def ts_seconds_d(col: F.Column) -> F.Column:
    """Event-time as epoch seconds (double), NTZ-safe: Spark 4 ANSI
    rejects CAST(TIMESTAMP_NTZ AS DOUBLE); NTZ -> TIMESTAMP first (the
    session runs UTC, so the instant is unambiguous)."""
    return F.unix_micros(col.cast("timestamp")).cast("double") / F.lit(1_000_000.0)


def ts_seconds_l(col: F.Column) -> F.Column:
    """Event-time as epoch seconds (long, floor), NTZ-safe."""
    return F.unix_timestamp(col.cast("timestamp"))


def _corr_spec_map(rules: list[RuleIR]) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for r in rules:
        if r.after or r.threshold:
            out[r.sid] = {
                "after": (r.after.count, r.after.seconds) if r.after else None,
                "threshold": (
                    r.threshold.ttype,
                    r.threshold.count,
                    r.threshold.seconds,
                )
                if r.threshold
                else None,
                "after_track": tuple(r.after.track) if r.after else None,
                "thr_track": tuple(r.threshold.track) if r.threshold else None,
            }
    return out


def _mixed_track_sids(specs: dict[int, dict]) -> set[int]:
    """Rules carrying both after and threshold on different track keys."""
    return {
        s for s, v in specs.items()
        if v["after"] and v["threshold"] and v["after_track"] != v["thr_track"]
    }


def _shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def corr_group_key(specs: dict[int, dict]) -> F.Column:
    """Colocation key for the after/threshold shuffle: one shuffle key
    per (sid, track-key) when one machine is active.  A rule carrying
    BOTH after and threshold couples the two machines (the after gate
    mutes threshold updates, engine.c:1377-1389) — but when the two
    specs share the SAME track key (the common case) the coupled pair
    still partitions cleanly per key, because the reference serializes
    only per (hash, sid) slot and both machines hash the identical key
    string (threshold.c:111, after.c:108).  Only a mixed-track
    both-rule needs the per-sid funnel."""
    both_sids = [s for s, v in specs.items() if v["after"] and v["threshold"]]
    both_mixed = sorted(_mixed_track_sids(specs))
    after_only = [s for s, v in specs.items() if v["after"] and not v["threshold"]]
    return (
        F.when(F.col("sid").isin(both_mixed), F.lit(""))
        .when(
            F.col("sid").isin(after_only) | F.col("sid").isin(both_sids),
            F.col("track_after"),
        )
        .otherwise(F.col("track_threshold"))
    )


#: the snapshot store layout: one row per surviving machine key — the
#: ``corr_state_*`` stores hold it and seed rows carry it
CORR_STATE_COLS = ("sid", "corr_group", "machine", "mkey", "cnt", "utime")
_REPLAY_IN_COLS = (
    "kind", "sid", "event_key", "ts_epoch", "track_after", "track_threshold",
    "machine", "mkey", "cnt", "utime",
)
_REPLAY_OUT_COLS = (
    "kind", "event_key", "suppressed_after", "suppressed_threshold", *CORR_STATE_COLS,
)
_REPLAY_SCHEMA = (
    "kind string, event_key string, suppressed_after boolean,"
    " suppressed_threshold boolean, sid long, corr_group string,"
    " machine string, mkey string, cnt long, utime long"
)
_REPLAY_DTYPES = {
    "sid": "int64", "suppressed_after": "boolean", "suppressed_threshold": "boolean",
    "cnt": "Int64", "utime": "Int64",
}


def _replay_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=_REPLAY_OUT_COLS).astype(_REPLAY_DTYPES)


def _make_replay(specs: dict[int, dict], floor: float = float("-inf")):
    """``mapInPandas`` body: replay one sorted shuffle partition through
    the core's :class:`~sagan_spark.pipeline.machines.CorrMachines`, with
    state carried across Arrow batches.

    Input rows by ``kind``: ``e`` is one hit (sid, event_key, ts_epoch,
    track_after, track_threshold); ``s`` restores one machine key
    (:data:`CORR_STATE_COLS`) and sorts before every event of its (sid,
    corr_group).  Output rows: ``e`` for each suppressed (event_key, sid)
    and, at the end of the partition, the machines' surviving snapshot
    (``CorrMachines.snapshot(floor)``) as ``s`` rows in the seed layout."""
    mixed = _mixed_track_sids(specs)

    def replay(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        machines = CorrMachines(specs)
        for pdf in batches:
            out: list[tuple] = []
            for kind, sid, key, t, a_key, t_key, machine, mkey, cnt, utime in zip(
                *(pdf[c].to_numpy() for c in _REPLAY_IN_COLS)
            ):
                if kind == "s":
                    machines.seed(machine, sid, mkey, cnt, utime)
                    continue
                sup_a, sup_t = machines.step(sid, int(t), a_key, t_key)
                if sup_a or sup_t:
                    out.append(("e", key, sup_a, sup_t, sid, None, None, None, None, None))
            yield _replay_frame(out)
        yield _replay_frame([
            # a key's corr_group, as corr_group_key derives it: the
            # per-sid funnel for a mixed-track rule, else the key itself
            ("s", None, None, None, sid, "" if sid in mixed else mkey, machine, mkey, cnt, utime)
            for machine, sid, mkey, cnt, utime in machines.snapshot(floor)
        ])

    return replay


def apply_after_threshold(
    hits: DataFrame,
    rules: list[RuleIR],
    pins: list[DataFrame] | None = None,
    isolate_hot: bool = False,
    seed: DataFrame | None = None,
    floor: float = float("-inf"),
) -> tuple[DataFrame, DataFrame | None]:
    """Add suppressed_after / suppressed_threshold booleans to the hits DF.

    hits must carry: sid, event_key, ts (timestamp), track_after,
    track_threshold.

    Physical shape (the narrow-boundary pattern): only the 5 columns the
    state machine reads (and the seed columns, null on hit rows) cross
    the shuffle and the Arrow boundary; the replay emits ONLY suppressed
    (event_key, sid) pairs — typically a small fraction — which join
    back onto the full hit rows (AQE broadcasts the suppressed side when
    small), besides its snapshot.  The wide hit columns
    never enter Python.  NOTE: `hits` is consumed twice (narrow branch +
    join left side) — the caller materializes it.

    ``pins``: when given, the suppressed set is materialized
    (``session.materialize``) and appended for the caller to release —
    for callers whose result fans out.

    Only ``rules`` correlate: hits of any other sid pass through with
    false flags (condition rules advance their machines after the
    condition gate, :func:`gate_after_threshold`).

    ``seed``: an earlier pass's snapshot rows (:data:`CORR_STATE_COLS`)
    that this pass continues — a streaming micro-batch passes the
    previous micro-batch's; ``floor``: the oldest event time a later pass
    may still replay (``CorrMachines.snapshot``).

    Returns ``(hits + flags, replay output)``; the output's ``s`` rows
    are this pass's snapshot (None when no rule correlates)."""
    specs = _corr_spec_map(rules)
    if not specs:
        return hits.withColumn("suppressed_after", F.lit(False)).withColumn(
            "suppressed_threshold", F.lit(False)
        ), None

    corr_sids = list(specs)

    # colocation key — see corr_group_key: per (sid, track-key) normally,
    # per-sid funnel only for mixed-track both-rules (without this one
    # hot both-rule made the whole correlation stage single-threaded)
    group_key = corr_group_key(specs)

    null_s, null_l = F.lit(None).cast("string"), F.lit(None).cast("long")
    narrow = (
        hits.filter(F.col("sid").isin(corr_sids))
        .select(
            F.lit("e").alias("kind"),
            "sid",
            "event_key",
            "ts",
            "track_after",
            "track_threshold",
            group_key.alias("corr_group"),
            ts_seconds_l(F.col("ts")).alias("ts_epoch"),
            null_s.alias("machine"),
            null_s.alias("mkey"),
            null_l.alias("cnt"),
            null_l.alias("utime"),
        )
    )
    if seed is not None:
        # a seed's null ts sorts it before every event (ascending sorts
        # put nulls first)
        narrow = narrow.unionByName(
            seed.select(*CORR_STATE_COLS).withColumn("kind", F.lit("s")),
            allowMissingColumns=True,
        )

    n_parts = _shuffle_partitions(narrow)
    if isolate_hot:
        # north_rule skew handling: a hot (sid, track-key) cannot be
        # split (ordered replay) — give it a dedicated shuffle slot so
        # it only slows itself (pipeline/skew.py)
        from sagan_spark.pipeline.skew import detect_hot_keys, isolate_hot_keys

        hot = detect_hot_keys(narrow, ["sid", "corr_group"], hot_share=1.5 / n_parts)
        shuffled = isolate_hot_keys(narrow, ["sid", "corr_group"], n_parts, hot)
    else:
        shuffled = narrow.repartition(n_parts, "sid", "corr_group")
    replayed = (
        shuffled
        .sortWithinPartitions("ts", "event_key")
        .mapInPandas(_make_replay(specs, floor), schema=_REPLAY_SCHEMA)
    )
    suppressed = replayed.filter(F.col("kind") == "e").select(
        "event_key", "sid", "suppressed_after", "suppressed_threshold"
    )
    if pins is not None:
        # the result fans out downstream (xbit branches): pin the tiny
        # suppressed set so each branch's join reuses it instead of
        # re-running the replay shuffle
        suppressed = materialize(suppressed, "suppressed")
        pins.append(suppressed)

    joined = hits.join(suppressed, ["event_key", "sid"], "left")
    return joined.withColumn(
        "suppressed_after", F.coalesce(F.col("suppressed_after"), F.lit(False))
    ).withColumn(
        "suppressed_threshold", F.coalesce(F.col("suppressed_threshold"), F.lit(False))
    ), replayed


# ---------------------------------------------------------------------------
# xbits / flexbits (A4-A6): batch event-time replay per (bit name, key)
# ---------------------------------------------------------------------------


def xbit_key_expr(track: str) -> F.Column:
    """xbit_direction key (reference src/xbit.c:76-105):
    ip_src -> src, ip_dst -> dst, ip_pair -> 'src:dst'."""
    if track == "ip_src":
        return F.col("src_ip")
    if track == "ip_dst":
        return F.col("dst_ip")
    return F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip"))


# flexbit direction table (reference flexbit condition dispatch,
# src/flexbit-mmap.c:106-258): a SET records the event's (src, dst,
# username); a condition with shape S compares the stored tuple against
# its own event per S.  Expressed as (set-side key, check-side key):
_FLEX_SHAPES = {
    "by_src": (lambda: F.col("src_ip"), lambda: F.col("src_ip")),
    "by_dst": (lambda: F.col("dst_ip"), lambda: F.col("dst_ip")),
    "both": (
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
    ),
    "reverse": (
        lambda: F.format_string("%s:%s", F.col("src_ip"), F.col("dst_ip")),
        lambda: F.format_string("%s:%s", F.col("dst_ip"), F.col("src_ip")),
    ),
    "none": (lambda: F.lit(""), lambda: F.lit("")),
    "username": (lambda: F.col("username"), lambda: F.col("username")),
}


def flex_shape(track: str) -> str | None:
    return track[len("flex_"):] if track.startswith("flex_") and track != "flex_auto" else None


def flex_set_key(shape: str) -> F.Column:
    return _FLEX_SHAPES[shape][0]()


def flex_check_key(shape: str) -> F.Column:
    return _FLEX_SHAPES[shape][1]()


def is_flexbit(track: str) -> bool:
    return track == "flex_auto" or flex_shape(track) is not None


def setter_variants(x, shapes_by_bit: dict[str, set]) -> list[tuple[str, F.Column]]:
    """(bit name, key expression) copies a keyed set/unset writes: one per
    condition-probed shape for a flexbit without its own shape (namespaced
    "name#shape"), else the single keyed form."""
    if not is_flexbit(x.track):
        return [(x.name, xbit_key_expr(x.track))]
    own = flex_shape(x.track)
    shapes = [own] if own else sorted(shapes_by_bit.get(x.name, ()))
    return [(f"{x.name}#{s}", flex_set_key(s)) for s in shapes]


def chain_components(rules: list[RuleIR]) -> tuple[list[RuleIR], dict[str, str]]:
    """Chain rules (a condition AND a set/unset on one rule) and the
    union-find components of every bit they touch (bit name -> component
    id).  Plain xbits AND flexbits are supported (a flexbit touched by a
    chain rule takes the flat-tuple-store funnel form inside the
    component walk — reference engine.c:999-1024 condition vs
    :1415-1427 set, flexbit store src/flexbit-mmap.c:106-258).  A chain
    rule carrying after/threshold runs its counters INSIDE the walk
    (machines.XbitWalk): the reference advances After2/Threshold2
    only for condition-passing events (engine.c:1370-1389) and the same
    machine verdict gates both the alert and the set
    (engine.c:1402-1427)."""
    chain_rules = [
        r for r in rules
        if r.is_condition and any(x.action in ("set", "unset") for x in r.xbits)
    ]
    parent: dict[str, str] = {}

    def find(b: str) -> str:
        parent.setdefault(b, b)
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        return b

    for r in chain_rules:
        names = [x.name for x in r.xbits]
        for n in names[1:]:
            parent[find(names[0])] = find(n)
    return chain_rules, {b: find(b) for b in parent}


def xbit_layout(rules: list[RuleIR]) -> tuple[dict[str, set], set[str]]:
    """How each bit is stored, shared by every walk event builder:
    ``(shapes_by_bit, funnel_bits)``.

    ``shapes_by_bit``: flexbit name -> the direction shapes its
    conditions probe; a set writes one keyed copy per (bit, shape).
    ``funnel_bits``: flexbits replayed over the flat tuple store in one
    ordered pass per bit instead — those carrying an UNSET (it clears
    matching tuples across ALL shapes, flexbit-mmap.c:973-1100) and every
    flexbit a chain rule touches (its verdict-gated sets and the checks
    observing them replay together)."""
    chain_rules, _ = chain_components(rules)
    chain_sids = {r.sid for r in chain_rules}
    shapes_by_bit: dict[str, set] = {}
    funnel_bits: set[str] = set()
    for r in rules:
        for x in r.xbits:
            s = flex_shape(x.track)
            if x.action in ("isset", "isnotset") and s is not None:
                shapes_by_bit.setdefault(x.name, set()).add(s)
            if is_flexbit(x.track) and (x.action == "unset" or r.sid in chain_sids):
                funnel_bits.add(x.name)
    return shapes_by_bit, funnel_bits


#: The one walk event layout.  Every bit operation is one row; ``hit_id``
#: keys checks and verdict-gated chain ops; (csid, a_key, t_key) name a
#: chain rule's after/threshold machines on its gated ops.  Seed rows
#: restore an earlier pass's state and sort first (ts_d -inf):
#:
#: - ``cseed``: one chain machine: csid the rule, shape the machine
#:   ("a"/"t"), bit_key its track key, seq the count, expire the anchor;
#: - ``bseed``/``fseed``: one plain bit / flexbit tuple: bit_name and
#:   bit_key its slot (bit_key "" for a flexbit, as its events carry),
#:   e_src/e_dst/e_user the flexbit tuple, seq the set time in
#:   microseconds, expire its expire.
_XBIT_WALK_COLS = (
    "kind", "bit_name", "bit_key", "ts_d", "event_key", "seq", "expire",
    "shape", "e_src", "e_dst", "e_user", "hit_id", "want_set",
    "csid", "a_key", "t_key",
)
_XBIT_OUT_COLS = (*_XBIT_WALK_COLS, "ok", "suppressed_after", "suppressed_threshold")
_XBIT_OUT_SCHEMA = (
    "kind string, bit_name string, bit_key string, ts_d double,"
    " event_key string, seq long, expire long, shape string, e_src string,"
    " e_dst string, e_user string, hit_id string, want_set boolean,"
    " csid long, a_key string, t_key string,"
    " ok boolean, suppressed_after boolean, suppressed_threshold boolean"
)
_XBIT_OUT_DTYPES = {
    "ts_d": "float64", "seq": "Int64", "expire": "Int64", "csid": "Int64",
    "want_set": "boolean", "ok": "boolean",
    "suppressed_after": "boolean", "suppressed_threshold": "boolean",
}
_FLEX_KINDS = {"fset", "funset", "fcheck", "cfset", "cfunset"}


def _out_row(**cols) -> tuple:
    return tuple(cols.get(c) for c in _XBIT_OUT_COLS)


def _walk_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=_XBIT_OUT_COLS).astype(_XBIT_OUT_DTYPES)


def _make_xbit_walk(chain_corr_specs: dict[int, dict], floor: float = float("-inf")):
    """``mapInPandas`` body: one ordered pass of walk events through the
    core's :class:`~sagan_spark.pipeline.machines.XbitWalk`, state
    carried across Arrow batches; seed rows restore an earlier pass's
    state.  Output rows by ``kind``:

    - ``verdict``: one check's verdict (``ok``) for its ``hit_id``;
    - ``cflags``: a chain hit's after/threshold flags;
    - at the end of the partition, the state a later pass continues,
      bounded by ``floor`` (``CorrMachines.snapshot``,
      ``BitStore.snapshot``): ``cstate`` rows, ``cseed`` rows but for the
      kind, and the surviving bits as ``bseed``/``fseed`` rows.

    Batch reads the first two kinds; a streaming micro-batch keeps the
    others as its snapshots."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = XbitWalk(chain_corr_specs)
        for pdf in batches:
            out: list[tuple] = []
            for (
                kind, name, key, ts_d, ek, seq, expire, shape, esrc, edst, euser,
                hit_id, want_set, sid, a_key, t_key,
            ) in zip(*(pdf[c].to_numpy() for c in _XBIT_WALK_COLS)):
                if kind == "cseed":
                    w.machines.seed(shape, sid, key, seq, expire)
                    continue
                if kind in ("bseed", "fseed"):
                    tup = (esrc, edst, euser) if kind == "fseed" else None
                    w.bits.seed(name, key, tup, seq / 1_000_000, expire)
                    continue
                result, flags = w.step(
                    kind, name, key, ts_d, expire, shape, (esrc, edst, euser),
                    hit_id, want_set, sid, a_key, t_key,
                )
                if flags is not None:
                    out.append(_out_row(
                        kind="cflags", hit_id=hit_id,
                        suppressed_after=flags[0], suppressed_threshold=flags[1],
                    ))
                if kind in ("check", "fcheck"):
                    out.append(_out_row(
                        kind="verdict", hit_id=hit_id, ok=result == bool(want_set)
                    ))
            yield _walk_frame(out)
        state = [
            _out_row(kind="cstate", ts_d=float("-inf"), event_key="", csid=sid,
                     shape=machine, bit_key=mkey, seq=cnt, expire=utime)
            for machine, sid, mkey, cnt, utime in w.machines.snapshot(floor)
        ]
        for name, key, tup, set_ts, expire in w.bits.snapshot(floor):
            plain = tup is None
            esrc, edst, euser = (None, None, None) if plain else tup
            state.append(_out_row(
                kind="bseed" if plain else "fseed", bit_name=name,
                bit_key=key if plain else "", ts_d=float("-inf"), event_key="",
                seq=round(set_ts * 1_000_000), expire=expire,
                e_src=esrc, e_dst=edst, e_user=euser,
            ))
        yield _walk_frame(state)

    return walk


def _hit_id() -> F.Column:
    return F.concat_ws("#", F.col("event_key"), F.col("sid").cast("string"))


def _walk_event(df: DataFrame, r: RuleIR, x, bit_name: str, key: F.Column,
                kind: str, shape: str = "") -> DataFrame:
    """One walk event row per hit of ``r`` in ``df`` for its xbit ``x``."""
    null_s = F.lit(None).cast("string")
    check = x.action in ("isset", "isnotset")
    if kind in _FLEX_KINDS:
        tup = [F.col("src_ip"), F.col("dst_ip"), F.coalesce(F.col("username"), F.lit(""))]
    else:
        tup = [null_s] * 3
    if kind in GATED and (r.after or r.threshold):
        corr = [F.lit(r.sid), F.col("track_after"), F.col("track_threshold")]
    else:
        corr = [F.lit(None), null_s, null_s]
    return df.filter(F.col("sid") == r.sid).select(
        F.lit(kind).alias("kind"),
        F.lit(bit_name).alias("bit_name"),
        key.alias("bit_key"),
        ts_seconds_d(F.col("ts")).alias("ts_d"),
        F.col("event_key"),
        # within one event: rule order, a rule's own check precedes its
        # set (engine.c:999-1024 vs 1415-1427)
        F.lit(r.position * 2 + (0 if check else 1)).cast("long").alias("seq"),
        F.lit(0 if check else x.expire).cast("long").alias("expire"),
        F.lit(shape).alias("shape"),
        *[c.alias(n) for c, n in zip(tup, ("e_src", "e_dst", "e_user"))],
        # checks and chain ops are keyed by hit id (verdict + gating)
        (_hit_id() if check or kind in GATED else null_s).alias("hit_id"),
        F.lit(x.action == "isset").alias("want_set"),
        corr[0].cast("long").alias("csid"),
        corr[1].alias("a_key"),
        corr[2].alias("t_key"),
    )


def _union(frames: list[DataFrame]) -> DataFrame | None:
    return reduce(DataFrame.unionByName, frames) if frames else None


def setter_events(df: DataFrame, rules: list[RuleIR]) -> DataFrame | None:
    """Walk events of the ungated bit writes: every set/unset of a rule
    without conditions, taken from ``df`` (its surviving alerts — only
    those set bits, engine.c:1415-1427), in ``xbit_layout``'s storage
    forms.  None when no such rule exists."""
    chain_rules, _ = chain_components(rules)
    chain_sids = {r.sid for r in chain_rules}
    shapes_by_bit, funnel_bits = xbit_layout(rules)
    events = []
    for r in rules:
        if r.sid in chain_sids:
            continue  # gated on the rule's own condition: hit_events
        for x in r.xbits:
            if x.action not in ("set", "unset"):
                continue
            if is_flexbit(x.track) and x.name in funnel_bits:
                # funnel: one tuple-carrying event, colocated per bit name
                events.append(
                    _walk_event(df, r, x, x.name, F.lit(""), "f" + x.action,
                                flex_shape(x.track) or "")
                )
                continue
            for bit_name, key in setter_variants(x, shapes_by_bit):
                events.append(_walk_event(df, r, x, bit_name, key, x.action))
    return _union(events)


def hit_events(hits: DataFrame, rules: list[RuleIR]) -> DataFrame | None:
    """Walk events of condition-rule candidate hits: one check per
    condition entry, and the chain rules' set/unset ops, which the walk
    gates on the rule's own checks (seq 2p checks before 2p+1 sets).
    None when no rule carries a condition."""
    chain_rules, _ = chain_components(rules)
    _, funnel_bits = xbit_layout(rules)
    events = []
    for r in chain_rules:
        for x in r.xbits:
            if x.action not in ("set", "unset"):
                continue
            if is_flexbit(x.track):
                events.append(
                    _walk_event(hits, r, x, x.name, F.lit(""), "cf" + x.action,
                                flex_shape(x.track) or "")
                )
            else:
                events.append(
                    _walk_event(hits, r, x, x.name, xbit_key_expr(x.track), "c" + x.action)
                )
    for r in rules:
        for x in r.xbits:
            if x.action not in ("isset", "isnotset"):
                continue
            s = flex_shape(x.track)
            if s is not None and x.name in funnel_bits:
                events.append(_walk_event(hits, r, x, x.name, F.lit(""), "fcheck", s))
            elif s is not None:
                events.append(
                    _walk_event(hits, r, x, f"{x.name}#{s}", flex_check_key(s), "check")
                )
            else:
                events.append(
                    _walk_event(hits, r, x, x.name, xbit_key_expr(x.track), "check")
                )
    return _union(events)


def resolve_xbits(
    hits: DataFrame, events: DataFrame, rules: list[RuleIR], floor: float = float("-inf")
) -> tuple[DataFrame, DataFrame]:
    """The verdict step: replay ``events`` through the walk and join each
    hit's verdict onto ``hits``.  Returns ``(hits + xbit_ok, walk
    output)``; ``hits`` also gains ``chain_sup_after``/``chain_sup_thr``
    when a chain rule carries after/threshold, which
    :func:`gate_after_threshold` consumes (:func:`correlate` passes this
    output straight to it).  ``floor`` bounds the walk's snapshots
    (``CorrMachines.snapshot``, ``BitStore.snapshot``).

    Events shuffle ONCE: every bit of a chain component colocates (the
    gated set and the checks observing it replay in one ordered pass —
    the reference serializes the whole store, one component per task is
    still strictly more parallel), other bits spread per (bit, key);
    funnel flexbits carry an empty key, so they colocate per bit name."""
    cond_rules = [r for r in rules if r.is_condition]
    chain_rules, chain_members = chain_components(rules)
    chain_corr_specs = _corr_spec_map(chain_rules)
    if chain_members:
        comp_expr = F.lit(None).cast("string")
        for bit, comp in chain_members.items():
            comp_expr = F.when(F.col("bit_name") == bit, F.lit(f"\x00{comp}")).otherwise(
                comp_expr
            )
        part_key = F.coalesce(
            comp_expr, F.concat_ws("\x01", F.col("bit_name"), F.col("bit_key"))
        )
        events = events.withColumn("part_key", part_key)
        shuffled = events.repartition(_shuffle_partitions(events), "part_key")
    else:
        shuffled = events.repartition(_shuffle_partitions(events), "bit_name", "bit_key")
    walk_out = shuffled.sortWithinPartitions("ts_d", "event_key", "seq").mapInPandas(
        _make_xbit_walk(chain_corr_specs, floor), schema=_XBIT_OUT_SCHEMA
    )
    verdicts = walk_out.filter(F.col("kind").isin("verdict", "cflags"))
    # all condition entries of a hit must hold (xbit-mmap.c:181-264);
    # with one condition per rule (the common case) each hit_id is unique
    # and the aggregate collapses to a rename
    multi_cond = any(
        sum(1 for x in r.xbits if x.action in ("isset", "isnotset")) > 1 for r in cond_rules
    )
    if chain_corr_specs:
        # a chain-corr hit carries a flag row besides its check rows:
        # min(ok) skips the flag row's null; max(flag) skips the check
        # rows' nulls
        agg = verdicts.groupBy("hit_id").agg(
            F.min("ok").alias("xbit_ok"),
            F.coalesce(F.max("suppressed_after"), F.lit(False)).alias("chain_sup_after"),
            F.coalesce(F.max("suppressed_threshold"), F.lit(False)).alias("chain_sup_thr"),
        )
    elif multi_cond:
        agg = verdicts.groupBy("hit_id").agg(F.min("ok").alias("xbit_ok"))
    else:
        agg = verdicts.select("hit_id", F.col("ok").alias("xbit_ok"))

    cond_sids = [r.sid for r in cond_rules]
    # verdict set scales with the alert volume — regular (shuffle) join,
    # not broadcast; AQE picks broadcast when it is actually small
    joined = hits.withColumn("hit_id", _hit_id()).join(agg, "hit_id", "left").withColumn(
        "xbit_ok",
        F.when(~F.col("sid").isin(cond_sids), F.lit(True)).otherwise(
            F.coalesce(F.col("xbit_ok"), F.lit(False))
        ),
    )
    if chain_corr_specs:
        # chain-corr sids' alert gating comes from the walk's machines:
        # one machine instance gates both the alert and the set
        # (engine.c:1402-1427)
        joined = joined.withColumn(
            "chain_sup_after", F.coalesce(F.col("chain_sup_after"), F.lit(False))
        ).withColumn("chain_sup_thr", F.coalesce(F.col("chain_sup_thr"), F.lit(False)))
    return joined.drop("hit_id"), walk_out


def gate_after_threshold(
    gated: DataFrame,
    rules: list[RuleIR],
    seed: DataFrame | None = None,
    floor: float = float("-inf"),
) -> tuple[DataFrame, DataFrame | None]:
    """The condition gate's after/threshold step: every condition hit of
    ``gated`` (:func:`resolve_xbits` output) gets its final
    suppressed_after / suppressed_threshold.

    - a non-chain condition rule advances its machines over
      condition-PASSING hits only (engine.c:999-1024 vs 1373-1389):
      :func:`apply_after_threshold`, continuing ``seed`` up to ``floor``;
    - a chain rule takes its flags from the walk's ``chain_sup_*``
      columns, which this step consumes: one machine verdict gates both
      the alert and the set (engine.c:1402-1427);
    - a failing hit is never suppressed.

    Returns ``(gated + flags, replay output)``, as apply_after_threshold."""
    chain_rules, _ = chain_components(rules)
    chain_corr_sids = [r.sid for r in chain_rules if r.after or r.threshold]
    passing, replayed = apply_after_threshold(
        gated.filter(F.col("xbit_ok")),
        [r for r in rules if r.is_condition and r.sid not in chain_corr_sids],
        seed=seed,
        floor=floor,
    )
    failing = gated.filter(~F.col("xbit_ok"))
    failing = failing.withColumn("suppressed_after", F.lit(False)).withColumn(
        "suppressed_threshold", F.lit(False)
    )
    if chain_corr_sids:
        in_chain = F.col("sid").isin(chain_corr_sids)
        passing = passing.withColumn(
            "suppressed_after",
            F.when(in_chain, F.col("chain_sup_after")).otherwise(F.col("suppressed_after")),
        ).withColumn(
            "suppressed_threshold",
            F.when(in_chain, F.col("chain_sup_thr")).otherwise(
                F.col("suppressed_threshold")
            ),
        )
        passing = passing.drop("chain_sup_after", "chain_sup_thr")
        failing = failing.drop("chain_sup_after", "chain_sup_thr")
    return passing.unionByName(failing), replayed


#: the snapshot stores a correlation pass continues and leaves, each
#: with its rows' anchor as an SQL expression: a machine key's
#: ``utime``; a ``cstate`` row holds it in ``expire``, a bit its set time
#: in ``seq``, in microseconds
STATE_ANCHORS = {
    "corr_state": "utime",
    "xbit_state": "seq / 1000000",
    "chain_corr_state": "expire",
}


def _ddl_of(schema: str, cols: tuple) -> str:
    """The ``cols`` of a flat DDL ``schema``, in that order."""
    types = dict(field.split() for field in schema.split(","))
    return ", ".join(f"{c} {types[c]}" for c in cols)


#: the rows of each snapshot store, as :func:`correlate` returns them
STATE_SCHEMAS = {
    "corr_state": _ddl_of(_REPLAY_SCHEMA, CORR_STATE_COLS),
    "xbit_state": _ddl_of(_XBIT_OUT_SCHEMA, _XBIT_WALK_COLS),
    "chain_corr_state": _ddl_of(_XBIT_OUT_SCHEMA, _XBIT_WALK_COLS),
}


def _walk_seeds(state: dict[str, DataFrame], rules: list[RuleIR]) -> DataFrame | None:
    """The walk's seed rows from an earlier pass's snapshots: the bits as
    they are, the chain machines as ``cseed`` rows named after a bit of
    their rule, so that each replays in its component's partition."""
    seeds = [state["xbit_state"]] if "xbit_state" in state else []
    if "chain_corr_state" in state:
        bit = F.lit(None).cast("string")
        for r in chain_components(rules)[0]:
            bit = F.when(F.col("csid") == r.sid, F.lit(r.xbits[0].name)).otherwise(bit)
        seeds.append(
            state["chain_corr_state"].withColumn("kind", F.lit("cseed")).withColumn("bit_name", bit)
        )
    return _union(seeds)


def correlate(
    hits: DataFrame,
    rules: list[RuleIR],
    state: dict[str, DataFrame] | None = None,
    floor: float = float("-inf"),
    pins: list[DataFrame] | None = None,
    cache: list[DataFrame] | None = None,
    isolate_hot: bool = False,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The one correlation step: batch ``run()`` calls it on its
    materialized hits and every streaming micro-batch on its cached ones.

    1. after/threshold of every rule without a condition
       (:func:`apply_after_threshold`); xbit condition rules sit it out,
       their state only advances after the gate (engine.c:999-1024 vs
       1373-1389);
    2. the walk (:func:`resolve_xbits`) over the condition hits' checks
       and chain ops and the set/unset events of the setters that
       survived step 1 — only those set bits (engine.c:1415-1427);
    3. the condition gate's after/threshold (:func:`gate_after_threshold`).

    ``state``: the snapshots an earlier pass left, by store
    (:data:`STATE_ANCHORS`) — ``corr_state`` (both after/threshold
    replays' rows; each replay drops the other's sids), ``xbit_state``
    (the bits) and ``chain_corr_state`` (the chain machines); ``floor``
    bounds this pass's snapshots.
    ``pins``: when given, the suppressed and gated sets are materialized
    and appended for the caller to release (batch).  ``cache``: when
    given, every replay output is persisted lazily and appended for the
    caller to unpersist, so one action computes each replay once and the
    snapshot writes read the cached rows (streaming).

    Returns ``(hits + suppressed_after/suppressed_threshold/xbit_ok, this
    pass's snapshots by store)``; a store no rule of ``rules`` feeds is
    absent."""
    state = state or {}
    cond_sids = [r.sid for r in rules if r.is_condition]
    flagged, replayed = apply_after_threshold(
        hits, [r for r in rules if not r.is_condition],
        pins=pins if cond_sids else None, isolate_hot=isolate_hot,
        seed=state.get("corr_state"), floor=floor,
    )
    replays = [replayed]
    walk_out = None
    if cond_sids:
        plain = flagged.filter(~F.col("sid").isin(cond_sids)).withColumn(
            "xbit_ok", F.lit(True)
        )
        cond = flagged.filter(F.col("sid").isin(cond_sids)).drop(*FLAG_FIELDS)
        survived = plain.filter(~F.col("suppressed_after") & ~F.col("suppressed_threshold"))
        events = hit_events(cond, rules)
        for more in (setter_events(survived, rules), _walk_seeds(state, rules)):
            if more is not None:
                events = events.unionByName(more)
        gated, walk_out = resolve_xbits(cond, events, rules, floor)
        if pins is not None:
            # the post-condition set fans into passing/failing branches
            # and the second correlation pass reads it twice
            gated = materialize(gated, "gated")
            pins.append(gated)
        gated, gate_replayed = gate_after_threshold(
            gated, rules, seed=state.get("corr_state"), floor=floor
        )
        replays.append(gate_replayed)
        flagged = plain.unionByName(gated)
    else:
        flagged = flagged.withColumn("xbit_ok", F.lit(True))
    if cache is not None:
        cache.extend(df.persist() for df in (*replays, walk_out) if df is not None)

    kind = F.col("kind")
    corr = [df.filter(kind == "s").select(*CORR_STATE_COLS) for df in replays if df is not None]
    snapshots = {"corr_state": _union(corr)} if corr else {}
    if walk_out is not None:
        snapshots["xbit_state"] = walk_out.filter(kind.isin("bseed", "fseed")).select(
            *_XBIT_WALK_COLS
        )
        if _corr_spec_map(chain_components(rules)[0]):
            snapshots["chain_corr_state"] = walk_out.filter(kind == "cstate").select(
                *_XBIT_WALK_COLS
            )
    return flagged, snapshots
