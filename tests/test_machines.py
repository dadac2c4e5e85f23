"""The correlation core (pipeline/machines.py) and its Spark adapters,
driven on plain pandas frames without Spark: a regression for per-key
eviction in the seeded streaming replay, and property tests that the
batch and streaming replays return the same flags over random event
sequences cut at random micro-batch boundaries."""

from __future__ import annotations

import pandas as pd
from hypothesis import given
from hypothesis import strategies as st

from sagan_spark.pipeline.correlate import (
    _XBIT_WALK_COLS,
    _corr_spec_map,
    _make_replay,
    _make_xbit_walk,
    corr_window_secs,
)
from sagan_spark.pipeline.machines import GATED
from sagan_spark.rules.ir import AfterSpec, RuleIR, ThresholdSpec
from sagan_spark.streaming.engine import _make_group_replay, _make_seeded_replay
from tests.oracle import Oracle

_SEEDED_COLS = [
    "kind", "sid", "corr_group", "event_key", "ts_epoch", "ts_us",
    "track_after", "track_threshold", "machine", "mkey", "cnt", "utime",
]


def _seeded_input(sid, group, events, snapshot):
    """'e' rows for ``events`` [(event_key, ts, a_key, t_key)] plus the
    previous micro-batch's 's' snapshot rows for one (sid, corr_group)."""
    rows = [
        ("e", sid, group, ek, ts, ts * 1_000_000, ak, tk, "", "", 0, 0)
        for ek, ts, ak, tk in events
    ]
    rows += [
        ("s", sid, group, "", 0, 0, "", "", r.machine, r.mkey, r.cnt, r.utime)
        for r in snapshot.itertuples()
    ]
    return pd.DataFrame(rows, columns=_SEEDED_COLS)


def test_seeded_replay_evicts_per_key_not_per_group():
    """A mixed-track both-rule groups per sid, so one key's late event
    must not evict another key's live after machine: a@100 then b@1000
    in one micro-batch, a@130 in the next.  The one-pass replay alerts
    a@130 (2nd event within 60 s exceeds count 1)."""
    spec = {
        "after": (1, 60),
        "threshold": ("limit", 5, 60),
        "after_track": ("by_src",),
        "thr_track": ("by_dst",),
    }
    replay = _make_seeded_replay({7: spec}, 60)
    out1 = replay(_seeded_input(
        7, "", [("a1", 100, "a", "x"), ("b1", 1000, "b", "x")], pd.DataFrame()
    ))
    snap = out1[out1["kind"] == "s"]
    out2 = replay(_seeded_input(7, "", [("a2", 130, "a", "x")], snap))
    flags = out2[out2["kind"] == "e"].set_index("event_key")
    assert not flags.loc["a2", "suppressed_after"]
    assert not flags.loc["a2", "suppressed_threshold"]


# ---------------------------------------------------------------------------
# batch/stream parity over random event sequences and micro-batch cuts
# ---------------------------------------------------------------------------


class _FakeGroupState:
    """The slice of pyspark's GroupState the stage-A replay uses."""

    hasTimedOut = False

    def __init__(self):
        self.get = None

    @property
    def exists(self):
        return self.get is not None

    def update(self, value):
        self.get = value

    def setTimeoutTimestamp(self, ms):
        pass

    def remove(self):
        self.get = None


_counts = st.integers(0, 3)
_secs = st.integers(1, 90)
_ttype = st.sampled_from(["limit", "suppress"])


@st.composite
def _corr_rules(draw):
    after = lambda track: AfterSpec([track], draw(_counts), draw(_secs))  # noqa: E731
    thr = lambda track: ThresholdSpec(draw(_ttype), [track], draw(_counts), draw(_secs))  # noqa: E731
    return [
        RuleIR(sid=1, after=after("by_src")),
        RuleIR(sid=2, threshold=thr("by_dst")),
        RuleIR(sid=3, threshold=thr("by_src")),
        RuleIR(sid=4, after=after("by_src"), threshold=thr("by_src")),  # shared track
        RuleIR(sid=5, after=after("by_src"), threshold=thr("by_dst")),  # mixed track
    ]


def _cut(items, data):
    """Split ``items`` at random micro-batch boundaries."""
    bounds = sorted(set(data.draw(st.lists(st.integers(0, len(items)), max_size=4))))
    edges = [0, *bounds, len(items)]
    return [items[a:b] for a, b in zip(edges, edges[1:])]


@given(
    rules=_corr_rules(),
    events=st.lists(
        st.tuples(
            st.integers(1, 5), st.integers(0, 300),
            st.sampled_from("abc"), st.sampled_from("xy"),
        ),
        min_size=1, max_size=40,
    ),
    data=st.data(),
)
def test_after_threshold_adapters_agree(rules, events, data):
    """Events arrive in a random event-time order; each micro-batch is
    replayed in canonical (ts, event_key) order, so events in a later
    batch can be older than earlier ones.  The one-pass batch replay fed
    that same arrival order, the GroupState replay and the seeded
    snapshot replay (state carried across the cuts) and the oracle's
    machines all agree."""
    by_sid = {r.sid: r for r in rules}
    specs = _corr_spec_map(rules)
    rows = []
    for i, (sid, ts, src, dst) in enumerate(events):
        r = by_sid[sid]
        ext = {"src_ip": src, "dst_ip": dst, "username": "", "src_port": 0, "dst_port": 0}
        a_key = Oracle._track_key(r.after.track, ext) if r.after else ""
        t_key = Oracle._track_key(r.threshold.track, ext) if r.threshold else ""
        spec = specs[sid]
        mixed = spec["after"] and spec["threshold"] and spec["after_track"] != spec["thr_track"]
        group = "" if mixed else (a_key if spec["after"] else t_key)
        rows.append((f"e{i:03d}", sid, ts, a_key, t_key, group, ext))
    cuts = [sorted(c, key=lambda r: (r[2], r[0])) for c in _cut(rows, data)]
    one_pass = [r for c in cuts for r in c]

    oracle = Oracle(rules)
    want = {}
    for ek, sid, ts, _, _, _, ext in one_pass:
        r = by_sid[sid]
        sup_a = oracle._after(r, ext, ts) if r.after else False
        sup_t = oracle._threshold(r, ext, ts) if r.threshold and not sup_a else False
        want[ek] = (sup_a, sup_t)

    # batch: one pass, split across arbitrary Arrow batches
    frame = pd.DataFrame(
        [(sid, ek, ts, ak, tk, g) for ek, sid, ts, ak, tk, g, _ in one_pass],
        columns=["sid", "event_key", "ts_epoch", "track_after", "track_threshold", "corr_group"],
    )
    batch = {ek: (False, False) for ek in want}
    for out in _make_replay(specs)(iter(_cut(frame, data))):
        for ek, sa, sth in zip(out["event_key"], out["suppressed_after"], out["suppressed_threshold"]):
            batch[ek] = (bool(sa), bool(sth))
    assert batch == want

    # streaming: state snapshotted and seeded at every cut
    group_replay = _make_group_replay(
        specs, corr_window_secs(specs), ["event_key", "suppressed_after", "suppressed_threshold"]
    )
    seeded_replay = _make_seeded_replay(specs, corr_window_secs(specs))
    states: dict = {}
    snaps: dict = {}
    grouped, seeded = {}, {}
    for cut in cuts:
        by_group: dict = {}
        for ek, sid, ts, ak, tk, g, _ in cut:
            by_group.setdefault((sid, g), []).append((ek, ts, ak, tk))
        for key in sorted(set(by_group) | set(snaps)):
            evs = by_group.get(key, [])
            if evs:
                pdf = pd.DataFrame(
                    [(key[0], key[1], pd.Timestamp(ts, unit="s"), ek, ak, tk) for ek, ts, ak, tk in evs],
                    columns=["sid", "corr_group", "ts", "event_key", "track_after", "track_threshold"],
                )
                state = states.setdefault(key, _FakeGroupState())
                for out in group_replay(key, iter([pdf]), state):
                    for ek, sa, sth in out.itertuples(index=False):
                        grouped[ek] = (bool(sa), bool(sth))
            out = seeded_replay(_seeded_input(key[0], key[1], evs, snaps.get(key, pd.DataFrame())))
            for r in out[out["kind"] == "e"].itertuples():
                seeded[r.event_key] = (bool(r.suppressed_after), bool(r.suppressed_threshold))
            snaps[key] = out[out["kind"] == "s"]
    assert grouped == want
    assert seeded == want


# sid -> (ruleset position, xbit ops); an op is (action, bit, key, shape)
# with key "src"/"dst" for a plain bit keyed by that address and None for
# a flexbit.  f is a funnel flexbit (it has an unset); p, q and g form one
# chain component (30, 32 and 34 each check one bit and set another).
_XRULES = {
    10: (0, [("set", "p", "src", "")]),
    11: (1, [("unset", "p", "src", "")]),
    20: (2, [("set", "f", None, "")]),
    21: (3, [("unset", "f", None, "by_dst")]),
    22: (4, [("isset", "f", None, "by_src")]),
    23: (5, [("isnotset", "f", None, "reverse")]),
    30: (6, [("isset", "p", "src", ""), ("set", "q", "dst", "")]),
    31: (7, [("isset", "q", "dst", "")]),
    32: (8, [("isnotset", "q", "dst", ""), ("set", "g", None, "")]),
    33: (9, [("isset", "g", None, "by_src")]),
    34: (10, [("isset", "g", None, "both"), ("unset", "g", None, "by_src")]),
}
_CHAIN = {30, 32, 34}
_STAGE_A = {10, 11, 20, 21}
_ORDER = lambda r: (r[3], r[4], r[5])  # noqa: E731  (ts_d, event_key, seq)


@given(
    events=st.lists(
        st.tuples(
            # setters of the chain's entry bit and the chain rules drawn
            # more often, so gated sets fire and cross the cuts
            st.sampled_from([10, 10, 11, 20, 21, 22, 23, 30, 30, 30, 31, 32, 33, 34]),
            st.integers(0, 60),
            st.sampled_from("ab"), st.sampled_from("ab"), st.sampled_from("uv"),
        ),
        min_size=15, max_size=60,
    ),
    expire=st.sampled_from([0, 5, 20]),
    chain_after=st.one_of(st.none(), st.tuples(_counts, _secs)),
    data=st.data(),
)
def test_xbit_walk_adapters_agree(events, expire, chain_after, data):
    """Set/unset/check events for plain bits, a funnel flexbit and a chain
    component (one chain rule carrying after/threshold), in event-time
    order, through the one walk body: a single batch pass and stage B's
    micro-batches — each replaying the staged stage-A events, the chain
    sets fired in earlier cuts and ``cseed`` rows from the previous cut's
    ``cstate`` snapshot — return the same check verdicts and chain flags.
    Stage A has drained before stage B (the drain-ordered pipeline), so
    every stage-A set is staged."""
    specs = {
        30: {
            "after": chain_after,
            "threshold": ("limit", 1, 30),
            "after_track": ("by_src",),
            "thr_track": ("by_dst",),
        }
    }
    hits = sorted(
        (ts, f"e{i:03d}", sid, src, dst, user)
        for i, (sid, ts, src, dst, user) in enumerate(events)
    )
    stage_a, stage_b, want = [], [], set()
    for ts, ek, sid, src, dst, user in hits:
        pos, ops = _XRULES[sid]
        hit_id = f"{ek}#{sid}"
        for action, bit, key, shape in ops:
            check = action in ("isset", "isnotset")
            flex = key is None
            kind = ("f" if flex else "") + ("check" if check else action)
            if sid in _CHAIN and not check:
                kind = "c" + kind
            corr = (30, src, dst) if sid == 30 and not check else (None, None, None)
            row = (
                kind, bit, "" if flex else {"src": src, "dst": dst}[key], float(ts), ek,
                pos * 2 + (0 if check else 1), 0 if check or action == "unset" else expire,
                shape, *((src, dst, user) if flex else (None, None, None)),
                hit_id if check or sid in _CHAIN else None, action == "isset", *corr,
            )
            (stage_a if sid in _STAGE_A else stage_b).append(row)
            if check:
                want.add((ek, sid))

    def replay(rows, verdicts, flags):
        """One walk pass over ``rows``, split across arbitrary Arrow
        batches; returns the other output rows as walk event tuples."""
        frame = pd.DataFrame(sorted(rows, key=_ORDER), columns=_XBIT_WALK_COLS)
        rest = []
        for out in _make_xbit_walk(specs)(iter(_cut(frame, data))):
            out = out.astype(object).where(out.notna(), None)
            for r in out.itertuples(index=False):
                ek, sid = (r.hit_id or "#").split("#")
                if r.kind == "verdict":
                    verdicts[(ek, int(sid))] = r.ok
                elif r.kind == "cflags":
                    flags[(ek, int(sid))] = (r.suppressed_after, r.suppressed_threshold)
                else:
                    rest.append(tuple(getattr(r, c) for c in _XBIT_WALK_COLS))
        return rest

    # batch: one pass over every bit
    verdicts, flags = {}, {}
    replay(stage_a + stage_b, verdicts, flags)
    assert set(verdicts) == want

    # streaming: micro-batches cut in event-time order
    s_verdicts, s_flags = {}, {}
    fired, seeds = [], []
    for cut in _cut(hits, data):
        keys = {ek for _, ek, *_ in cut}
        rest = replay(
            stage_a + fired + seeds + [r for r in stage_b if r[4] in keys],
            s_verdicts, s_flags,
        )
        fired += [r for r in rest if r[0] in GATED.values()]
        seeds = [("cseed", *r[1:]) for r in rest if r[0] == "cstate"]
    assert s_verdicts == verdicts
    assert s_flags == flags
