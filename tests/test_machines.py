"""The correlation core (pipeline/machines.py) and the ``mapInPandas``
bodies over it, driven on plain pandas frames without Spark: regressions
for per-key eviction and the eviction floor of the seeded replay, and
property tests that each body run as one pass and run per random
micro-batch cut, carrying its state across the cuts, returns the same
flags."""

from __future__ import annotations

import pandas as pd
from hypothesis import given
from hypothesis import strategies as st

from sagan_spark.pipeline.correlate import (
    _REPLAY_IN_COLS,
    _XBIT_WALK_COLS,
    _corr_spec_map,
    _make_replay,
    _make_xbit_walk,
)
from sagan_spark.pipeline.machines import GATED
from sagan_spark.rules.ir import AfterSpec, RuleIR, ThresholdSpec
from tests.oracle import Oracle


def _replay(specs, events, snapshot=None, floor=float("-inf"), cut=None):
    """One ``_make_replay`` pass: the previous pass's ``snapshot`` rows as
    seeds, then ``events`` [(sid, event_key, ts, a_key, t_key)] in the
    given order, split into Arrow batches by ``cut``.  Returns
    ({event_key: (suppressed_after, suppressed_threshold)} of the
    suppressed events, this pass's snapshot rows)."""
    rows = [
        ("s", r.sid, None, None, None, None, r.machine, r.mkey, r.cnt, r.utime)
        for r in (snapshot if snapshot is not None else pd.DataFrame()).itertuples()
    ]
    rows += [("e", sid, ek, ts, ak, tk, None, None, None, None) for sid, ek, ts, ak, tk in events]
    frame = pd.DataFrame(rows, columns=_REPLAY_IN_COLS)
    out = pd.concat(list(_make_replay(specs, floor)(iter(cut(frame) if cut else [frame]))))
    sup = out[out["kind"] == "e"]
    flags = {
        ek: (bool(a), bool(t))
        for ek, a, t in zip(sup["event_key"], sup["suppressed_after"], sup["suppressed_threshold"])
    }
    return flags, out[out["kind"] == "s"]


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
    _, snap = _replay({7: spec}, [(7, "a1", 100, "a", "x"), (7, "b1", 1000, "b", "x")])
    flags, _ = _replay({7: spec}, [(7, "a2", 130, "a", "x")], snap)
    sup_a, sup_t = flags.get("a2", (False, False))
    assert not sup_a
    assert not sup_t


def test_snapshot_floor_bounds_the_state():
    """A key whose anchor is more than its window before the floor leaves
    the snapshot; one at ``utime >= floor - window`` stays, and so does a
    count-0 key (a gap reset alerts differently from a fresh key).  An
    event at the floor then flags as in one pass."""
    specs = _corr_spec_map([
        RuleIR(sid=1, threshold=ThresholdSpec("limit", ["by_src"], 1, 60)),
        RuleIR(sid=2, after=AfterSpec(["by_src"], 0, 60)),
    ])
    first = [(1, "a1", 100, "", "a"), (1, "c1", 105, "", "c"), (1, "b1", 200, "", "b"),
             (2, "z1", 100, "z", "")]
    floor = 165  # no later event is older
    _, snap = _replay(specs, first, floor=floor)
    assert set(zip(snap["sid"], snap["mkey"])) == {(1, "b"), (1, "c"), (2, "z")}
    later = [(1, "a2", 165, "", "a"), (1, "c2", 165, "", "c"), (2, "z2", 400, "z", "")]
    seeded, _ = _replay(specs, later, snap, floor=floor)
    one_pass, _ = _replay(specs, first + later)
    assert seeded == {k: v for k, v in one_pass.items() if k.endswith("2")}
    assert seeded == {"c2": (False, True)}


# ---------------------------------------------------------------------------
# batch/stream parity over random event sequences and micro-batch cuts
# ---------------------------------------------------------------------------


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
    batch can be older than earlier ones.  The one replay body run as
    one pass over that same arrival order, and run per micro-batch with
    each cut's snapshot seeding the next, agree with the oracle's
    machines.  Each cut's floor is the oldest event any later cut
    holds — the most a watermark could allow — so the snapshots evict
    every key no later event can tell from a fresh one."""
    by_sid = {r.sid: r for r in rules}
    specs = _corr_spec_map(rules)
    rows = []
    for i, (sid, ts, src, dst) in enumerate(events):
        r = by_sid[sid]
        ext = {"src_ip": src, "dst_ip": dst, "username": "", "src_port": 0, "dst_port": 0}
        a_key = Oracle._track_key(r.after.track, ext) if r.after else ""
        t_key = Oracle._track_key(r.threshold.track, ext) if r.threshold else ""
        rows.append((sid, f"e{i:03d}", ts, a_key, t_key, ext))
    cuts = [sorted(c, key=lambda r: (r[2], r[1])) for c in _cut(rows, data)]
    one_pass = [r for c in cuts for r in c]

    oracle = Oracle(rules)
    want = {}
    for sid, ek, ts, _, _, ext in one_pass:
        r = by_sid[sid]
        sup_a = oracle._after(r, ext, ts) if r.after else False
        sup_t = oracle._threshold(r, ext, ts) if r.threshold and not sup_a else False
        if sup_a or sup_t:
            want[ek] = (sup_a, sup_t)

    # batch: one pass, split across arbitrary Arrow batches
    batch, _ = _replay(specs, [r[:5] for r in one_pass], cut=lambda f: _cut(f, data))
    assert batch == want

    # streaming: state snapshotted and seeded at every cut
    streamed, snap = {}, None
    for i, cut in enumerate(cuts):
        floor = min((r[2] for c in cuts[i + 1:] for r in c), default=float("inf"))
        flags, snap = _replay(specs, [r[:5] for r in cut], snap, floor)
        streamed |= flags
    assert streamed == want


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
