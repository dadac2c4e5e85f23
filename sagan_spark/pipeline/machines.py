"""The one correlation core: after/threshold counters, the xbit/flexbit
bit store and chain verdict gating, shared by every batch and streaming
replay.

Pure Python, no Spark: the Spark functions in ``pipeline/correlate.py``
and ``streaming/engine.py`` only translate their row formats into calls
here, so each semantic exists once and the same calls run inside a
``mapInPandas`` partition walk or a unit test on plain pandas frames.

Reference semantics (through SURVEY §2):

- **after** (after.c:51-229): suppress UNTIL the count exceeds N within T
  of the anchor; once exceeded the anchor slides with each alerting
  event.  Evaluated first; an after-suppressed event never advances
  threshold state (engine.c:1377-1389).
- **threshold** (threshold.c:54-234): ``limit`` anchors the window at the
  first event, ``suppress`` slides it on every event; the count resets
  when an event arrives more than T after the anchor; suppress once the
  count exceeds N.
- **xbits** (xbit-mmap.c:181-264): a check sees a bit as set iff the
  latest set before it is not unset and not expired.  **flexbits** keep
  the reference's flat tuple store (flexbit-mmap.c:106-258): a set
  records (src, dst, username), a check or unset matches stored tuples
  per its direction shape, an unset clears every match (:973-1100).
- **chains** (engine.c:999-1024 vs 1402-1427): a rule that checks one bit
  and sets another sets only when all its own checks held and its own
  after/threshold machines let the event through; the machines advance
  once per hit.
"""

from __future__ import annotations

_NEVER = float("-inf")


class CorrMachines:
    """After/threshold counters for the rules in ``specs`` (sid -> spec,
    ``correlate._corr_spec_map``).

    State maps ``(sid, track-key)`` — the reference's (hash, sid) slots
    (threshold.c:111-113, after.c:108-110) — to ``[count, utime,
    latest]``, where ``latest`` is the key's own latest event time in this
    pass; seeded state has none."""

    __slots__ = ("specs", "after", "thr", "windows")

    def __init__(self, specs: dict) -> None:
        self.specs = specs
        self.after: dict = {}
        self.thr: dict = {}
        # how long past its anchor a key's state still matters: its
        # window, or forever with count 0, where a gap reset alerts
        # differently from a fresh key (after.c:78 vs :140-144,
        # threshold.c:148-150)
        self.windows: dict = {}
        for sid, spec in specs.items():
            for machine, limit in (("a", spec["after"]), ("t", spec["threshold"])):
                if limit is not None:
                    *_, count, secs = limit
                    self.windows[(machine, sid)] = secs if count > 0 else float("inf")

    def step(self, sid: int, t: int, a_key, t_key) -> tuple[bool, bool]:
        """Advance the machines of rule ``sid`` for one event at
        epoch-second ``t``; returns (suppressed_after,
        suppressed_threshold)."""
        spec = self.specs[sid]
        suppressed = False
        if spec["after"] is not None:
            a_count, a_secs = spec["after"]
            st = self.after.get((sid, a_key))
            if st is None:
                self.after[(sid, a_key)] = [1, t, t]
                suppressed = True  # after.c:78 default true until count > N
            else:
                st[0] += 1
                if t > st[2]:
                    st[2] = t
                oldtime = t - st[1]
                suppressed = True
                if oldtime > a_secs:  # gap reset (after.c:132-137)
                    st[0], st[1] = 1, t
                if a_count < st[0]:  # exceeded: alert + slide (after.c:140-144)
                    st[1] = t
                    suppressed = False

        sup_thr = False
        if spec["threshold"] is not None and not suppressed:  # engine.c:1386
            ttype, t_count, t_secs = spec["threshold"]
            st = self.thr.get((sid, t_key))
            if st is None:
                self.thr[(sid, t_key)] = [1, t, t]
            else:
                st[0] += 1
                if t > st[2]:
                    st[2] = t
                oldtime = t - st[1]
                if ttype == "suppress":  # utime slides (threshold.c:126-130)
                    st[1] = t
                if oldtime > t_secs:  # window reset (threshold.c:141-146)
                    st[0], st[1] = 1, t
                sup_thr = t_count < st[0]  # (threshold.c:148-150)
        return suppressed, sup_thr

    def seed(self, machine: str, sid: int, key, count: int, utime: int) -> None:
        """Restore one snapshot row (``machine`` is "a" or "t"); a row of
        a rule no longer in ``specs`` is dropped."""
        if sid in self.specs:
            state = self.after if machine == "a" else self.thr
            state[(int(sid), key)] = [int(count), int(utime), _NEVER]

    def snapshot(self, floor: float = _NEVER):
        """Yield ``(machine, sid, key, count, utime)`` for every surviving
        key: one whose anchor is at most its window before
        ``max(latest, floor)``.

        ``floor`` is the oldest event time a later pass may still replay
        (-inf for a one-shot pass; a streaming micro-batch derives it
        from its watermark).  Any event at or after it finds a dropped
        key's anchor more than a window old and gap-resets, so dropping
        is replay-equivalent.  Each key measures against its OWN latest
        event: another key's (or the group's) would evict a live
        machine."""
        for machine, state in (("a", self.after), ("t", self.thr)):
            for (sid, key), (count, utime, latest) in state.items():
                if utime >= max(latest, floor) - self.windows[(machine, sid)]:
                    yield machine, sid, key, count, utime


def _flex_tuple_match(shape: str, stored: tuple, event: tuple) -> bool:
    """Does a STORED (src, dst, user) tuple match the probing or unsetting
    EVENT's tuple per the direction ``shape`` (reference condition
    dispatch flexbit-mmap.c:106-258, unset dispatch :973-1100)?"""
    if shape == "none":
        return True
    if shape == "both":
        return stored[0] == event[0] and stored[1] == event[1]
    if shape == "by_src":
        return stored[0] == event[0]
    if shape == "by_dst":
        return stored[1] == event[1]
    if shape == "reverse":
        return stored[0] == event[1] and stored[1] == event[0]
    if shape == "username":
        return stored[2] == event[2]
    return False


def _live(entry: tuple, ts: float) -> bool:
    set_ts, expire = entry
    return expire == 0 or (ts - set_ts) < expire


class BitStore:
    """Plain xbits as ``(name, key) -> (set_ts, expire)`` and flexbits as
    one flat tuple store per name, ``{(src, dst, user): (set_ts, expire)}``.

    ``latest`` maps a slot — ``(name, key)`` of a plain bit, the name of
    a flexbit store — to its own latest event time in this pass; seeded
    slots have none."""

    __slots__ = ("plain", "flex", "latest")

    def __init__(self) -> None:
        self.plain: dict = {}
        self.flex: dict = {}
        self.latest: dict = {}

    def apply(self, kind: str, name, key, ts: float, expire, shape, tup):
        """One store operation; returns bit-active for ``check`` and
        ``fcheck``, None for the mutations.  Plain kinds use ``key``,
        flexbit kinds (``f*``) use ``shape`` and the event ``tup``."""
        slot = name if kind[0] == "f" else (name, key)
        if ts > self.latest.get(slot, _NEVER):
            self.latest[slot] = ts
        if kind == "set":
            self.plain[(name, key)] = (ts, expire)
        elif kind == "unset":
            self.plain.pop((name, key), None)
        elif kind == "check":
            entry = self.plain.get((name, key))
            return entry is not None and _live(entry, ts)
        elif kind == "fset":
            self.flex.setdefault(name, {})[tup] = (ts, expire)
        elif kind == "funset":
            store = self.flex.get(name)
            if store:
                for stored in [s for s in store if _flex_tuple_match(shape, s, tup)]:
                    del store[stored]
        elif kind == "fcheck":
            return any(
                _live(entry, ts) and _flex_tuple_match(shape, stored, tup)
                for stored, entry in self.flex.get(name, {}).items()
            )
        else:
            raise ValueError(f"unknown bit operation {kind!r}")
        return None

    def seed(self, name, key, tup, set_ts: float, expire) -> None:
        """Restore one snapshot bit: a plain bit when ``tup`` is None,
        else a flexbit tuple."""
        if tup is None:
            self.plain[(name, key)] = (set_ts, int(expire))
        else:
            self.flex.setdefault(name, {})[tup] = (set_ts, int(expire))

    def snapshot(self, floor: float = _NEVER):
        """Yield ``(name, key, tup, set_ts, expire)`` for every bit an event
        at ``max(latest, floor)`` of its slot still sees live (``tup`` None
        for a plain bit, ``key`` None for a flexbit tuple).  As in
        :meth:`CorrMachines.snapshot`, no event a later pass may replay
        sees a dropped bit live; a bit with expire 0 stays forever, as the
        reference keeps it (src/ipc.c:78-200)."""
        for (name, key), entry in self.plain.items():
            if _live(entry, max(self.latest.get((name, key), _NEVER), floor)):
                yield name, key, None, *entry
        for name, store in self.flex.items():
            horizon = max(self.latest.get(name, _NEVER), floor)
            for tup, entry in store.items():
                if _live(entry, horizon):
                    yield name, None, tup, *entry


#: verdict-gated chain operation -> the store operation it performs
GATED = {"cset": "set", "cunset": "unset", "cfset": "fset", "cfunset": "funset"}


class XbitWalk:
    """One ordered replay of set/unset/check events over a :class:`BitStore`
    with chain verdict gating.

    ``chain_specs`` maps a chain rule's sid to its after/threshold spec;
    :attr:`machines` runs them."""

    __slots__ = ("bits", "machines", "ver", "flags")

    def __init__(self, chain_specs: dict | None = None) -> None:
        self.bits = BitStore()
        self.machines = CorrMachines(chain_specs or {})
        self.ver: dict = {}  # hit id -> AND of its check verdicts so far
        self.flags: dict = {}  # hit id -> its machines' (after, threshold)

    def step(
        self, kind: str, name, key, ts: float, expire, shape, tup,
        hit_id=None, want_set=True, sid=None, a_key=None, t_key=None,
    ):
        """Apply one event in replay order; returns ``(result, flags)``.

        For a check ``result`` is the raw bit state (the verdict is
        ``result == want_set``, ANDed into the hit's gate); for a gated
        chain kind (:data:`GATED`) it is whether the operation fired.
        ``flags`` is ``(suppressed_after, suppressed_threshold)`` the one
        time a chain hit advances its machines, else None."""
        base = GATED.get(kind)
        if base is None:
            active = self.bits.apply(kind, name, key, ts, expire, shape, tup)
            if active is not None:
                self.ver[hit_id] = self.ver.get(hit_id, True) and active == bool(want_set)
            return active, None
        # a chain rule's checks sort before its sets (seq 2p vs 2p+1)
        if not self.ver.get(hit_id, False):
            return False, None
        new_flags = None
        if sid in self.machines.specs:  # sid None/NaN: not a chain-corr rule
            fl = self.flags.get(hit_id)
            if fl is None:
                fl = new_flags = self.flags[hit_id] = self.machines.step(
                    int(sid), int(ts), a_key, t_key
                )
            if fl[0] or fl[1]:
                return False, new_flags
        self.bits.apply(base, name, key, ts, expire, shape, tup)
        return True, new_flags
