"""Field-extraction primitives: Parse_IP, Parse_Hash, JSON flatten.

The per-event Python implementations here are the *semantic spec*
(transliterated from the cited reference behavior); the Spark engine
runs them through Arrow-batched pandas UDFs (:mod:`sagan_spark.functions.udfs`)
or, where possible, pure Catalyst regexp expressions.

- Parse_IP token zoo: reference src/parsers/ip.c:33-61 (comment block),
  scrub src/parsers/ip.c:135-163, token loop src/parsers/ip.c:171-958.
- Parse_Hash: reference src/parsers/hash.c:41-153 + Validate_HEX
  src/util.c:789-806.
- JSON flatten: reference src/parsers/json.c:40-134 (recursive dotted
  keys with leading '.', nested objects kept stringified AND re-parsed).
"""

from __future__ import annotations

import ipaddress
import json
import re
from dataclasses import dataclass

MAX_PARSE_IP = 30  # reference src/sagan-defs.h:116
JSON_MAX_OBJECTS = 256  # reference src/sagan-defs.h:66-67
DEFAULT_SAGAN_PORT = 514  # reference src/config-yaml.c:227

# characters scrubbed to space before tokenizing (src/parsers/ip.c:141-148)
_SCRUB = "\"()[]<>{},/@=-!|_+&%$~^'"
_SCRUB_TABLE = str.maketrans({c: " " for c in _SCRUB})

_V4_MAPPED_BASE = 0xFFFF00000000
_BIAS = 1 << 63


@dataclass
class IpHit:
    ip: str
    port: int
    ip_int: int  # 128-bit comparison space (v4 mapped to ::ffff:a.b.c.d)


def ip_to_int(ip: str) -> int:
    addr = ipaddress.ip_address(ip)
    if addr.version == 4:
        return _V4_MAPPED_BASE + int(addr)
    return int(addr)


def int_to_biased_hilo(v: int) -> tuple[int, int]:
    """Split a 128-bit int into two signed-comparable biased longs.

    Biasing by 2^63 makes unsigned 128-bit ordering equal to signed
    lexicographic (hi, lo) ordering — usable in plain Spark long columns.
    """
    hi = (v >> 64) - _BIAS
    lo = (v & ((1 << 64) - 1)) - _BIAS
    return hi, lo


def _v4_int(tok: str) -> int | None:
    """Fast IPv4 parse: int value or None.  Same accept set as
    ipaddress.IPv4Address for dotted-quad strings (no leading-zero
    octets, 0-255, exactly 4 parts) at ~10x less per-call cost — this
    runs per TOKEN in the extraction hot loop."""
    parts = tok.split(".")
    if len(parts) != 4:
        return None
    v = 0
    for p in parts:
        # isascii() guard: str.isdigit() accepts Unicode digits ('²', '٢')
        # which int() either rejects (crash) or parses (diverging from
        # IPv4Address's ASCII-only accept set) — web text hits both.
        if (
            not p.isascii()
            or not p.isdigit()
            or (len(p) > 1 and p[0] == "0")
            or len(p) > 3
        ):
            return None
        o = int(p)
        if o > 255:
            return None
        v = (v << 8) | o
    return v


def _valid_v6(tok: str) -> bool:
    try:
        ipaddress.IPv6Address(tok)
        return True
    except ValueError:
        return False


# [0-9] not \d: Python \d matches Unicode decimal digits, C atoi is
# ASCII-only.  Precompiled: this runs once per v4:port token in the
# extraction hot loop.
_ATOI_RE = re.compile(r"\s*[+-]?[0-9]+")


def _atoi(s: str) -> int:
    """C atoi for PORT tokens: leading int prefix, 0 on garbage,
    truncated mod 2^16 like the reference's assignment into the uint16
    port fields (src/sagan.h:411-412) — Python's unbounded int would
    otherwise overflow the UDF's Arrow int32 port column and abort the
    whole task on one malformed token like ':4294967296'."""
    m = _ATOI_RE.match(s)
    if not m:
        return 0
    try:
        return int(m.group(0)) & 0xFFFF
    except ValueError:
        return 0


def _port_lookahead(tokens: list[str], j: int, sagan_port: int) -> int:
    """Replicate the reference's non-consuming lookahead for
    'IP port 1234' / 'IP source|destination port[:] 1234' /
    'IP client port[:] 1234' forms (src/parsers/ip.c:291-420).

    The reference copies the tail into a 64-byte buffer before
    re-tokenizing (src/parsers/ip.c:291), so the lookahead only sees the
    first 63 chars after the IP token — replicated here.
    """
    return port_from_tail(" ".join(tokens[j + 1 :])[:63], sagan_port)


def port_from_tail(tail: str, sagan_port: int) -> int:
    """Port rules over an already-truncated 63-char lookahead tail —
    shared by the scalar walk and the vectorized tier-1 path
    (udfs.parse_ip_batch), so the spec lives in exactly one place."""
    la = tail.split()
    port = sagan_port
    if not la:
        return port
    t0 = la[0].lower()
    if "port" in t0:
        if len(la) >= 2:
            p = _atoi(la[1])
            port = p if p != 0 else sagan_port
    elif "source" in t0 or "destination" in t0:
        if len(la) >= 2 and "port" in la[1].lower():
            if len(la) >= 3:
                p = _atoi(la[2])
                port = p if p != 0 else sagan_port
    elif "client" in t0:
        if len(la) >= 2 and "port" in la[1].lower():
            if len(la) >= 3:
                p = _atoi(la[2])
                port = p if p != 0 else sagan_port
    return port


def parse_ip(message: str, sagan_port: int = DEFAULT_SAGAN_PORT) -> tuple[list[IpHit], int]:
    """Extract up to MAX_PARSE_IP positional IP/port hits + a protocol.

    Returns (hits, proto) where proto is 6/17/1 if a literal tcp/udp/icmp
    token was seen (src/parsers/ip.c:216-249), else 0.
    """
    if not message:
        return [], 0

    mod = message.translate(_SCRUB_TABLE)
    tokens = mod.split(" ")
    # strtok skips empty fields; keep indexes aligned for lookahead
    idx_tokens = [(j, t) for j, t in enumerate(tokens) if t]
    toks_flat = [t for _, t in idx_tokens]

    hits: list[IpHit] = []
    proto = 0

    for pos, (j, tok) in enumerate(idx_tokens):
        low = tok.lower()
        if low == "tcp":
            proto = 6
        elif low == "udp":
            proto = 17
        elif low == "icmp":
            proto = 1

        n_colons = tok.count(":")
        n_dots = tok.count(".")

        # "Needs proper IPv4/IPv6 encoding" gate (src/parsers/ip.c:255)
        if (n_colons < 2 and n_dots < 3) or n_dots > 4:
            continue

        n_hashes = tok.count("#")

        # Stand-alone IPv4 (src/parsers/ip.c:270-435)
        if n_dots == 3 and n_colons == 0 and n_hashes == 0:
            v4 = _v4_int(tok)
            if v4 is not None:
                port = _port_lookahead(toks_flat, pos, sagan_port)
                hits.append(IpHit(tok, port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            continue

        # Stand-alone IPv4 with trailing period (src/parsers/ip.c:439-472)
        if n_dots == 4 and tok.endswith("."):
            body = tok[:-1]
            v4 = _v4_int(body)
            if v4 is not None:
                hits.append(IpHit(body, sagan_port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            continue

        # IPv4:PORT or IFACE:IPv4 (src/parsers/ip.c:476-552)
        if n_colons == 1 and n_dots == 3:
            left, _, right = tok.partition(":")
            v4 = _v4_int(left)
            if v4 is not None:
                p = _atoi(right)
                hits.append(IpHit(left, p if p != 0 else sagan_port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            elif right and (v4 := _v4_int(right)) is not None:
                hits.append(IpHit(right, sagan_port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            continue

        # IPv4#PORT or inet#IPv4 (src/parsers/ip.c:556-637)
        if n_hashes == 1 and n_dots == 3:
            left, _, right = tok.partition("#")
            v4 = _v4_int(left)
            if v4 is not None:
                p = _atoi(right)
                hits.append(IpHit(left, p if p != 0 else sagan_port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            elif right and (v4 := _v4_int(right)) is not None:
                hits.append(IpHit(right, sagan_port, _V4_MAPPED_BASE + v4))
                if len(hits) >= MAX_PARSE_IP:
                    break
            continue

        # IPv6 family (src/parsers/ip.c:644+)
        if n_colons > 2:
            cand = tok
            port = sagan_port
            if n_hashes == 1:  # v6#port or inet#v6
                left, _, right = cand.partition("#")
                if _valid_v6(left):
                    cand = left
                    p = _atoi(right)
                    port = p if p != 0 else sagan_port
                elif _valid_v6(right):
                    cand = right
            if cand.endswith(".") and _valid_v6(cand[:-1]):
                cand = cand[:-1]
            if _valid_v6(cand):
                # ::ffff: v4-mapped normalized to dotted quad (ip.c ~807)
                v6 = ipaddress.IPv6Address(cand)
                if v6.ipv4_mapped is not None:
                    ip_str = str(v6.ipv4_mapped)
                else:
                    ip_str = cand
                if port == sagan_port:
                    port = _port_lookahead(toks_flat, pos, sagan_port)
                hits.append(IpHit(ip_str, port, ip_to_int(ip_str)))
                if len(hits) >= MAX_PARSE_IP:
                    break
            continue

    return hits, proto


# --- Parse_Hash -----------------------------------------------------------

_HASH_LEN = {"md5": 32, "sha1": 40, "sha256": 64}
# token boundary = space or scrub char ('.' is NOT a boundary: a hash glued
# to a period stays in the same strtok token and fails Validate_HEX)
_BOUND = re.escape(_SCRUB) + " "


def hash_regex(hash_type: str) -> str:
    """Java/PCRE regex equivalent of Parse_Hash for built-in regexp_extract."""
    n = _HASH_LEN[hash_type]
    return rf"(?:(?<=[{_BOUND}])|^)([0-9a-fA-F]{{{n}}})(?:(?=[{_BOUND}])|$)"


def parse_hash(message: str, hash_type: str) -> str:
    """First hex token of exactly the type's length (src/parsers/hash.c:41-153)."""
    if not message:
        return ""
    n = _HASH_LEN[hash_type]
    for tok in message.translate(_SCRUB_TABLE).split(" "):
        if len(tok) == n and all(c in "0123456789abcdefABCDEF" for c in tok):
            return tok
    return ""


# --- JSON flatten ----------------------------------------------------------


def _leaf_str(v) -> str:
    """json-c json_object_get_string equivalents for leaf values."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(", ", ": "))
    return json.dumps(v)


def json_flatten(message: str) -> dict[str, str]:
    """Flatten whole-line JSON into <=256 dotted-key string pairs.

    Keys carry a leading '.', nested objects appear both stringified at
    '.parent' and flattened at '.parent.child'
    (reference src/parsers/json.c:40-134, prefixing at json.c:85).
    Detection gate: '{' within the first 3 chars
    (reference src/processors/engine.c:250-263).
    """
    out: dict[str, str] = {}
    if not message or "{" not in message[:3]:
        return out

    # worklist mirrors the reference's re-scan loop over json_value[]
    work: list[tuple[str, str]] = [("", message)]
    count = 1  # slot 0 is the raw message in the reference
    while work:
        prefix, blob = work.pop(0)
        if "{" not in blob[:3]:
            continue
        try:
            obj = json.loads(blob)
        except (json.JSONDecodeError, ValueError):
            continue
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            key = f"{prefix}.{k}"
            val = _leaf_str(v)
            out[key] = val
            count += 1
            if count >= JSON_MAX_OBJECTS:
                return out
            if isinstance(v, dict):
                work.append((key, val))
    return out
