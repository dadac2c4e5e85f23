"""Seeded benchmark inputs and the expected output of each.

Everything here is a pure function of (workload, seed, size): the pages
corpus comes from ``sagan_spark.data.pages.generate_pages`` and the
expected routed ``(url, sid)`` set from the pure-Python reference model
``tests.oracle.Oracle`` run over the same rows.  The program under test
only ever sees the parquet files written here.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
FIXTURE_RULES = REPO / "fixtures" / "ruleset.rules"

# tokens that occur in the synthetic corpus templates -> the ~10% of
# generated rules that fire.  Copied from the shape of the rule-count
# probe so that the workload is pinned here, whatever happens to tools/.
FIRING = [
    'content:"Failed password"; parse_src_ip: 1',
    'content:"connection from"',
    'content:"port"; nocase',
    'pcre:"/Failed password for \\w+/"',
    'content:"Failed password"; threshold: type limit, track by_src, count 3, seconds 120',
]


def wide_rules_text(n: int) -> str:
    """``n`` generated rules: every tenth fires, the rest carry a unique
    literal that never occurs; shapes rotate over content, nocase, pcre,
    threshold and after."""
    lines = []
    for i in range(n):
        sid = 6_000_000 + i
        if i % 10 == 0:
            body = FIRING[(i // 10) % len(FIRING)]
        else:
            tok = f"zq{i:06x}tok"
            shape = i % 5
            if shape == 0:
                body = f'content:"{tok}"'
            elif shape == 1:
                body = f'content:"{tok.upper()}"; nocase'
            elif shape == 2:
                body = f'pcre:"/{tok}\\d+/"'
            elif shape == 3:
                body = (
                    f'content:"{tok}"; parse_src_ip: 1; '
                    "threshold: type suppress, track by_src, count 5, seconds 300"
                )
            else:
                body = (
                    f'content:"{tok}"; parse_src_ip: 1; '
                    "after: track by_src, count 5, seconds 300"
                )
        lines.append(
            f'alert any any any -> any any (msg:"gen {i}"; {body}; '
            f"classtype: misc-activity; sid:{sid}; rev:1;)"
        )
    return "\n".join(lines)


def rules_text(ruleset: str) -> str:
    if ruleset == "fixture":
        return FIXTURE_RULES.read_text()
    if ruleset.startswith("wide"):
        return wide_rules_text(int(ruleset[len("wide"):]))
    raise ValueError(f"unknown ruleset {ruleset!r}")


def parse(ruleset: str):
    from fixtures.vars import VARIABLES
    from sagan_spark.rules.parser import parse_rules

    return parse_rules(rules_text(ruleset), VARIABLES)


def condition_sids(rules) -> list[int]:
    """Rules gated by an xbit/flexbit condition (isset/isnotset)."""
    return [r.sid for r in rules if any(x.action in ("isset", "isnotset") for x in r.xbits)]


def corpus(n_rows: int, seed: int) -> pa.Table:
    """The pages corpus: Zipf-skewed hosts, bursts and xbit pairs."""
    from sagan_spark.data.pages import generate_pages

    return generate_pages(n_rows, seed)


def write_corpus(table: pa.Table, path: Path) -> Path:
    pq.write_table(table, str(path), row_group_size=max(8192, table.num_rows // 64))
    return path


def cut_at_ts_boundaries(table: pa.Table, sizes: list[int]) -> list[pa.Table]:
    """Sort ``table`` by event time and split it into slices of about
    ``sizes`` rows each, never splitting one timestamp across two
    slices, so that no micro-batch boundary can change the replay
    order."""
    table = table.sort_by([("warc_ts", "ascending"), ("url", "ascending")])
    ts = table.column("warc_ts").to_pylist()
    n = len(ts)
    cuts = [0]
    for size in sizes[:-1]:
        i = cuts[-1] + max(1, size)
        while i < n and ts[i] == ts[i - 1]:
            i += 1
        if i >= n:
            break
        cuts.append(i)
    cuts.append(n)
    return [table.slice(a, b - a) for a, b in zip(cuts, cuts[1:]) if b > a]


def expected_routes(table: pa.Table, rules) -> set[tuple[str, int]]:
    """The oracle's routed ``(url, sid)`` set for ``table`` under ``rules``."""
    from tests.oracle import Oracle

    cols = table.select(["url", "warc_ts", "text", "lang"]).to_pydict()
    events = [
        {
            "event_key": url,
            "ts": ts,
            "host": urlparse(url).hostname,
            "program": lang,
            "facility": "",
            "level": "",
            "tag": "",
            "message": text,
        }
        for url, ts, text, lang in zip(cols["url"], cols["warc_ts"], cols["text"], cols["lang"])
    ]
    alerts, _ = Oracle(rules).run(events)
    return {(a["url"], a["sid"]) for a in alerts}


def check_routes(eve_path: Path, expected: set[tuple[str, int]]) -> str | None:
    """None when the sink holds exactly ``expected`` with no duplicate
    rows, else a one-line description of the difference."""
    try:
        t = pq.read_table(str(eve_path), columns=["url", "alert_signature_id"])
    except (OSError, pa.ArrowException) as e:
        return f"cannot read {eve_path}: {e}"
    # hidden and _-prefixed files (_SUCCESS, .crc) are skipped by the reader
    got_rows = list(zip(t.column("url").to_pylist(), t.column("alert_signature_id").to_pylist()))
    got = set(got_rows)
    missing, extra = expected - got, got - expected
    dups = len(got_rows) - len(got)
    if missing or extra or dups:
        return (
            f"missing={len(missing)} extra={len(extra)} duplicate_rows={dups} "
            f"e.g. missing={sorted(missing)[:3]} extra={sorted(extra)[:3]}"
        )
    return None
