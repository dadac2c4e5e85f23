"""Shared ip-source columns (RuleCompiler.ip_source) must be
behaviour-invariant: rules whose src or dst ip resolves from the same
json_map key and Parse_IP position read ONE projected column of the
final ip string and its (hi, lo) halves, and the routed output equals
what each rule produces on its own, with no column to share."""

from __future__ import annotations

import pytest

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.compiler import RuleCompiler
from sagan_spark.rules.parser import parse_rules

# shapes chosen so SOME sides share a source (1&4: host alone; 2&5:
# Parse_IP position 1; nothing shares with 3 or 6) while contents and
# ports differ — the source must key on the ip's origin ONLY
RULES = """
alert any any any -> any any (msg:"m1"; content:"Failed password"; classtype: misc-activity; sid:9100001; rev:1;)
alert any any any -> any any (msg:"m2"; content:"Failed password"; parse_src_ip: 1; default_dst_port: 22; classtype: misc-activity; sid:9100002; rev:1;)
alert any any any -> any any (msg:"m3"; content:"connection from"; parse_src_ip: 2; default_proto: udp; classtype: misc-activity; sid:9100003; rev:1;)
alert any any any -> any any (msg:"m4"; content:"session opened"; classtype: misc-activity; sid:9100004; rev:1;)
alert any any any -> any any (msg:"m5"; content:"Accepted"; nocase; parse_src_ip: 1; classtype: misc-activity; sid:9100005; rev:1;)
alert any any any -> any any (msg:"m6"; json_map: "src_ip","sip"; json_map: "username","user"; classtype: misc-activity; sid:9100006; rev:1;)
"""

FIELDS = ("event_key", "sid", "src_ip", "dst_ip", "dst_port", "proto")


@pytest.fixture(scope="module")
def source_rules():
    from fixtures.vars import VARIABLES

    return parse_rules(RULES, VARIABLES)


def test_rules_sharing_an_ip_origin_share_a_source(source_rules):
    src = [RuleCompiler.ip_source(r, "src") for r in source_rules]
    assert src[0] == src[3] == (None, 0)  # host alone
    assert src[1] == src[4] == (None, 1)  # Parse_IP position 1
    assert RuleCompiler.ip_source(source_rules[1], "dst") == (None, 0)
    assert RuleCompiler(source_rules).ip_sources == [(None, 1), (None, 2), ("sip", 0)]


def test_shared_sources_route_like_single_rule_runs(source_rules, spark, pages_path):
    """Routed hits of the whole ruleset == the union of each rule's hits
    on its own, where no other rule shares its columns."""
    frame = SaganSparkEngine.frame_from_pages(spark.read.parquet(pages_path).limit(2000))

    def hits(rules):
        got = SaganSparkEngine(rules).match_hits(frame).select(*FIELDS)
        return {tuple(r) for r in got.collect()}

    together = hits(source_rules)
    alone = set().union(*(hits([r]) for r in source_rules))
    assert together == alone
    assert {row[1] for row in together} >= {9100001, 9100002, 9100005}
