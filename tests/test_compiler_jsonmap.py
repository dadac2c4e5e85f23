"""json_map field overrides + final-string ip bits (self-review round-2
findings): the reference computes ip bits from the FINAL resolved value
(engine.c:852) and overrides syslog fields from decoded JSON before the
checks (engine.c:323-488)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.compiler import EngineConfig
from sagan_spark.rules.parser import parse_rules


@pytest.fixture()
def json_frame(spark):
    rows = [
        ("e1", "2026-01-01 00:00:01", '{"src": "10.1.2.3", "proc": "sshd", "p": "6", "user": "alice"}', "raw"),
        ("e2", "2026-01-01 00:00:02", '{"src": "8.8.8.8", "proc": "cron", "p": "17"}', "raw"),
        ("e3", "2026-01-01 00:00:03", "not json at all", "raw"),
    ]
    df = spark.createDataFrame(rows, "event_key string, ts string, message string, program string")
    return df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("host.example").alias("host"), "program",
        F.lit("").alias("facility"), F.lit("").alias("level"), F.lit("").alias("tag"),
        "message",
    )


def _keys(spark, txt, frame, cfg=None):
    rules = parse_rules(txt)
    return {
        r.event_key
        for r in SaganSparkEngine(rules, cfg).run(frame).alerts()
        .select("event_key").collect()
    }


def test_json_map_src_ip_feeds_blacklist(spark, json_frame):
    """json_map'd IPs get real bits: blacklist/flow gates can fire
    without a Parse_IP hit (previously hi/lo stayed NULL -> rule dead)."""
    cfg = EngineConfig(blacklist_cidrs=["10.0.0.0/8"])
    txt = ('alert any any any -> any any (msg:"bl"; content:"{"; '
           'json_map: "src_ip",".src"; blacklist: by_src; sid:9800001;)')
    assert _keys(spark, txt, json_frame, cfg) == {"e1"}


def test_json_map_src_ip_feeds_flow_header(spark, json_frame):
    txt = ('alert any 10.0.0.0/8 any -> any any (msg:"fl"; content:"{"; '
           'json_map: "src_ip",".src"; sid:9800002;)')
    assert _keys(spark, txt, json_frame) == {"e1"}
    # negated net: extracted-and-outside passes, unextractable host
    # (hostname -> null bits) passes like the reference's zeroed bits
    txt_neg = ('alert any !10.0.0.0/8 any -> any any (msg:"fl"; content:!"zzz"; '
               'json_map: "src_ip",".src"; sid:9800003;)')
    assert _keys(spark, txt_neg, json_frame) == {"e2", "e3"}


def test_json_map_program_feeds_program_option(spark, json_frame):
    txt = ('alert any any any -> any any (msg:"pg"; content:"{"; '
           'json_map: "program",".proc"; program: sshd; sid:9800004;)')
    assert _keys(spark, txt, json_frame) == {"e1"}


def test_json_map_proto_wins_over_parse_ip(spark, json_frame):
    """json proto beats the Parse_IP literal token (normalization
    overrides parse_*, engine.c:794-806)."""
    rules = parse_rules(
        'alert any any any -> any any (msg:"pr"; content:"{"; '
        'parse_src_ip: 1; json_map: "proto",".p"; sid:9800005;)'
    )
    got = {
        r.event_key: r.proto
        for r in SaganSparkEngine(rules).run(json_frame).alerts()
        .select("event_key", "proto").collect()
    }
    assert got == {"e1": 6, "e2": 17}


def test_null_username_track_key_is_empty(spark, json_frame):
    """A missing username renders as '' in the after/threshold track
    key (the reference hashes the empty string, threshold.c:111), not
    the literal text 'null'."""
    rules = parse_rules(
        'alert any any any -> any any (msg:"tk"; content:"{"; '
        'json_map: "username",".user"; '
        "threshold: type limit, track by_username, count 10, seconds 60; sid:9800006;)"
    )
    hits = SaganSparkEngine(rules).match_hits(json_frame)
    keys = {r.track_threshold for r in hits.select("track_threshold").collect()}
    assert "|0||0|alice" in keys
    assert all("null" not in k for k in keys), keys


def test_v4_hilo_cols_matches_python_twin(spark):
    from sagan_spark.functions.extract import int_to_biased_hilo, ip_to_int
    from sagan_spark.functions.textmatch import ident
    from sagan_spark.pipeline.enrich import v4_hilo_cols

    cases = ["10.1.2.3", "255.255.255.255", "0.0.0.0", "1.2.3.4"]
    bad = ["host.example", "10.1.2", "10.1.2.3.4", "10.01.2.3", "300.1.2.3", "", "::1"]
    df = spark.createDataFrame([(c,) for c in cases + bad], "ip string")
    hi, lo = (F.expr(e) for e in v4_hilo_cols(ident("ip")))
    got = {r.ip: (r.hi, r.lo) for r in df.select("ip", hi.alias("hi"), lo.alias("lo")).collect()}
    for c in cases:
        assert got[c] == int_to_biased_hilo(ip_to_int(c)), c
    for b in bad:
        assert got[b] == (None, None), b


def test_json_map_v6_does_not_borrow_positional_v4_bits(spark):
    """json_map resolves src_ip to a v6 string while Parse_IP finds a
    DIFFERENT v4 in the message: the blacklist gate must not test the
    positional v4's bits against the range (the final string is the
    v6).  Bits go NULL (fail-closed, like a hostname) — unless the two
    strings are literally equal, when borrowing the hit's halves IS
    bits-of-the-final-string."""
    rows = [
        # v6 json ip, blacklisted v4 in the message -> must NOT fire
        ("x1", "2026-01-01 00:00:01", '{"src": "2001:db8::1"} seen 10.9.9.9 ok'),
        # json ip == positional ip (both v4, in range) -> fires
        ("x2", "2026-01-01 00:00:02", '{"src": "10.1.1.1"} seen 10.1.1.1 ok'),
    ]
    df = spark.createDataFrame(rows, "event_key string, ts string, message string")
    frame = df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("host.example").alias("host"), F.lit("p").alias("program"),
        F.lit("").alias("facility"), F.lit("").alias("level"), F.lit("").alias("tag"),
        "message",
    )
    cfg = EngineConfig(blacklist_cidrs=["10.0.0.0/8"])
    txt = ('alert any any any -> any any (msg:"bl6"; content:"{"; '
           'json_map: "src_ip",".src"; parse_src_ip: 1; '
           'blacklist: by_src; sid:9800010;)')
    assert _keys(spark, txt, frame, cfg) == {"x2"}
