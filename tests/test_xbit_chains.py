"""Chained xbits: a rule that CHECKS one bit and SETS another
(stage-2 escalation, reference engine.c:999-1024 condition gate then
:1415-1427 sets for fully-matched rules).  The set must fire only when
the rule's own condition passed, in strict event-time order."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.parser import parse_rules

CHAIN_RULES = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bitA, track ip_src, expire 1h; sid:9600001;)
alert any any any -> any any (msg:"s2"; content:"stage2"; parse_src_ip: 1; xbits: isset, name bitA, track ip_src; xbits: set, name bitB, track ip_src, expire 1h; sid:9600002;)
alert any any any -> any any (msg:"s3"; content:"stage3"; parse_src_ip: 1; xbits: isset, name bitB, track ip_src; sid:9600003;)
"""


def _frame(spark, rows):
    tbl = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")
            ),
            "html": [b"" for _ in rows],
            "text": [r[2] for r in rows],
            "lang": ["en" for _ in rows],
        }
    )
    return SaganSparkEngine.frame_from_pages(
        spark.createDataFrame(tbl.to_pandas())
    )


def _alerts(spark, rules_text, rows):
    rules = parse_rules(rules_text)
    res = SaganSparkEngine(rules).run(_frame(spark, rows))
    return {
        (r.event_key, r.sid)
        for r in res.alerts().select("event_key", "sid").collect()
    }


def test_chain_set_fires_only_after_condition_passes(spark):
    rows = [
        # 10.0.0.9: stage3 then stage2 BEFORE any stage1 -> nothing routes,
        # and crucially stage2's set of bitB must NOT happen
        ("u://c/0", "2026-01-01 00:00:01", "stage3 from 10.0.0.9 x"),
        ("u://c/1", "2026-01-01 00:00:02", "stage2 from 10.0.0.9 x"),
        ("u://c/2", "2026-01-01 00:00:03", "stage3 from 10.0.0.9 x"),
        # 10.0.0.1: full chain in order
        ("u://c/3", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://c/4", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        ("u://c/5", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 c"),
        # 10.0.0.1: stage3 arriving before stage2 (but after stage1) must
        # not alert — bitB is set only at 00:01:10
        ("u://c/6", "2026-01-01 00:01:05", "stage3 from 10.0.0.1 early"),
    ]
    got = _alerts(spark, CHAIN_RULES, rows)
    assert got == {
        ("u://c/3", 9600001),  # setter alerts
        ("u://c/4", 9600002),  # condition bitA passed -> alert + set bitB
        ("u://c/5", 9600003),  # bitB visible at 00:01:20
    }


def test_chain_unset_gated_on_condition(spark):
    rules = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bitA, track ip_src, expire 1h; sid:9610001;)
alert any any any -> any any (msg:"arm"; content:"armbit"; parse_src_ip: 1; xbits: set, name bitB, track ip_src, expire 1h; sid:9610002;)
alert any any any -> any any (msg:"dis"; content:"disarm"; parse_src_ip: 1; xbits: isset, name bitA, track ip_src; xbits: unset, name bitB, track ip_src; sid:9610003;)
alert any any any -> any any (msg:"chk"; content:"checkme"; parse_src_ip: 1; xbits: isset, name bitB, track ip_src; sid:9610004;)
"""
    rows = [
        ("u://d/0", "2026-01-01 00:00:01", "armbit from 10.0.0.1 x"),
        # disarm BEFORE bitA set: condition fails, bitB must survive
        ("u://d/1", "2026-01-01 00:00:05", "disarm from 10.0.0.1 x"),
        ("u://d/2", "2026-01-01 00:00:10", "checkme from 10.0.0.1 x"),
        ("u://d/3", "2026-01-01 00:00:20", "stage1 from 10.0.0.1 x"),
        # disarm with bitA set: bitB cleared now
        ("u://d/4", "2026-01-01 00:00:30", "disarm from 10.0.0.1 x"),
        ("u://d/5", "2026-01-01 00:00:40", "checkme from 10.0.0.1 x"),
    ]
    got = _alerts(spark, rules, rows)
    assert got == {
        ("u://d/0", 9610002),
        ("u://d/2", 9610004),  # bitB still set (disarm was not armed)
        ("u://d/3", 9610001),
        ("u://d/4", 9610003),  # disarm passes once bitA set
        # u://d/5 absent: bitB cleared
    }


FLEX_CHAIN_RULES = """\
alert any any any -> any any (msg:"f1"; content:"stage1"; parse_src_ip: 1; flexbits: set, fb1, 1h; sid:9640001;)
alert any any any -> any any (msg:"f2"; content:"stage2"; parse_src_ip: 1; flexbits: isset, by_src, fb1; flexbits: set, fb2, 1h; sid:9640002;)
alert any any any -> any any (msg:"f3"; content:"stage3"; parse_src_ip: 1; flexbits: isset, by_src, fb2; sid:9640003;)
"""


def test_flexbit_chain_set_gated_on_condition(spark):
    """Flexbit chains (a rule that CHECKS a flexbit AND SETS one) —
    reference engine path src/processors/engine.c:999-1024 condition
    gate + :1415-1427 set, flexbit store src/flexbit-mmap.c:106-258."""
    rows = [
        # 10.0.0.9: stage2 before stage1 -> no alert AND fb2 not set
        ("u://f/0", "2026-01-01 00:00:01", "stage2 from 10.0.0.9 x"),
        ("u://f/1", "2026-01-01 00:00:02", "stage3 from 10.0.0.9 x"),
        # 10.0.0.1: full chain in order
        ("u://f/2", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://f/3", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        ("u://f/4", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 c"),
        # stage3 before the chain set -> no alert
        ("u://f/5", "2026-01-01 00:01:05", "stage3 from 10.0.0.1 early"),
        # different src never sees 10.0.0.1's by_src tuples
        ("u://f/6", "2026-01-01 00:01:30", "stage3 from 10.0.0.2 other"),
    ]
    got = _alerts(spark, FLEX_CHAIN_RULES, rows)
    assert got == {
        ("u://f/2", 9640001),
        ("u://f/3", 9640002),
        ("u://f/4", 9640003),
    }


def test_flexbit_chain_unset_gated_on_condition(spark):
    rules = """\
alert any any any -> any any (msg:"arm"; content:"armbit"; parse_src_ip: 1; flexbits: set, fbB, 1h; sid:9650001;)
alert any any any -> any any (msg:"a1"; content:"stage1"; parse_src_ip: 1; flexbits: set, fbA, 1h; sid:9650002;)
alert any any any -> any any (msg:"dis"; content:"disarm"; parse_src_ip: 1; flexbits: isset, by_src, fbA; flexbits: unset, by_src, fbB; sid:9650003;)
alert any any any -> any any (msg:"chk"; content:"checkme"; parse_src_ip: 1; flexbits: isset, by_src, fbB; sid:9650004;)
"""
    rows = [
        ("u://g/0", "2026-01-01 00:00:01", "armbit from 10.0.0.1 x"),
        # disarm BEFORE fbA set: condition fails, fbB must survive
        ("u://g/1", "2026-01-01 00:00:05", "disarm from 10.0.0.1 x"),
        ("u://g/2", "2026-01-01 00:00:10", "checkme from 10.0.0.1 x"),
        ("u://g/3", "2026-01-01 00:00:20", "stage1 from 10.0.0.1 x"),
        ("u://g/4", "2026-01-01 00:00:30", "disarm from 10.0.0.1 x"),
        ("u://g/5", "2026-01-01 00:00:40", "checkme from 10.0.0.1 x"),
    ]
    got = _alerts(spark, rules, rows)
    assert got == {
        ("u://g/0", 9650001),
        ("u://g/2", 9650004),  # fbB still set (disarm was not armed)
        ("u://g/3", 9650002),
        ("u://g/4", 9650003),  # disarm passes once fbA set
        # u://g/5 absent: fbB tuple cleared by the gated unset
    }


def test_mixed_chain_plain_condition_flexbit_set(spark):
    """A chain rule checking a PLAIN xbit and setting a FLEXBIT — both
    forms coexist inside one component walk."""
    rules = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bA, track ip_src, expire 1h; sid:9660001;)
alert any any any -> any any (msg:"mx"; content:"stage2"; parse_src_ip: 1; xbits: isset, name bA, track ip_src; flexbits: set, fbX, 1h; sid:9660002;)
alert any any any -> any any (msg:"fc"; content:"stage3"; parse_src_ip: 1; flexbits: isset, by_src, fbX; sid:9660003;)
"""
    rows = [
        ("u://h/0", "2026-01-01 00:00:01", "stage2 from 10.0.0.9 x"),  # ungated
        ("u://h/1", "2026-01-01 00:00:02", "stage3 from 10.0.0.9 x"),
        ("u://h/2", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://h/3", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        ("u://h/4", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 c"),
    ]
    got = _alerts(spark, rules, rows)
    assert got == {
        ("u://h/2", 9660001),
        ("u://h/3", 9660002),
        ("u://h/4", 9660003),
    }


CHAIN_AFTER_RULES = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bitA, track ip_src, expire 1h; sid:9620001;)
alert any any any -> any any (msg:"s2"; content:"stage2"; parse_src_ip: 1; xbits: isset, name bitA, track ip_src; xbits: set, name bitB, track ip_src, expire 1h; after: track by_src, count 2, seconds 600; sid:9620002;)
alert any any any -> any any (msg:"s3"; content:"stage3"; parse_src_ip: 1; xbits: isset, name bitB, track ip_src; sid:9620003;)
"""


def test_chain_rule_with_after_counters_inside_walk(spark):
    """after ON a chain rule: counters advance only on condition-PASSING
    events (reference engine.c:1370-1389 — After2 runs inside routing,
    which includes the xbit condition), and the SAME machine verdict
    gates both the alert and the verdict-gated set
    (engine.c:1402-1427)."""
    rows = [
        # 10.0.0.9: two stage2 with bitA UNSET — condition fails, so the
        # after counter must NOT advance (routing failed)
        ("u://e/0", "2026-01-01 00:00:01", "stage2 from 10.0.0.9 x"),
        ("u://e/1", "2026-01-01 00:00:02", "stage2 from 10.0.0.9 x"),
        ("u://e/2", "2026-01-01 00:00:10", "stage1 from 10.0.0.9 x"),
        # first PASSING stage2: count 1 <= 2 -> suppressed (if the two
        # failed-condition events above had counted, this would alert)
        ("u://e/3", "2026-01-01 00:00:20", "stage2 from 10.0.0.9 x"),
        ("u://e/4", "2026-01-01 00:00:30", "stage3 from 10.0.0.9 x"),
        # 10.0.0.1: full ladder — 3rd passing stage2 exceeds count 2
        ("u://e/5", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://e/6", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        # suppressed set must NOT have fired: stage3 here stays silent
        ("u://e/7", "2026-01-01 00:01:15", "stage3 from 10.0.0.1 c"),
        ("u://e/8", "2026-01-01 00:01:20", "stage2 from 10.0.0.1 d"),
        ("u://e/9", "2026-01-01 00:01:30", "stage2 from 10.0.0.1 e"),
        ("u://e/10", "2026-01-01 00:01:40", "stage3 from 10.0.0.1 f"),
    ]
    got = _alerts(spark, CHAIN_AFTER_RULES, rows)
    assert got == {
        ("u://e/2", 9620001),
        ("u://e/5", 9620001),
        ("u://e/9", 9620002),  # 3rd condition-passing stage2 for 10.0.0.1
        ("u://e/10", 9620003),  # bitB set by u://e/9
    }


def test_chain_rule_with_threshold_gates_the_set(spark):
    """threshold limit ON a chain rule: a threshold-suppressed event
    must not re-fire the verdict-gated set (engine.c:1402-1427 — the
    set block is inside the thresh/after-clear branch)."""
    rules = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bitA, track ip_src, expire 1h; sid:9625001;)
alert any any any -> any any (msg:"s2"; content:"stage2"; parse_src_ip: 1; xbits: isset, name bitA, track ip_src; xbits: set, name bitB, track ip_src, expire 30; threshold: type limit, track by_src, count 1, seconds 600; sid:9625002;)
alert any any any -> any any (msg:"s3"; content:"stage3"; parse_src_ip: 1; xbits: isset, name bitB, track ip_src; sid:9625003;)
"""
    rows = [
        ("u://t/0", "2026-01-01 00:00:00", "stage1 from 10.0.0.1 a"),
        # 1st passing stage2: alerts, sets bitB (expire 30s)
        ("u://t/1", "2026-01-01 00:00:10", "stage2 from 10.0.0.1 b"),
        ("u://t/2", "2026-01-01 00:00:20", "stage3 from 10.0.0.1 c"),
        # 2nd stage2 inside the window: threshold-suppressed -> bitB NOT
        # re-set; bitB from :10 expires at :40
        ("u://t/3", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 d"),
        ("u://t/4", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 e"),
    ]
    got = _alerts(spark, rules, rows)
    assert got == {
        ("u://t/0", 9625001),
        ("u://t/1", 9625002),
        ("u://t/2", 9625003),
        # u://t/3 absent: threshold suppressed; u://t/4 absent: bitB
        # expired and the suppressed event did not refresh it
    }


def test_chain_streaming_equals_batch_across_chunks(spark, tmp_path):
    """Chained xbits through the streaming query: the
    verdict-gated set fired in chunk 1 must persist in the bit snapshot
    and satisfy a chunk-2 check after a restart."""
    import pyarrow.parquet as pq

    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    rows = [
        ("u://sc/0", "2026-01-01 00:00:01", "stage3 from 10.0.0.9 x"),
        ("u://sc/1", "2026-01-01 00:00:02", "stage2 from 10.0.0.9 x"),
        ("u://sc/3", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://sc/4", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        # --- chunk boundary ---
        ("u://sc/5", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 c"),
        ("u://sc/6", "2026-01-01 00:01:30", "stage3 from 10.0.0.9 late"),
    ]
    tbl = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")
            ),
            "html": [b"" for _ in rows],
            "text": [r[2] for r in rows],
            "lang": ["en" for _ in rows],
        }
    )
    rules = parse_rules(CHAIN_RULES)

    want = _alerts(spark, CHAIN_RULES, rows)
    assert ("u://sc/5", 9600003) in want  # sanity: chain completes

    input_dir = tmp_path / "sc_in"
    input_dir.mkdir()
    out = str(tmp_path / "sc_sinks")
    ckpt = str(tmp_path / "sc_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    pq.write_table(tbl.slice(0, 4), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(tbl.slice(4), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"


def test_flexbit_chain_streaming_equals_batch_across_chunks(spark, tmp_path):
    """Flexbit chains through the streaming query: the
    verdict-gated flexbit set fired in chunk 1 must persist its TUPLE
    in the bit snapshot and satisfy a chunk-2 by_src check after a
    restart — batch == streaming on the same rows."""
    import pyarrow.parquet as pq

    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    rows = [
        ("u://fs/0", "2026-01-01 00:00:01", "stage2 from 10.0.0.9 x"),
        ("u://fs/1", "2026-01-01 00:00:02", "stage3 from 10.0.0.9 x"),
        ("u://fs/2", "2026-01-01 00:01:00", "stage1 from 10.0.0.1 a"),
        ("u://fs/3", "2026-01-01 00:01:10", "stage2 from 10.0.0.1 b"),
        # --- chunk boundary ---
        ("u://fs/4", "2026-01-01 00:01:20", "stage3 from 10.0.0.1 c"),
        ("u://fs/5", "2026-01-01 00:01:30", "stage3 from 10.0.0.9 late"),
        ("u://fs/6", "2026-01-01 00:01:40", "stage3 from 10.0.0.2 other"),
    ]
    tbl = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")
            ),
            "html": [b"" for _ in rows],
            "text": [r[2] for r in rows],
            "lang": ["en" for _ in rows],
        }
    )
    rules = parse_rules(FLEX_CHAIN_RULES)

    want = _alerts(spark, FLEX_CHAIN_RULES, rows)
    assert ("u://fs/4", 9640003) in want  # sanity: chain completes

    input_dir = tmp_path / "fsc_in"
    input_dir.mkdir()
    out = str(tmp_path / "fsc_sinks")
    ckpt = str(tmp_path / "fsc_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    pq.write_table(tbl.slice(0, 4), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(tbl.slice(4), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"


def test_chain_coexists_with_flexbit_funnel(spark):
    """Chain rules (plain xbits, component walk) and flexbit-unset
    funnel bits in ONE ruleset share the walk without cross-talk."""
    rules = """\
alert any any any -> any any (msg:"s1"; content:"stage1"; parse_src_ip: 1; xbits: set, name bitA, track ip_src, expire 1h; sid:9630001;)
alert any any any -> any any (msg:"s2"; content:"stage2"; parse_src_ip: 1; xbits: isset, name bitA, track ip_src; xbits: set, name bitB, track ip_src, expire 1h; sid:9630002;)
alert any any any -> any any (msg:"s3"; content:"stage3"; parse_src_ip: 1; xbits: isset, name bitB, track ip_src; sid:9630003;)
alert any any any -> any any (msg:"fs"; content:"reboot"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set, fbit, 1h; sid:9630004;)
alert any any any -> any any (msg:"fu"; content:"allclear"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: unset, reverse, fbit; sid:9630005;)
alert any any any -> any any (msg:"fc"; content:"avcheck"; parse_src_ip: 1; flexbits: isset, by_src, fbit; sid:9630006;)
"""
    rows = [
        ("u://m/0", "2026-01-01 00:00:01", "stage1 from 10.0.0.1 a"),
        ("u://m/1", "2026-01-01 00:00:05", "reboot started from 10.0.0.1 to 10.0.0.9"),
        ("u://m/2", "2026-01-01 00:00:10", "stage2 from 10.0.0.1 b"),
        ("u://m/3", "2026-01-01 00:00:15", "avcheck from 10.0.0.1 now"),
        ("u://m/4", "2026-01-01 00:00:20", "allclear from 10.0.0.9 to 10.0.0.1 done"),
        ("u://m/5", "2026-01-01 00:00:25", "avcheck from 10.0.0.1 again"),
        ("u://m/6", "2026-01-01 00:00:30", "stage3 from 10.0.0.1 c"),
    ]
    got = _alerts(spark, rules, rows)
    assert got == {
        ("u://m/0", 9630001),
        ("u://m/1", 9630004),
        ("u://m/2", 9630002),  # chain condition + set
        ("u://m/3", 9630006),  # flexbit set at :05 still live
        ("u://m/4", 9630005),
        ("u://m/6", 9630003),  # chain bitB from u://m/2
        # u://m/5 absent: reverse-direction unset cleared the tuple
    }


def test_chain_after_streaming_equals_batch_across_chunks(spark, tmp_path):
    """after ON a chain rule through the streaming query:
    the walk's counter state must SEED across micro-batches (a counter
    built in chunk 1 carries into chunk 2), and suppressed events must
    neither alert nor fire the gated set — batch == streaming."""
    import pyarrow.parquet as pq

    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    rows = [
        # chunk 1: arm bitA, then two condition-passing stage2 events
        # (count 1 and 2 — both after-suppressed, no bitB)
        ("u://ca/0", "2026-01-01 00:00:01", "stage1 from 10.0.0.1 a"),
        ("u://ca/1", "2026-01-01 00:00:10", "stage2 from 10.0.0.1 b"),
        ("u://ca/2", "2026-01-01 00:00:20", "stage2 from 10.0.0.1 c"),
        ("u://ca/3", "2026-01-01 00:00:25", "stage3 from 10.0.0.1 d"),
        # failed-condition noise in another src: must not count
        ("u://ca/4", "2026-01-01 00:00:30", "stage2 from 10.0.0.9 x"),
        # --- chunk boundary ---
        # chunk 2: 3rd passing stage2 exceeds count 2 ONLY if the
        # counter seeded across the restart -> alert + set bitB
        ("u://ca/5", "2026-01-01 00:01:00", "stage2 from 10.0.0.1 e"),
        ("u://ca/6", "2026-01-01 00:01:10", "stage3 from 10.0.0.1 f"),
        ("u://ca/7", "2026-01-01 00:01:20", "stage3 from 10.0.0.9 y"),
    ]
    tbl = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")
            ),
            "html": [b"" for _ in rows],
            "text": [r[2] for r in rows],
            "lang": ["en" for _ in rows],
        }
    )
    rules = parse_rules(CHAIN_AFTER_RULES)

    want = _alerts(spark, CHAIN_AFTER_RULES, rows)
    assert ("u://ca/5", 9620002) in want  # sanity: counter crossed chunks
    assert ("u://ca/6", 9620003) in want

    input_dir = tmp_path / "ca_in"
    input_dir.mkdir()
    out = str(tmp_path / "ca_sinks")
    ckpt = str(tmp_path / "ca_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    pq.write_table(tbl.slice(0, 5), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(tbl.slice(5), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"


def test_chain_after_snapshot_eviction_is_per_key(spark, tmp_path):
    """Machine-snapshot eviction must use each key's OWN timeline: one
    key's far-future event in the same micro-batch must NOT evict
    another key's still-live after-machine (a partition-global cutoff
    did exactly that, losing alerts a batch replay produces)."""
    import pyarrow.parquet as pq

    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    rows = [
        # chunk 1: 10.0.0.1 arms bitA and counts two passing stage2
        # (t=10, t=20; count 2 <= 2 -> suppressed, machine live)
        ("u://ev/0", "2026-01-01 00:00:01", "stage1 from 10.0.0.1 a"),
        ("u://ev/1", "2026-01-01 00:00:10", "stage2 from 10.0.0.1 b"),
        ("u://ev/2", "2026-01-01 00:00:20", "stage2 from 10.0.0.1 c"),
        # 10.0.0.9's passing stage2 sits 20 min ahead — far past the
        # 600s window relative to 10.0.0.1's machine, but on a
        # DIFFERENT key: 10.0.0.1's state must survive the snapshot
        ("u://ev/3", "2026-01-01 00:00:02", "stage1 from 10.0.0.9 x"),
        ("u://ev/4", "2026-01-01 00:20:00", "stage2 from 10.0.0.9 y"),
        # --- chunk boundary ---
        # chunk 2: 10.0.0.1's 3rd passing stage2 at t=30, inside its
        # own 600s window: count 3 > 2 -> alert + bitB -> stage3 alert
        ("u://ev/5", "2026-01-01 00:00:30", "stage2 from 10.0.0.1 d"),
        ("u://ev/6", "2026-01-01 00:00:40", "stage3 from 10.0.0.1 e"),
    ]
    tbl = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array(
                [pd.Timestamp(r[1]) for r in rows], type=pa.timestamp("us")
            ),
            "html": [b"" for _ in rows],
            "text": [r[2] for r in rows],
            "lang": ["en" for _ in rows],
        }
    )
    rules = parse_rules(CHAIN_AFTER_RULES)

    want = _alerts(spark, CHAIN_AFTER_RULES, rows)
    assert ("u://ev/5", 9620002) in want  # sanity: batch alerts on count 3
    assert ("u://ev/6", 9620003) in want

    input_dir = tmp_path / "ev_in"
    input_dir.mkdir()
    out = str(tmp_path / "ev_sinks")
    ckpt = str(tmp_path / "ev_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    pq.write_table(tbl.slice(0, 5), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(tbl.slice(5), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"
