"""End-to-end equality: Spark engine vs pure-Python oracle (SURVEY §5.3).

Asserts (a) routed-row set equality (url, sid keyed, both directions),
(b) per-sid aggregate count equality, (c) byte-identical extracted
fields per (url, sid).
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlparse

import pandas as pd
import pytest

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, write_sinks
from sagan_spark.rules.parser import parse_rules
from tests.oracle import Oracle


@pytest.fixture(scope="module")
def engine_and_oracle(spark, fixture_rules, pages_path):
    pages = spark.read.parquet(pages_path)

    engine = SaganSparkEngine(fixture_rules)
    frame = engine.frame_from_pages(pages)
    result = engine.run(frame)
    alerts_pdf = result.alerts().toPandas()

    rows = pages.select("url", "warc_ts", "text", "lang").collect()
    events = [
        {
            "event_key": r.url,
            "ts": r.warc_ts,
            "host": urlparse(r.url).hostname,
            "program": r.lang,
            "facility": "",
            "level": "",
            "tag": "",
            "message": r.text,
        }
        for r in rows
    ]
    oracle_alerts, counters = Oracle(fixture_rules).run(events)
    return alerts_pdf, oracle_alerts, counters


FIELDS = ["src_ip", "src_port", "dst_ip", "dst_port", "proto", "username", "event_id", "md5"]


def test_routed_row_set_equality(engine_and_oracle):
    alerts_pdf, oracle_alerts, _ = engine_and_oracle
    got = {(r.event_key, r.sid) for r in alerts_pdf.itertuples()}
    want = {(a["url"], a["sid"]) for a in oracle_alerts}
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"missing={sorted(missing)[:10]} extra={sorted(extra)[:10]} "
        f"(want={len(want)}, got={len(got)})"
    )


def test_per_sid_counts(engine_and_oracle):
    alerts_pdf, oracle_alerts, counters = engine_and_oracle
    got = alerts_pdf.groupby("sid").size().to_dict()
    assert got == counters.per_sid


def test_extracted_fields_byte_identical(engine_and_oracle):
    alerts_pdf, oracle_alerts, _ = engine_and_oracle
    want = {(a["url"], a["sid"]): tuple(a[f] for f in FIELDS) for a in oracle_alerts}
    for r in alerts_pdf.itertuples():
        key = (r.event_key, r.sid)
        got = (r.src_ip, r.src_port, r.dst_ip, r.dst_port, r.proto,
               r.username, r.event_id, r.md5)
        assert got == want[key], f"{key}: got={got} want={want[key]}"


def test_alert_volume_nonzero(engine_and_oracle):
    _, oracle_alerts, counters = engine_and_oracle
    # sanity: the fixture corpus must actually exercise the ruleset
    assert counters.alerts > 100
    assert counters.suppressed_after > 0
    assert counters.suppressed_threshold > 0
    assert len({a["sid"] for a in oracle_alerts}) >= 15


# a threshold rule and an xbit-condition rule: run() pins hits, the
# suppressed set and the post-condition set
PIN_RULES = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name b8, track ip_src, expire 1h; threshold: type limit, track by_src, count 1, seconds 3600; sid:9520001;)
alert any any any -> any any (msg:"check"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b8, track ip_src; sid:9520002;)
"""


def _pin_frame(spark):
    pdf = pd.DataFrame(
        [
            ("u://r/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 a"),
            ("u://r/2", "2026-01-01 00:00:02", "setme from 10.0.0.1 b"),
            ("u://r/3", "2026-01-01 00:00:10", "checkme from 10.0.0.1 hit"),
            ("u://r/4", "2026-01-01 00:00:11", "checkme from 10.0.0.2 miss"),
        ],
        columns=["url", "warc_ts", "text"],
    ).assign(warc_ts=lambda d: pd.to_datetime(d.warc_ts), lang="en")
    return SaganSparkEngine.frame_from_pages(spark.createDataFrame(pdf))


def _routed(result):
    return {(r.event_key, r.sid) for r in result.alerts().select("event_key", "sid").collect()}


def test_batch_run_releases_what_it_pins(spark, tmp_path):
    """run() -> assemble_alerts -> write_sinks -> release(): no
    persistent RDD is left beyond those there before.  Compared by id:
    the context cleaner may drop earlier tests' RDDs meanwhile."""
    rules = parse_rules(PIN_RULES)

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    frame = _pin_frame(spark)
    result = SaganSparkEngine(rules).run(frame)
    assert len(result.pins) == 3
    assert len(persistent() - before) == 3
    assembled = assemble_alerts(
        result.alerts(), rule_metadata_df(spark, rules), events=frame,
        xbit_condition_sids=[r.sid for r in rules if r.is_condition],
    )
    write_sinks(assembled, str(tmp_path / "sinks"), rules=rules)
    assert spark.read.parquet(str(tmp_path / "sinks" / "alerts_eve")).count() == 2
    result.release()
    assert not persistent() - before


def test_reliable_checkpoint_mode_routes_like_local(spark, tmp_path):
    """With a checkpoint dir the pins are reliable checkpoints: run()
    routes what local mode routes, and release() deletes the files."""
    sc = spark.sparkContext
    rules = parse_rules(PIN_RULES)
    local = SaganSparkEngine(rules).run(_pin_frame(spark))
    want = _routed(local)
    local.release()
    assert want == {("u://r/1", 9520001), ("u://r/3", 9520002)}

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        result = SaganSparkEngine(rules).run(_pin_frame(spark))
        assert _routed(result) == want
        files = [
            pin._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            for pin in result.pins
        ]
        assert len(files) == 3 and all(f.isDefined() for f in files)
        paths = [Path(urlparse(f.get()).path) for f in files]
        assert all(p.exists() for p in paths)
        result.release()
        assert not any(p.exists() for p in paths)
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
