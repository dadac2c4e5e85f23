"""`offload` rule gate (reference src/offload.c + engine.c:772-786):
the remote classifier's verdict gates the rule like a prefilter, only
candidate rows are posted, and parse failures abort like the
reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.compiler import EngineConfig
from sagan_spark.rules.parser import parse_rule, parse_rules
from sagan_spark.streaming import StreamingSaganEngine


def _frame(spark, rows):
    df = spark.createDataFrame(rows, "event_key string, ts string, message string")
    return df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("h.example").alias("host"), F.lit("prog").alias("program"),
        F.lit("daemon").alias("facility"), F.lit("info").alias("level"),
        F.lit("t").alias("tag"), F.lit("").alias("priority"), "message",
    )


RULES = """\
alert any any any -> any any (msg:"off"; content:"needle"; offload: http://classifier.local/check; sid:9700001;)
alert any any any -> any any (msg:"plain"; content:"needle"; sid:9700002;)
"""


def _file_poster(wire_log: str):
    """A deterministic classifier that logs every payload it is sent.
    The poster runs in EXECUTOR processes — observations come back
    through the shared local FS, not a driver-side list."""

    def fake_poster(location: str, payloads: list[str]) -> list[bool]:
        assert location == "http://classifier.local/check"
        with open(wire_log, "a") as fh:
            for p in payloads:
                fh.write(p.replace("\n", "\\n") + "\n")
        # reference semantics: response must contain 'true'
        return ["deny" not in p for p in payloads]

    return fake_poster


def _posted(wire_log: str) -> list[str]:
    """The distinct payloads a ``_file_poster`` was sent, sorted."""
    with open(wire_log) as fh:
        return sorted({line.rstrip("\n") for line in fh if line.strip()})


def test_offload_option_parses_and_empty_location_aborts():
    r = parse_rule(
        'alert any any any -> any any (msg:"x"; content:"a"; '
        "offload: http://h/p; sid:1;)"
    )
    assert r.offload == "http://h/p"
    with pytest.raises(ValueError, match="offload option with no location"):
        parse_rule('alert any any any -> any any (msg:"x"; offload: ; sid:2;)')


def test_offload_verdict_gates_rule_and_posts_candidates_only(spark, tmp_path):
    rows = [
        ("e1", "2026-01-01 00:00:01", "needle ok please"),
        ("e2", "2026-01-01 00:00:02", "needle deny this"),
        ("e3", "2026-01-01 00:00:03", "no match here"),
    ]
    wire_log = str(tmp_path / "posted.log")
    cfg = EngineConfig(offload_poster=_file_poster(wire_log))
    rules = parse_rules(RULES)
    hits = SaganSparkEngine(rules, cfg).run(_frame(spark, rows)).alerts()
    got = {(r.event_key, r.sid) for r in hits.select("event_key", "sid").collect()}
    assert got == {
        ("e1", 9700001),          # classifier said yes
        ("e1", 9700002),          # plain rule unaffected
        ("e2", 9700002),          # offload rule gated out, plain fires
    }
    # only CANDIDATE rows (cheap predicate passed) ever cross the wire.
    # the engine may evaluate the gate once per downstream consumer of
    # an uncached plan, so assert on the DISTINCT payload set
    posted = _posted(wire_log)
    assert len(posted) == 2
    assert not any("no match here" in p for p in posted)
    # the reference's snprintf payload shape (offload.c:62)
    p = next(x for x in posted if "needle ok" in x)
    fields = p.split("|")
    assert fields[0] == "h.example" and fields[7] == "prog"
    assert fields[5] == "2026-01-01" and fields[6] == "00:00:01"
    assert fields[8].startswith("needle ok")


def test_offload_default_poster_fails_closed(spark):
    # no poster injected -> urllib default; an unreachable location
    # must gate the rule to False (offload.c returns false on error),
    # not crash the job
    rows = [("e1", "2026-01-01 00:00:01", "needle x")]
    rules = parse_rules(
        'alert any any any -> any any (msg:"off"; content:"needle"; '
        "offload: http://127.0.0.1:1/unreachable; sid:9700003;)"
    )
    hits = SaganSparkEngine(rules).run(_frame(spark, rows)).alerts()
    assert hits.count() == 0


def test_offload_in_stream_routes_like_batch(spark, tmp_path):
    """A stage-A micro-batch runs the same offload gate as batch: the
    routed (event_key, sid) set is equal and only candidate rows are
    posted.  The stream runs first, on payloads no other test sends, so
    the executors' verdict cache cannot answer for the poster."""
    rows = [
        ("s1", "2026-02-01 00:00:01", "needle ok stream"),
        ("s2", "2026-02-01 00:00:02", "needle deny stream"),
        ("s3", "2026-02-01 00:00:03", "no match in stream"),
    ]
    rules = parse_rules(RULES)
    src = str(tmp_path / "events")
    _frame(spark, rows).write.parquet(src)
    frame = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    wire_log = str(tmp_path / "posted.log")
    seng = StreamingSaganEngine(rules, EngineConfig(offload_poster=_file_poster(wire_log)))
    out = str(tmp_path / "sinks")
    q = seng.start_sink_query(frame, out, str(tmp_path / "ckpt"), sinks=["alerts_eve"])
    q.awaitTermination(120)
    eve = spark.read.parquet(f"{out}/alerts_eve").select("url", "alert_signature_id")
    got = {(r.url, r.alert_signature_id) for r in eve.collect()}

    cfg = EngineConfig(offload_poster=_file_poster(str(tmp_path / "batch.log")))
    alerts = SaganSparkEngine(rules, cfg).run(_frame(spark, rows)).alerts()
    want = {(r.event_key, r.sid) for r in alerts.select("event_key", "sid").collect()}
    assert want == {("s1", 9700001), ("s1", 9700002), ("s2", 9700002)}
    assert got == want
    posted = _posted(wire_log)
    assert len(posted) == 2
    assert not any("no match" in p for p in posted)
