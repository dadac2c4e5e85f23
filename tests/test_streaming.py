"""Streaming mode: stateful counters + checkpoint resume (SURVEY §2.9).

Verifies that the Structured Streaming pipeline (the batch
after/threshold replay per micro-batch, seeded from the previous
micro-batch's snapshot store) produces the SAME routed-row set as the
batch engine over the same corpus, including when the corpus arrives in
chunks with a query restart in between — state and sink offsets resume
from the checkpoint and the stores (the reference's mmap-survives-restart
property, reference src/sagan-defs.h:185-208)."""

from __future__ import annotations

import re
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sagan_spark.data.pages import generate_pages
from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame


@pytest.fixture(scope="module")
def stream_rules(fixture_rules):
    return [
        r
        for r in fixture_rules
        if not any(x.action in ("isset", "isnotset") for x in r.xbits)
    ]


@pytest.fixture(scope="module")
def chunked_corpus(tmp_path_factory):
    """Pages split into two ts-ordered chunks (chunk1 strictly earlier)."""
    root = tmp_path_factory.mktemp("stream")
    table = generate_pages(n_rows=2_000).sort_by("warc_ts")
    half = table.num_rows // 2
    input_dir = root / "input"
    input_dir.mkdir()
    chunk1, chunk2 = table.slice(0, half), table.slice(half)
    return root, input_dir, chunk1, chunk2


def _routed_set(df: pd.DataFrame) -> set:
    return {(r.url, r.sid) for r in df.itertuples()}


def test_streaming_equals_batch_with_restart(spark, stream_rules, chunked_corpus):
    root, input_dir, chunk1, chunk2 = chunked_corpus
    out = str(root / "sinks")
    ckpt = str(root / "ckpt")

    # batch truth over the full corpus
    full = pa.concat_tables([chunk1, chunk2])
    full_path = str(root / "full.parquet")
    pq.write_table(full, full_path)
    batch_engine = SaganSparkEngine(stream_rules)
    pages = spark.read.parquet(full_path)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {(r.event_key, r.sid) for r in batch_alerts.select("event_key", "sid").collect()}

    seng = StreamingSaganEngine(stream_rules, watermark="0 seconds")

    # ---- chunk 1 -> run to completion ----
    pq.write_table(chunk1, str(input_dir / "chunk1.parquet"))
    frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
    q = seng.start_sink_query(frame, out, ckpt, sinks=["alerts_eve"])
    q.awaitTermination(120)

    # ---- restart with chunk 2 present; state resumes from checkpoint ----
    pq.write_table(chunk2, str(input_dir / "chunk2.parquet"))
    frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
    q = seng.start_sink_query(frame, out, ckpt, sinks=["alerts_eve"])
    q.awaitTermination(120)

    got_df = spark.read.parquet(f"{out}/alerts_eve").select("url", "alert_signature_id").toPandas()
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    missing, extra = want - got, got - want
    assert not missing and not extra, (
        f"missing={sorted(missing)[:5]} extra={sorted(extra)[:5]} "
        f"want={len(want)} got={len(got)}"
    )


def test_restart_is_exactly_once(spark, stream_rules, chunked_corpus):
    """Re-running the finished query must not duplicate sink rows."""
    root, input_dir, chunk1, chunk2 = chunked_corpus
    out = str(root / "sinks")
    ckpt = str(root / "ckpt")
    before = spark.read.parquet(f"{out}/alerts_eve").count()

    seng = StreamingSaganEngine(stream_rules, watermark="0 seconds")
    frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
    q = seng.start_sink_query(frame, out, ckpt, sinks=["alerts_eve"])
    q.awaitTermination(120)
    after = spark.read.parquet(f"{out}/alerts_eve").count()
    assert after == before


def test_xbit_condition_rules_rejected(fixture_rules):
    has_cond = [
        r for r in fixture_rules if any(x.action in ("isset", "isnotset") for x in r.xbits)
    ]
    assert has_cond, "fixture ruleset should carry an xbit condition rule"
    with pytest.raises(NotImplementedError) as err:
        StreamingSaganEngine(fixture_rules)
    # the message names a method that exists
    named = re.search(r"use (\w+)", str(err.value)).group(1)
    assert hasattr(StreamingSaganEngine, named), named


def test_chained_xbit_pipeline_equals_batch(spark, fixture_rules, tmp_path):
    """Full ruleset (incl. xbit set/isset) through the one streaming
    query with a restart between chunks == batch engine."""
    table = generate_pages(n_rows=2_000).sort_by("warc_ts")
    half = table.num_rows // 2
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")

    full_path = str(tmp_path / "full.parquet")
    pq.write_table(table, full_path)
    batch_engine = SaganSparkEngine(fixture_rules)
    pages = spark.read.parquet(full_path)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {(r.event_key, r.sid) for r in batch_alerts.select("event_key", "sid").collect()}

    seng = StreamingSaganEngine(fixture_rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))

    pq.write_table(table.slice(0, half), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(table.slice(half), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = spark.read.parquet(f"{out}/alerts_eve").select("url", "alert_signature_id").toPandas()
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    missing, extra = want - got, got - want
    assert not missing and not extra, (
        f"missing={sorted(missing)[:5]} extra={sorted(extra)[:5]} "
        f"want={len(want)} got={len(got)}"
    )


# ---------------------------------------------------------------------------
# VERDICT r1 #6: streaming parity for xbit unset + flexbit shapes, and
# VERDICT r1 #4: the bit snapshot stays bounded
# ---------------------------------------------------------------------------


def _mini_pages(rows):
    """rows: list of (url, ts_iso, text) -> pages-schema pyarrow table."""
    return pa.table(
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


UNSET_RULES = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name b1, track ip_src, expire 1h; sid:9300001;)
alert any any any -> any any (msg:"clear"; content:"clearme"; parse_src_ip: 1; xbits: unset, name b1, track ip_src; sid:9300002;)
alert any any any -> any any (msg:"check"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b1, track ip_src; sid:9300003;)
"""


def _run_chained(spark, rules, table, tmp_path, name):
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(rules) if isinstance(rules, str) else rules
    input_dir = tmp_path / f"{name}_in"
    input_dir.mkdir()
    out = str(tmp_path / f"{name}_sinks")
    ckpt = str(tmp_path / f"{name}_ckpt")
    pq.write_table(table, str(input_dir / "c1.parquet"))

    full_path = str(tmp_path / f"{name}_full.parquet")
    pq.write_table(table, full_path)
    pages = spark.read.parquet(full_path)
    batch_engine = SaganSparkEngine(rules)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {
        (r.event_key, r.sid)
        for r in batch_alerts.select("event_key", "sid").collect()
    }

    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    return want, got, out


def test_streaming_xbit_unset_equals_batch(spark, tmp_path):
    table = _mini_pages(
        [
            ("u://a/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 ok"),
            ("u://a/2", "2026-01-01 00:00:10", "checkme from 10.0.0.1 now"),  # set
            ("u://a/3", "2026-01-01 00:00:20", "clearme from 10.0.0.1 done"),
            ("u://a/4", "2026-01-01 00:00:30", "checkme from 10.0.0.1 again"),  # unset
            ("u://a/5", "2026-01-01 00:00:40", "checkme from 10.0.0.9 other"),  # never
        ]
    )
    want, got, _ = _run_chained(spark, UNSET_RULES, table, tmp_path, "unset")
    assert got == want
    # the check between set and unset routed; the one after unset did not
    assert ("u://a/2", 9300003) in got
    assert ("u://a/4", 9300003) not in got
    assert ("u://a/5", 9300003) not in got


FLEX_STREAM_RULES = """\
alert any any any -> any any (msg:"reboot"; content:"reboot"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set, win_reboot, 60; sid:9400001;)
alert any any any -> any any (msg:"avoff"; content:"av-off"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset, reverse, win_reboot; sid:9400002;)
"""


def test_streaming_flexbit_reverse_equals_batch(spark, tmp_path):
    table = _mini_pages(
        [
            ("u://f/1", "2026-01-01 00:00:01", "reboot started from 10.0.0.1 to 10.0.0.9 now"),
            ("u://f/2", "2026-01-01 00:00:10", "av-off alert from 10.0.0.9 to 10.0.0.1 bad"),  # reverse hit
            ("u://f/3", "2026-01-01 00:00:11", "av-off alert from 10.0.0.1 to 10.0.0.9 fwd"),  # same dir: miss
            ("u://f/4", "2026-01-01 00:02:30", "av-off alert from 10.0.0.9 to 10.0.0.1 late"),  # expired
        ]
    )
    want, got, _ = _run_chained(spark, FLEX_STREAM_RULES, table, tmp_path, "flex")
    assert got == want
    assert ("u://f/2", 9400002) in got
    assert ("u://f/3", 9400002) not in got
    assert ("u://f/4", 9400002) not in got


def test_expired_bit_leaves_the_bit_snapshot(spark, tmp_path):
    """A set that no later event can see live is not in the micro-batch's
    xbit_state snapshot: the check three hours after the 60 s set is the
    bit's own latest event (bounded store, VERDICT r1 #4)."""
    rules = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name b2, track ip_src, expire 60; sid:9500001;)
alert any any any -> any any (msg:"check"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b2, track ip_src; sid:9500002;)
"""
    table = _mini_pages(
        [
            ("u://p/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 ok"),
            ("u://p/2", "2026-01-01 03:00:00", "checkme from 10.0.0.1 late"),
        ]
    )
    want, got, out = _run_chained(spark, rules, table, tmp_path, "prune")
    assert got == want  # expired set: late check must NOT route
    assert ("u://p/2", 9500002) not in got
    from sagan_spark.streaming.engine import _read_store_or_none

    # the micro-batch wrote its bit snapshot, and the set is not in it
    assert (tmp_path / "prune_sinks/xbit_state/batch_id=s_0").is_dir()
    bits = _read_store_or_none(spark, f"{out}/xbit_state")
    assert bits is None or not bits.filter("bit_name = 'b2'").collect()


def test_chained_pipeline_releases_its_cache(spark, tmp_path):
    """Every micro-batch of both stages unpersists what it cached: no
    persistent RDD is left after a run beyond those there before.
    Compared by id: the context cleaner may drop an earlier test's
    unreleased batch pins meanwhile."""
    from sagan_spark.rules.parser import parse_rules

    # a threshold on both rules: each stage caches its replay output
    rules = parse_rules("""\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name b3, track ip_src, expire 1h; threshold: type limit, track by_src, count 5, seconds 3600; sid:9510001;)
alert any any any -> any any (msg:"check"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b3, track ip_src; threshold: type limit, track by_src, count 5, seconds 3600; sid:9510002;)
""")
    input_dir = tmp_path / "leak_in"
    input_dir.mkdir()
    pq.write_table(
        _mini_pages(
            [
                ("u://l/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 ok"),
                ("u://l/2", "2026-01-01 00:00:10", "checkme from 10.0.0.1 hit"),
            ]
        ),
        str(input_dir / "c1.parquet"),
    )
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    seng.run_pipeline_with_xbits(
        frame_factory, str(tmp_path / "leak_sinks"), str(tmp_path / "leak_ckpt"),
        sinks=["alerts_eve"],
    )
    assert not persistent() - before


FLEX_UNSET_STREAM_RULES = """\
alert any any any -> any any (msg:"reboot"; content:"reboot"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set, win_reboot, 3600; sid:9450001;)
alert any any any -> any any (msg:"clear"; content:"allclear"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: unset, reverse, win_reboot; sid:9450002;)
alert any any any -> any any (msg:"avoff"; content:"av-off"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset, both, win_reboot; sid:9450003;)
"""


def test_streaming_flexbit_unset_funnel_equals_batch(spark, tmp_path):
    """Flexbit unset runs in the streaming query via the per-bit
    funnel walk: the reverse-direction allclear clears the stored
    (1->9) tuple before the check (reference flexbit-mmap.c:1071-1090)."""
    table = _mini_pages(
        [
            ("u://fu/1", "2026-01-01 00:00:01", "reboot started from 10.0.0.1 to 10.0.0.9 now"),
            ("u://fu/2", "2026-01-01 00:00:05", "allclear done from 10.0.0.9 to 10.0.0.1 ok"),
            ("u://fu/3", "2026-01-01 00:00:10", "av-off alert from 10.0.0.1 to 10.0.0.9 bad"),
            # second setter after the clear: bit set again
            ("u://fu/4", "2026-01-01 00:00:20", "reboot started from 10.0.0.1 to 10.0.0.9 again"),
            ("u://fu/5", "2026-01-01 00:00:30", "av-off alert from 10.0.0.1 to 10.0.0.9 late"),
        ]
    )
    want, got, _ = _run_chained(spark, FLEX_UNSET_STREAM_RULES, table, tmp_path, "funset")
    assert got == want
    assert ("u://fu/3", 9450003) not in got  # cleared before this check
    assert ("u://fu/5", 9450003) in got  # re-set before this check


def _batch_want(spark, rules, table, path):
    pq.write_table(table, path)
    batch_engine = SaganSparkEngine(rules)
    alerts = batch_engine.run(batch_engine.frame_from_pages(spark.read.parquet(path))).alerts()
    return {(r.event_key, r.sid) for r in alerts.select("event_key", "sid").collect()}


def _eve_set(spark, out):
    got_df = spark.read.parquet(f"{out}/alerts_eve").select("url", "alert_signature_id").toPandas()
    return {(r.url, r.alert_signature_id) for r in got_df.itertuples()}


def test_stage_a_late_event_equals_batch(spark, tmp_path):
    """An event older than the watermark replays against the current
    state like every other event: limit 2/h routes 10.0.0.1's late
    00:05 event in the second micro-batch, as batch does."""
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"thr"; content:"probe"; parse_src_ip: 1; '
        "threshold: type limit, track by_src, count 2, seconds 3600; sid:9660001;)"
    )
    chunk1 = _mini_pages([
        ("u://le/1", "2026-01-01 00:10:00", "probe from 10.0.0.1 a"),
        ("u://le/2", "2026-01-01 00:20:00", "probe from 10.0.0.2 b"),
    ])
    chunk2 = _mini_pages([("u://le/3", "2026-01-01 00:05:00", "probe from 10.0.0.1 late")])
    want = _batch_want(
        spark, rules, pa.concat_tables([chunk1, chunk2]), str(tmp_path / "le_full.parquet")
    )
    assert want == {("u://le/1", 9660001), ("u://le/2", 9660001), ("u://le/3", 9660001)}

    input_dir = tmp_path / "le_in"
    input_dir.mkdir()
    out, ckpt = str(tmp_path / "le_sinks"), str(tmp_path / "le_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds")
    for i, chunk in enumerate([chunk1, chunk2]):
        pq.write_table(chunk, str(input_dir / f"c{i}.parquet"))
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
        seng.start_sink_query(frame, out, ckpt, sinks=["alerts_eve"]).awaitTermination(120)
    assert _eve_set(spark, out) == want


BOUND_RULES = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name kb, track ip_src, expire 1h; threshold: type limit, track by_src, count 5, seconds 60; sid:9670001;)
alert any any any -> any any (msg:"chk thr"; content:"checkme"; parse_src_ip: 1; xbits: isset, name kb, track ip_src; threshold: type limit, track by_src, count 1, seconds 60; sid:9670002;)
alert any any any -> any any (msg:"chain aft"; content:"checkme"; parse_src_ip: 1; xbits: isset, name kb, track ip_src; xbits: set, name kc, track ip_src, expire 1h; after: track by_src, count 1, seconds 60; sid:9670003;)
"""


def test_snapshot_stores_bounded_by_watermark(spark, tmp_path):
    """10.0.0.1 falls silent for more than watermark + window: the third
    micro-batch's floor (the second snapshots' newest anchor) evicts it
    from both machine snapshot stores (corr_state and chain_corr_state;
    its bits in xbit_state expire only after 1h), and once the fourth prunes
    the snapshots that held it no row of it is left, while 10.0.0.2's
    live keys stay and the sink equals batch."""
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(BOUND_RULES)
    chunks = [
        _mini_pages([
            ("u://bd/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 a"),
            ("u://bd/2", "2026-01-01 00:00:02", "checkme from 10.0.0.1 b"),
            ("u://bd/3", "2026-01-01 00:00:03", "checkme from 10.0.0.1 c"),
        ]),
        _mini_pages([
            ("u://bd/4", "2026-01-01 00:10:00", "setme from 10.0.0.2 d"),
            ("u://bd/5", "2026-01-01 00:10:01", "checkme from 10.0.0.2 e"),
            ("u://bd/6", "2026-01-01 00:10:02", "checkme from 10.0.0.2 f"),
        ]),
        _mini_pages([
            ("u://bd/7", "2026-01-01 00:20:00", "setme from 10.0.0.2 g"),
            ("u://bd/8", "2026-01-01 00:20:01", "checkme from 10.0.0.2 h"),
        ]),
        _mini_pages([
            ("u://bd/9", "2026-01-01 00:30:00", "setme from 10.0.0.2 i"),
            ("u://bd/10", "2026-01-01 00:30:01", "checkme from 10.0.0.2 j"),
        ]),
    ]
    want = _batch_want(
        spark, rules, pa.concat_tables(chunks), str(tmp_path / "bd_full.parquet")
    )

    input_dir = tmp_path / "bd_in"
    input_dir.mkdir()
    out, ckpt = str(tmp_path / "bd_sinks"), str(tmp_path / "bd_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))

    for i, chunk in enumerate(chunks):
        pq.write_table(chunk, str(input_dir / f"c{i}.parquet"))
        seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    assert _eve_set(spark, out) == want

    for store in ("corr_state", "chain_corr_state"):
        rows = [" ".join(map(str, r)) for r in spark.read.parquet(f"{out}/{store}").collect()]
        assert not [r for r in rows if "10.0.0.1" in r], (store, rows)
        assert [r for r in rows if "10.0.0.2" in r], (store, rows)


def _prev_corr_state(spark, path, batch_id, lateness=0.0):
    from sagan_spark.pipeline.correlate import STATE_SCHEMAS
    from sagan_spark.streaming.engine import _read_prev_snapshot

    return _read_prev_snapshot(spark, path, batch_id, STATE_SCHEMAS["corr_state"], lateness)


def test_empty_snapshot_is_not_replaced_by_an_older_one(spark, tmp_path):
    """A micro-batch whose snapshot kept no key still marks its batch: the
    next micro-batch seeds from nothing, not from the one before, whose
    keys may have moved since."""
    from sagan_spark.pipeline.correlate import CORR_STATE_COLS
    from sagan_spark.streaming.engine import _write_corr_snapshot

    path = str(tmp_path / "corr_state")
    snap = spark.createDataFrame(
        [(1, "k", "t", "k", 1, 100)], "sid long, corr_group string, machine string,"
        " mkey string, cnt long, utime long",
    )
    _write_corr_snapshot(spark, snap, path, 0)
    rows, _ = _prev_corr_state(spark, path, 1)
    assert rows.select(*CORR_STATE_COLS).collect() == snap.collect()
    _write_corr_snapshot(spark, snap.limit(0), path, 1)
    assert _prev_corr_state(spark, path, 2)[0] is None
    # a retry of micro-batch 1 still seeds from micro-batch 0
    assert _prev_corr_state(spark, path, 1)[0].count() == 1


def test_snapshot_marker_gives_the_next_floor(spark, tmp_path):
    """The snapshot write leaves its newest anchor in the partition's
    ``_newest`` marker; the next micro-batch's floor is that minus the
    lateness, read without a Spark job.  A retry of micro-batch N reads
    N-1's marker; an empty snapshot and a snapshot written before
    snapshots carried the marker give -inf, without an error."""
    from sagan_spark.streaming.engine import _write_corr_snapshot

    path = str(tmp_path / "corr_state")
    snap = spark.createDataFrame(
        [(1, "k", "t", "k", 1, 100), (2, "j", "t", "j", 1, 160)],
        "sid long, corr_group string, machine string, mkey string, cnt long, utime long",
    )
    _write_corr_snapshot(spark, snap, path, 0)
    assert float((tmp_path / "corr_state/batch_id=s_0/_newest").read_text()) == 160
    assert _prev_corr_state(spark, path, 1, 60.0)[1] == 100.0

    _write_corr_snapshot(spark, snap.limit(0), path, 1)
    assert not (tmp_path / "corr_state/batch_id=s_1/_newest").exists()
    assert _prev_corr_state(spark, path, 2, 60.0)[1] == float("-inf")
    # a retry of micro-batch 1 still reads micro-batch 0's marker
    assert _prev_corr_state(spark, path, 1, 60.0)[1] == 100.0

    # a snapshot of the layout without markers: no floor, rows still seed
    _write_corr_snapshot(spark, snap, path, 2)
    (tmp_path / "corr_state/batch_id=s_2/_newest").unlink()
    rows, floor = _prev_corr_state(spark, path, 3, 60.0)
    assert floor == float("-inf")
    assert rows.count() == 2


def test_previous_snapshot_is_read_without_a_job(spark, tmp_path):
    """Reading a micro-batch's previous snapshot submits no Spark job: the
    store is listed once and its rows are read with the store's known
    schema, not one Parquet schema inference job per store.  The rows
    are those a schema-inferring read of the partition returns, and the
    floor is the marker's, -inf for a first, an empty and a marker-less
    snapshot."""
    from sagan_spark.streaming.engine import _write_corr_snapshot

    sc = spark.sparkContext
    path = str(tmp_path / "corr_state")
    snap = spark.createDataFrame(
        [(1, "k", "t", "k", 1, 100), (2, "j", None, "j", None, 160)],
        "sid long, corr_group string, machine string, mkey string, cnt long, utime long",
    )

    def check(batch_id, part, floor):
        before = set(sc.statusTracker().getJobIdsForGroup())
        rows, got_floor = _prev_corr_state(spark, path, batch_id, 60.0)
        assert set(sc.statusTracker().getJobIdsForGroup()) == before, batch_id
        assert got_floor == floor, batch_id
        if part is None:
            assert rows is None, batch_id
            return
        inferred = spark.read.parquet(str(tmp_path / f"corr_state/batch_id=s_{part}"))
        assert rows.schema == inferred.schema
        assert sorted(rows.collect()) == sorted(inferred.collect()) == sorted(snap.collect())

    check(0, None, float("-inf"))
    _write_corr_snapshot(spark, snap, path, 0)
    check(1, 0, 100.0)
    _write_corr_snapshot(spark, snap.limit(0), path, 1)
    check(2, None, float("-inf"))
    _write_corr_snapshot(spark, snap, path, 2)
    (tmp_path / "corr_state/batch_id=s_2/_newest").unlink()
    check(3, 2, float("-inf"))


def test_failed_concurrent_write_resumes_exactly_once(spark, tmp_path, monkeypatch):
    """One sink write of micro-batch 0 fails while its sibling writes
    (the EVE sink, the corr_state snapshot) run beside it: the query
    fails, and a restart on the same checkpoint routes the batch set
    once, with one snapshot partition for the batch."""
    import sagan_spark.streaming.engine as stream_engine
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"thr"; content:"probe"; parse_src_ip: 1; '
        "threshold: type limit, track by_src, count 2, seconds 3600; sid:9680001;)\n"
        'alert any any any -> any any (msg:"any"; content:"probe"; sid:9680002;)'
    )
    table = _mini_pages([
        (f"u://fw/{i}", f"2026-01-01 00:00:{i:02d}", f"probe from 10.0.0.{i % 2} x")
        for i in range(6)
    ])
    want = _batch_want(spark, rules, table, str(tmp_path / "fw_full.parquet"))
    assert len(want) == 10

    input_dir = tmp_path / "fw_in"
    input_dir.mkdir()
    pq.write_table(table, str(input_dir / "c0.parquet"))
    out, ckpt = str(tmp_path / "fw_sinks"), str(tmp_path / "fw_ckpt")
    seng = StreamingSaganEngine(rules, watermark="0 seconds")
    sinks = ["alerts_eve", "alerts_fast"]

    real_write, failed = stream_engine._idempotent_write, []

    def flaky_write(df, path, batch_id, *args, **kwargs):
        if path.endswith("alerts_fast") and not failed:
            failed.append(batch_id)
            raise OSError("injected sink failure")
        return real_write(df, path, batch_id, *args, **kwargs)

    monkeypatch.setattr(stream_engine, "_idempotent_write", flaky_write)

    def run():
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
        seng.start_sink_query(frame, out, ckpt, sinks=sinks).awaitTermination(120)

    with pytest.raises(Exception, match="injected sink failure"):
        run()
    assert failed == [0]
    run()

    eve = spark.read.parquet(f"{out}/alerts_eve")
    assert eve.count() == eve.select("url", "alert_signature_id").distinct().count()
    assert _eve_set(spark, out) == want
    assert spark.read.parquet(f"{out}/alerts_fast").count() == len(want)
    assert sorted(p.name for p in (tmp_path / "fw_sinks/corr_state").iterdir()
                  if p.name.startswith("batch_id=")) == ["batch_id=s_0"]


def test_read_store_or_none_empty_store_without_deprecation(spark, tmp_path):
    """An existing store directory without data files reads as None, and
    the error-class lookup raises no pyspark deprecation warning."""
    import warnings

    from sagan_spark.streaming.engine import _read_store_or_none

    store = tmp_path / "empty_store"
    store.mkdir()
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert _read_store_or_none(spark, str(store)) is None


# ---------------------------------------------------------------------------
# after/threshold ON xbit-condition rules (the seeded gate replay) — the
# last streaming-parity gate from VERDICT r1 #7: counters advance only on
# condition-PASSING rows (engine.c:999-1024 vs 1373-1389), with state
# carried across micro-batches via the snapshotted corr_state store
# ---------------------------------------------------------------------------

COND_CORR_RULES = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name b1, track ip_src, expire 1h; sid:9400001;)
alert any any any -> any any (msg:"chk thr"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b1, track ip_src; threshold: type limit, track by_src, count 2, seconds 3600; sid:9400002;)
alert any any any -> any any (msg:"chk after"; content:"checkme"; parse_src_ip: 1; xbits: isset, name b1, track ip_src; after: track by_src, count 2, seconds 3600; sid:9400003;)
"""

COND_CORR_EVENTS = [
    ("u://cc/0", "2026-01-01 00:00:01", "setme from 10.0.0.1 ok"),
    ("u://cc/1", "2026-01-01 00:00:10", "checkme from 10.0.0.1 a"),
    ("u://cc/2", "2026-01-01 00:00:20", "checkme from 10.0.0.1 b"),
    # 10.0.0.2 never set: condition fails, counters must NOT advance
    ("u://cc/3", "2026-01-01 00:00:25", "checkme from 10.0.0.2 x"),
    # --- chunk boundary in the streaming run ---
    ("u://cc/4", "2026-01-01 00:01:00", "checkme from 10.0.0.1 c"),
    ("u://cc/5", "2026-01-01 00:01:30", "checkme from 10.0.0.1 d"),
]


def test_streaming_cond_rule_threshold_after_equals_batch(spark, tmp_path):
    """Two-chunk drain with a restart BETWEEN the chunks: the threshold
    (limit 2/h) must keep counting across the chunk boundary (alerts on
    checks 1-2 only) and the after (count 2) must flip across it
    (alerts on checks 3-4 only) — both require the seeded state store."""
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(COND_CORR_RULES)
    table = _mini_pages(COND_CORR_EVENTS)
    input_dir = tmp_path / "cc_in"
    input_dir.mkdir()
    out = str(tmp_path / "cc_sinks")
    ckpt = str(tmp_path / "cc_ckpt")

    full_path = str(tmp_path / "cc_full.parquet")
    pq.write_table(table, full_path)
    pages = spark.read.parquet(full_path)
    batch_engine = SaganSparkEngine(rules)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {
        (r.event_key, r.sid) for r in batch_alerts.select("event_key", "sid").collect()
    }
    # pin the oracle itself so both engines can't be wrong together
    assert want == {
        ("u://cc/0", 9400001),
        ("u://cc/1", 9400002),
        ("u://cc/2", 9400002),
        ("u://cc/4", 9400003),
        ("u://cc/5", 9400003),
    }

    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    pq.write_table(table.slice(0, 4), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(table.slice(4), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"

    # the state store keeps only the current+previous snapshot (older
    # partitions are physically pruned — bounded in continuous mode)
    import glob

    snaps = glob.glob(f"{out}/corr_state/batch_id=*")
    assert 1 <= len(snaps) <= 2, snaps


# ---------------------------------------------------------------------------
# randomized parity: batch == streaming over the full stateful
# surface (set/unset staging, isset/isnotset gates, threshold/after ON
# condition rules, expiring bits), random event orderings + chunk splits
# ---------------------------------------------------------------------------

RANDOM_PARITY_RULES = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name rb, track ip_src, expire 40; sid:9500001;)
alert any any any -> any any (msg:"clear"; content:"clearme"; parse_src_ip: 1; xbits: unset, name rb, track ip_src; sid:9500002;)
alert any any any -> any any (msg:"chk thr"; content:"checkme"; parse_src_ip: 1; xbits: isset, name rb, track ip_src; threshold: type limit, track by_src, count 2, seconds 60; sid:9500003;)
alert any any any -> any any (msg:"chk not"; content:"checkme"; parse_src_ip: 1; xbits: isnotset, name rb, track ip_src; after: track by_src, count 2, seconds 60; sid:9500004;)
alert any any any -> any any (msg:"chain"; content:"checkme"; parse_src_ip: 1; xbits: isset, name rb, track ip_src; xbits: set, name rb2, track ip_src, expire 90; sid:9500005;)
alert any any any -> any any (msg:"chk chain"; content:"probe"; parse_src_ip: 1; xbits: isset, name rb2, track ip_src; sid:9500006;)
alert any any any -> any any (msg:"chain aft"; content:"checkme"; parse_src_ip: 1; xbits: isset, name rb, track ip_src; xbits: set, name rb3, track ip_src, expire 1h; after: track by_src, count 2, seconds 600; sid:9500007;)
alert any any any -> any any (msg:"chk chain aft"; content:"probe"; parse_src_ip: 1; xbits: isset, name rb3, track ip_src; sid:9500008;)
"""


# flexbits: by_src/reverse checks of a bit without unsets (per
# (bit#shape, key) partitions) and a funnel bit cleared by an unset (one
# flat-tuple-store partition per bit name)
RANDOM_PARITY_FLEX_RULES = """\
alert any any any -> any any (msg:"boot"; content:"reboot"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set, fboot, 300; sid:9700001;)
alert any any any -> any any (msg:"av src"; content:"avoff"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset, by_src, fboot; sid:9700002;)
alert any any any -> any any (msg:"av rev"; content:"avoff"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset, reverse, fboot; threshold: type limit, track by_src, count 2, seconds 60; sid:9700003;)
alert any any any -> any any (msg:"login"; content:"login"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set, fsess, 120; sid:9700004;)
alert any any any -> any any (msg:"logout"; content:"logout"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: unset, by_src, fsess; sid:9700005;)
alert any any any -> any any (msg:"act"; content:"probe"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset, both, fsess; sid:9700006;)
alert any any any -> any any (msg:"idle"; content:"probe"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isnotset, by_dst, fsess; after: track by_src, count 1, seconds 60; sid:9700007;)
"""

_RANDOM_PARITY = {
    "xbits": (RANDOM_PARITY_RULES, ["setme", "clearme", "checkme", "checkme", "probe"]),
    "flexbits": (RANDOM_PARITY_FLEX_RULES, ["reboot", "avoff", "login", "logout", "probe"]),
}


def _random_parity_table(ruleset, seed, rng):
    """40 time-ordered events over the verbs of ``ruleset``, drawn from
    ``rng``."""
    t = 0
    rows = []
    for i in range(40):
        # mostly small gaps, occasionally a far-forward jump on ONE
        # key's timeline — the class of input where a partition-global
        # eviction cutoff wrongly dropped OTHER keys' live chain
        # machines (per-key eviction regression coverage, on top of
        # the targeted test in test_xbit_chains.py)
        t += rng.randint(700, 900) if rng.random() < 0.1 else rng.randint(1, 12)
        ip = rng.choice(["10.0.0.1", "10.0.0.2", "10.0.0.3"])
        verb = rng.choice(_RANDOM_PARITY[ruleset][1])
        if ruleset == "flexbits":
            ip = f"{ip} to {rng.choice(['10.0.0.1', '10.0.0.2', '10.0.0.3'])}"
        ts = pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=t)
        rows.append((f"u://rp{seed}/{i}", str(ts), f"{verb} from {ip} x"))
    return _mini_pages(rows)


@pytest.mark.parametrize(
    "ruleset,seed",
    [pytest.param("xbits", s, id=str(s)) for s in (11, 23, 47)]
    + [pytest.param("flexbits", s, id=f"flexbits-{s}") for s in (11, 23, 47)],
)
def test_streaming_random_parity_with_cond_correlation(spark, tmp_path, ruleset, seed):
    import random

    rng = random.Random(seed)
    table = _random_parity_table(ruleset, seed, rng)

    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(_RANDOM_PARITY[ruleset][0])
    input_dir = tmp_path / "rp_in"
    input_dir.mkdir()
    out = str(tmp_path / "rp_sinks")
    ckpt = str(tmp_path / "rp_ckpt")

    full_path = str(tmp_path / "rp_full.parquet")
    pq.write_table(table, full_path)
    pages = spark.read.parquet(full_path)
    batch_engine = SaganSparkEngine(rules)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {
        (r.event_key, r.sid) for r in batch_alerts.select("event_key", "sid").collect()
    }

    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    split = rng.randint(10, 30)
    pq.write_table(table.slice(0, split), str(input_dir / "c1.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    pq.write_table(table.slice(split), str(input_dir / "c2.parquet"))
    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])

    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, (
        f"{ruleset} seed={seed} split={split} "
        f"missing={sorted(want-got)} extra={sorted(got-want)}"
    )


@pytest.mark.parametrize("ruleset", ["xbits", "flexbits"])
def test_continuous_query_random_parity_with_cond_correlation(spark, tmp_path, ruleset):
    """The continuous query (``trigger_available_now=False``, as
    ``jobs/run_stream.py --continuous`` starts it) fed three time-ordered
    files while it runs routes the batch set, condition rules included."""
    import os
    import random

    from sagan_spark.rules.parser import parse_rules

    table = _random_parity_table(ruleset, 5, random.Random(5))
    rules = parse_rules(_RANDOM_PARITY[ruleset][0])
    want = _batch_want(spark, rules, table, str(tmp_path / "cq_full.parquet"))

    input_dir, staging = tmp_path / "cq_in", tmp_path / "cq_staging"
    input_dir.mkdir()
    staging.mkdir()
    out = str(tmp_path / "cq_sinks")
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)
    frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(input_dir)))
    q = seng.start_query(
        frame, out, str(tmp_path / "cq_ckpt"), sinks=["alerts_eve"], trigger_available_now=False
    )
    try:
        for i, (a, b) in enumerate([(0, 12), (12, 27), (27, 40)]):
            # a file appears whole: written aside, then renamed in
            pq.write_table(table.slice(a, b - a), str(staging / f"c{i}.parquet"))
            os.replace(staging / f"c{i}.parquet", input_dir / f"c{i}.parquet")
            q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
    assert _eve_set(spark, out) == want


def test_stage_b_seeded_replay_subsecond_order(spark, tmp_path):
    """Regression: the stage-B seeded replay must order same-second
    events by full-precision time (batch sorts the raw ts column) —
    a floored-seconds sort key replays 'z@10.1s, a@10.9s' as a,z and
    suppresses the wrong event."""
    rules_text = """\
alert any any any -> any any (msg:"set"; content:"setme"; parse_src_ip: 1; xbits: set, name sb, track ip_src, expire 1h; sid:9650001;)
alert any any any -> any any (msg:"chk"; content:"checkme"; parse_src_ip: 1; xbits: isset, name sb, track ip_src; threshold: type limit, track by_src, count 1, seconds 3600; sid:9650002;)
"""
    rows = [
        ("u://ss/0", "2026-01-01 00:00:01.000000", "setme from 10.0.0.1 x"),
        # z-key earlier in time, a-key later — both inside second 10
        ("u://ss/z", "2026-01-01 00:00:10.100000", "checkme from 10.0.0.1 first"),
        ("u://ss/a", "2026-01-01 00:00:10.900000", "checkme from 10.0.0.1 second"),
    ]
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(rules_text)
    table = _mini_pages(rows)

    full_path = str(tmp_path / "ss_full.parquet")
    pq.write_table(table, full_path)
    pages = spark.read.parquet(full_path)
    batch_engine = SaganSparkEngine(rules)
    batch_alerts = batch_engine.run(batch_engine.frame_from_pages(pages)).alerts()
    want = {
        (r.event_key, r.sid) for r in batch_alerts.select("event_key", "sid").collect()
    }
    assert want == {("u://ss/0", 9650001), ("u://ss/z", 9650002)}

    input_dir = tmp_path / "ss_in"
    input_dir.mkdir()
    out = str(tmp_path / "ss_sinks")
    ckpt = str(tmp_path / "ss_ckpt")
    pq.write_table(table, str(input_dir / "c1.parquet"))
    seng = StreamingSaganEngine(rules, watermark="0 seconds", enable_xbits=True)

    def frame_factory():
        return SaganSparkEngine.frame_from_pages(
            pages_stream_frame(spark, str(input_dir))
        )

    seng.run_pipeline_with_xbits(frame_factory, out, ckpt, sinks=["alerts_eve"])
    got_df = (
        spark.read.parquet(f"{out}/alerts_eve")
        .select("url", "alert_signature_id")
        .toPandas()
    )
    got = {(r.url, r.alert_signature_id) for r in got_df.itertuples()}
    assert got == want, f"missing={sorted(want-got)} extra={sorted(got-want)}"


# ---------------------------------------------------------------------------
# flexbit noalert: whole-alert suppression must hold in streaming too —
# the noalert setter's alerts reach no sink, but its SET still stages
# for chained checks (reference sets bits before the Send_Alert gate,
# engine.c:1415-1436).  Written with the `flowbits` spelling to pin the
# alias (Sagan's own published rules use it; doc/sagan-flowbits.rst).
# ---------------------------------------------------------------------------

NOALERT_CHAIN_RULES = """\
alert any any any -> any any (msg:"silent set"; content:"setme"; parse_src_ip: 1; flowbits: set, nb1, 3600; flowbits: noalert; sid:9500001;)
alert any any any -> any any (msg:"check"; content:"checkme"; parse_src_ip: 1; flowbits: isset, by_src, nb1; sid:9500002;)
"""


def test_streaming_flexbit_noalert_equals_batch(spark, tmp_path):
    table = _mini_pages(
        [
            ("u://na/1", "2026-01-01 00:00:01", "setme from 10.0.0.1 ok"),
            ("u://na/2", "2026-01-01 00:00:10", "checkme from 10.0.0.1 hit"),
            ("u://na/3", "2026-01-01 00:00:20", "checkme from 10.0.0.2 miss"),
        ]
    )
    want, got, _ = _run_chained(spark, NOALERT_CHAIN_RULES, table, tmp_path, "noalert")
    assert got == want
    # the noalert setter reaches NO sink...
    assert not any(sid == 9500001 for _, sid in got)
    # ...but its set still gated the chained check
    assert ("u://na/2", 9500002) in got
    assert ("u://na/3", 9500002) not in got


def test_watermark_secs_parse():
    """The snapshot floor lags by the allowed lateness — the parse
    must cover every unit the watermark string accepts."""
    from sagan_spark.rules.parser import parse_rules

    for wm, secs in [
        ("0 seconds", 0),
        ("30 seconds", 30),
        ("10 minutes", 600),
        ("2 hours", 7200),
        ("1 day", 86400),
    ]:
        eng = StreamingSaganEngine(
            parse_rules(UNSET_RULES), watermark=wm, enable_xbits=True
        )
        assert eng._watermark_secs() == secs


def test_interval_secs_accepts_spark_spellings():
    """Every withWatermark spelling must parse (a valid watermark must
    never crash a micro-batch)."""
    from sagan_spark.streaming.engine import _interval_secs

    assert _interval_secs("10 minutes") == 600
    assert _interval_secs("1 Week") == 604800
    assert _interval_secs("500 milliseconds") == 0.5
    assert _interval_secs("1 hour 30 minutes") == 5400
    assert _interval_secs("interval 10 minutes") == 600
    assert _interval_secs("INTERVAL 2 Hours 15 seconds") == 7215
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _interval_secs("10 fortnights")
    with _pytest.raises(ValueError):
        _interval_secs("minutes 10")
