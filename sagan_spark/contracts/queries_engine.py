"""Engine-family contract queries (SURVEY §2 S/K/P/F/J/A gates).

Split out of __spark_entry__.py (r5); see its docstring for the
contract rules.  Verbatim builder bodies — one gate per operator,
column aliases matched pairwise with the oracle.
"""

from __future__ import annotations

import os  # noqa: F401

from collections.abc import Callable  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from sagan_spark.contracts.common import _docs, _drain, _ev, _events_frame, _ship_package  # noqa: E501
from sagan_spark.session import local_frame, materialize

def q_s5_pipe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: '|'-delimited frame decode with per-field defaulting
    (reference src/input-pipe.c:41-347)."""
    ev = _ev(spark, sf_dir)
    line = F.concat_ws(
        "|",
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd"),
        F.col("props"),
    )
    parts = F.split(line, r"\|")
    return (
        ev.select(
            F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("unknown")).alias("program"),
            F.try_element_at(parts, F.lit(3)).alias("evt_date"),
        )
        .groupBy("program", "evt_date")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f1_program_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: glob program prefilter (engine.c:492-509; Wildcard util.c:970)."""
    from sagan_spark.functions.textmatch import ident, program_predicate

    ev = _ev(spark, sf_dir)
    return (
        ev.filter(F.expr(program_predicate(ident("event_type"), ["p*", "s?gnup"])))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f2_isin_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: '|'-alternative exact match (engine.c:511-581)."""
    from sagan_spark.functions.textmatch import ident, isin_predicate

    ev = _ev(spark, sf_dir)
    return (
        ev.filter(F.expr(isin_predicate(ident("event_type"), ["error", "signup"])))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


def q_f2_syslog_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (complete): syslog_priority prefilter compiled through the
    real engine path (reference src/processors/engine.c:565-581,
    option parse src/rules.c:2706)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        F.when(F.col("value") > 150, "crit")
        .when(F.col("value") > 50, "warning")
        .otherwise("info")
        .alias("priority"),
        F.col("props").alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"pri gate"; '
        'syslog_priority: crit|warning; content:"{"; sid:7300001; rev:1;)'
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return (
        alerts.join(frame.select("event_key", "program"), "event_key")
        .groupBy("program")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f3_content_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: content with offset/depth slicing + negation, exact C
    arithmetic (reference src/content.c:42-179)."""
    from sagan_spark.functions.textmatch import content_predicate, ident
    from sagan_spark.rules.ir import ContentSpec

    docs = _docs(spark, sf_dir)
    specs = [
        ContentSpec("filter", offset=7, depth=60),
        ContentSpec("slow", negated=True),
    ]
    return (
        docs.filter(F.expr(content_predicate(ident("text"), specs)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f4_pcre(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: pcre match anywhere (reference src/pcre-s.c:39-68)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("text").rlike("(?i)(fast|slow) (query|scan)"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f5_meta_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: meta_content OR-list within container, AND across
    (reference src/meta-content.c:51-224)."""
    from sagan_spark.functions.textmatch import ident, meta_content_predicate
    from sagan_spark.rules.ir import MetaContentSpec

    docs = _docs(spark, sf_dir)
    specs = [
        MetaContentSpec(literals=["merge sort", "hash join", "table scan"]),
        MetaContentSpec(literals=["slow"], negated=True),
    ]
    return (
        docs.filter(F.expr(meta_content_predicate(ident("text"), specs)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f6_json_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/P2: JSON key lookup + value compare (reference
    src/json-content.c:47-172, src/parsers/json.c:136-151)."""
    ev = _ev(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .filter(F.col("k") >= 90)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_k"))
    )


def q_f11_alert_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: day-of-week + HHMM window gate (reference src/aetas.c:48-143).
    dow computed as (epoch_days+4) % 7 (0=Sunday) so the formula is
    dialect-portable."""
    ev = _ev(spark, sf_dir)
    epoch = F.unix_timestamp("ts")
    dow = ((epoch / 86400).cast("long") + 4) % 7
    hhmm = F.hour("ts") * 100 + F.minute("ts")
    return (
        ev.filter(dow.isin(1, 2, 3, 4, 5) & (hhmm >= 800) & (hhmm <= 1700))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_p3_parse_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: positional IP/port extraction from log text (reference
    src/parsers/ip.c:88-958; full token zoo pinned in pytest)."""
    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "login from 10.%d.%d.%d:%d accepted",
        (F.col("user_id") % 200).cast("int"),
        (F.col("event_id") % 250).cast("int"),
        ((F.col("event_id") * 7) % 250).cast("int"),
        ((F.col("event_id") * 131) % 60000 + 1024).cast("int"),
    )
    ip = F.regexp_extract(msg, r"(\d+\.\d+\.\d+\.\d+):(\d+)", 1)
    port = F.regexp_extract(msg, r"(\d+\.\d+\.\d+\.\d+):(\d+)", 2).cast("long")
    return (
        ev.select(F.col("event_id"), ip.alias("src_ip"), port.alias("src_port"))
        .filter(F.col("src_port") > 50000)
    )


def q_p6_grok_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: grok/liblognorm-style named-group extraction, vectorized
    (reference src/liblognormalize.c:105-260)."""
    _ship_package(spark)
    from sagan_spark.functions.grok import grok_extract

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "login from 10.%d.%d.%d port %d",
        (F.col("user_id") % 200).cast("int"),
        (F.col("event_id") % 250).cast("int"),
        ((F.col("event_id") * 7) % 250).cast("int"),
        ((F.col("event_id") * 131) % 60000 + 1024).cast("int"),
    )
    df = ev.select(F.col("event_id"), msg.alias("text"))
    out = grok_extract(df, "text", ["login from %{IPV4:src_ip} port %{INT:src_port}"])
    return out.select(
        "event_id",
        F.col("grok_src_ip").alias("src_ip"),
        F.col("grok_src_port").cast("long").alias("src_port"),
    ).filter(F.col("src_port") > 50000)


def q_p4_parse_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: first md5-shaped hex token (reference src/parsers/hash.c:41-153)."""
    docs = _docs(spark, sf_dir)
    msg = F.concat(F.lit("object "), F.md5(F.col("text")), F.lit(" stored"))
    return docs.select(
        F.col("doc_id"),
        F.regexp_extract(msg, "([0-9a-f]{32})", 1).alias("md5"),
    )


def q_j1_cidr_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: blacklist CIDR membership as a broadcast range join
    (reference src/processors/blacklist.c:70-230, probe engine.c:1147)."""
    ev = _ev(spark, sf_dir)
    # deterministic synthetic ip int: 10.0.0.0/8 space
    ip_num = F.lit(167772160) + (F.col("user_id") * 65536 + F.col("event_id") % 65536)
    ranges = local_frame(
        spark,
        [
            (167772160 + 0 * 65536, 167772160 + 3 * 65536 - 1, "bad-block-a"),
            (167772160 + 10 * 65536, 167772160 + 12 * 65536 - 1, "bad-block-b"),
        ],
        "lo long, hi long, label string",
    )
    tagged = ev.select(F.col("event_id"), ip_num.alias("ip_num")).join(
        F.broadcast(ranges),
        (F.col("ip_num") >= F.col("lo")) & (F.col("ip_num") <= F.col("hi")),
    )
    return tagged.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


def q_j7_classification_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: classtype -> priority broadcast lookup at alert assembly
    (reference src/classifications.c, Classtype_Lookup)."""
    ev = _ev(spark, sf_dir)
    cls = local_frame(
        spark,
        [
            ("error", "system-error", 1),
            ("purchase", "money-move", 2),
            ("signup", "identity-new", 2),
            ("click", "activity", 3),
            ("view", "activity", 3),
        ],
        "event_type string, classtype string, severity int",
    )
    return (
        ev.join(F.broadcast(cls), "event_type", "left")
        .groupBy("classtype", "severity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_a1_threshold_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: threshold type limit — at most N alerts per key per window;
    event-time tumbling form (SURVEY §2.5; exact first-event-anchored
    form pinned in pytest vs tests/oracle.py)."""
    ev = _ev(spark, sf_dir)
    win = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", win).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_allowed"))
    )


def q_a2_threshold_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: threshold type suppress — gap-based sessionization (utime
    slides every event, reference src/threshold.c:126-146), first N per
    session alert."""
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "error")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(wo)
    new_sess = F.when(gap.isNull() | (gap > 86400), 1).otherwise(0)
    sess = F.sum(new_sess).over(wo.rowsBetween(Window.unboundedPreceding, 0))
    df = ev.withColumn("sess", sess)
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    return (
        df.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.max("sess").cast("long").alias("n_sessions"),
        )
    )


def q_a3_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: after — suppress until count exceeds N within the window
    (reference src/after.c:51-229): running count per session > N."""
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "click")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(wo)
    new_sess = F.when(gap.isNull() | (gap > 86400), 1).otherwise(0)
    sess = F.sum(new_sess).over(wo.rowsBetween(Window.unboundedPreceding, 0))
    df = ev.withColumn("sess", sess)
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    run = F.count(F.lit(1)).over(ws.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.withColumn("run", run)
        .filter(F.col("run") > 3)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_after_alerts"))
    )


def q_a4_xbit_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: xbit set -> isset as a time-range self-join: 'error' sets
    the bit per user, a later 'purchase' within 1h sees it set
    (reference src/xbit-mmap.c:60-264)."""
    ev = _ev(spark, sf_dir)
    sets = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("ts").alias("set_ts")
    )
    checks = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id"), F.col("ts").alias("chk_ts")
    )
    hit = (
        checks.join(sets, "user_id")
        .filter(
            (F.col("set_ts") < F.col("chk_ts"))
            & (F.unix_timestamp("chk_ts") - F.unix_timestamp("set_ts") <= 3600)
        )
        .select("user_id", "event_id")
        .distinct()
    )
    return hit.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_flagged"))


def q_a9_track_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-source last-seen tracking (reference
    src/processors/track-clients.c)."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_a10_client_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-client counters (reference src/processors/client-stats.c)."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count_distinct("event_type").alias("n_types"),
    )


def q_a9_client_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (complete): per-source liveness transitions — DOWN at
    last_seen+timeout when a gap exceeds the timeout (or at the data
    horizon), UP at the first event after such a gap (reference
    src/processors/track-clients.c:232-290, event-time form)."""
    _ship_package(spark)
    from sagan_spark.pipeline.clients import track_client_transitions

    frame = _events_frame(spark, sf_dir)
    tr = track_client_transitions(frame, timeout_minutes=1440)
    return tr.groupBy("host", "change").agg(
        F.count(F.lit(1)).alias("n"),
        F.date_format(F.max("at_ts"), "yyyy-MM-dd HH:mm:ss").alias("latest_at"),
    )


def q_a10_client_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (complete): per-client counters incl. byte totals and
    first/last seen (reference src/processors/client-stats.c)."""
    _ship_package(spark)
    from sagan_spark.pipeline.clients import client_stats

    frame = _events_frame(spark, sf_dir)
    st = client_stats(frame)
    return st.select(
        "host",
        "n_events",
        "bytes_total",
        F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )


def q_k3_eve_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K8: EVE alert assembly — flow_id bit layout
    (reference FlowGetId src/util.c:1316-1320) + severity join."""
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "error")
    ts = F.col("ts").cast("timestamp")
    sec = F.unix_timestamp(ts)
    usec = F.unix_micros(ts) % 1_000_000
    flow_id = (sec % 65536) * 65536 + (usec % 65536)
    return ev.select(
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        flow_id.alias("flow_id"),
        F.lit("alert").alias("event_type"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("src_host"),
        F.lit(1).alias("alert_gid"),
        F.lit("system-error").alias("alert_category"),
    )


def q_k7_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: rule-classified fan-out — per-sink routed counts
    (reference Output() src/output.c:63-149)."""
    ev = _ev(spark, sf_dir)
    eve = ev.filter(F.col("event_type").isin("error", "purchase")).select(
        F.lit("eve").alias("sink"), F.col("event_id")
    )
    fast = ev.filter(F.col("event_type") == "error").select(
        F.lit("fast").alias("sink"), F.col("event_id")
    )
    syslog = ev.filter(F.col("value") > 150).select(
        F.lit("syslog").alias("sink"), F.col("event_id")
    )
    return (
        eve.unionByName(fast)
        .unionByName(syslog)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n_routed"))
    )


def q_f10_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: rule-header nets/ports gate — positive CIDR groups OR,
    negated AND NOT, port range (reference src/flow.c:48-504)."""
    ev = _ev(spark, sf_dir)
    ip = F.lit(167772160) + (F.col("user_id") * 65536 + F.col("event_id") % 65536)
    port = (F.col("event_id") * 7) % 65536
    pos = ip.between(167772160, 167772160 + 40 * 65536 - 1) | ip.between(
        167772160 + 100 * 65536, 167772160 + 120 * 65536 - 1
    )
    neg = ip.between(167772160 + 10 * 65536, 167772160 + 12 * 65536 - 1)
    return (
        ev.filter(pos & ~neg & port.between(1, 1024))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_f15_pass_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: pass-rule short circuit — a pass rule at a smaller ruleset
    position mutes later alert rules for that event
    (reference src/processors/engine.c:1448-1453)."""
    ev = _ev(spark, sf_dir)
    pass_min = F.when(F.col("event_type") == "view", F.lit(0))
    hits = F.array(
        F.struct(F.lit(1).alias("pos"), (F.col("value") > 100).alias("match")),
        F.struct(F.lit(2).alias("pos"), (F.col("event_type") == "error").alias("match")),
    )
    return (
        ev.withColumn("_pm", pass_min)
        .select(F.explode(F.filter(hits, lambda s: s.getField("match"))).alias("a"), "_pm")
        .filter(F.col("_pm").isNull() | (F.col("a.pos") < F.col("_pm")))
        .groupBy(F.col("a.pos").alias("rule_pos"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_p1_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: recursive JSON flatten to dotted keys, Arrow-batched
    (reference src/parsers/json.c:40-134)."""
    _ship_package(spark)
    from sagan_spark.functions.udfs import json_flatten_udf

    ev = _ev(spark, sf_dir)
    flat = ev.select(F.explode(json_flatten_udf(F.col("props"))).alias("key", "val"))
    return flat.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("long")).cast("long").alias("sum_val"),
    )


def q_p9_append_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: match against 'message | program'
    (reference src/processors/engine.c:593-627)."""
    ev = _ev(spark, sf_dir)
    joined = F.concat(F.col("props"), F.lit(" | "), F.col("event_type"))
    return (
        ev.filter(joined.contains("error") | joined.contains('"k": 7'))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_s6_json_input_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: JSON input mapping, first-match-wins per field
    (reference src/input-json.c:103-240)."""
    ev = _ev(spark, sf_dir)
    val = F.coalesce(
        F.get_json_object(F.col("props"), "$.missing"),
        F.get_json_object(F.col("props"), "$.k"),
        F.lit("0"),
    ).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(val).cast("long").alias("sum_mapped")
    )


def q_a6_flexbit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: flexbit 'count' comparator — windowed per-key counter with
    gt threshold (reference Flexbit_Count_MMAP src/flexbit-mmap.c:851)."""
    ev = _ev(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    per = ev.groupBy("user_id", day.alias("day")).agg(F.count(F.lit(1)).alias("c"))
    return (
        per.filter(F.col("c") > 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days_over"),
            F.sum("c").cast("long").alias("events_in_over"),
        )
    )


def q_j2_intel_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: Zeek intel exact-set membership as a broadcast semi-join
    (reference src/processors/zeek-intel.c:507-800)."""
    ev = _ev(spark, sf_dir)
    intel = local_frame(spark, [(7,), (11,), (23,), (42,), (99,)], "user_id long")
    return (
        ev.join(F.broadcast(intel), "user_id", "leftsemi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_j4_geoip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F12: ip -> country via broadcast range join (mmdb analog,
    reference src/geoip.c:93+)."""
    ev = _ev(spark, sf_dir)
    ip = F.lit(167772160) + (F.col("user_id") * 65536 + F.col("event_id") % 65536)
    geo = local_frame(
        spark,
        [
            (167772160, 167772160 + 50 * 65536 - 1, "DE"),
            (167772160 + 50 * 65536, 167772160 + 100 * 65536 - 1, "FR"),
            (167772160 + 100 * 65536, 167772160 + 150 * 65536 - 1, "US"),
        ],
        "lo long, hi long, cc string",
    )
    tagged = ev.select(ip.alias("ip_num")).join(
        F.broadcast(geo),
        (F.col("ip_num") >= F.col("lo")) & (F.col("ip_num") <= F.col("hi")),
        "left",
    )
    return tagged.groupBy(F.coalesce(F.col("cc"), F.lit("--")).alias("cc")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_j5_proto_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: protocol-map keyword probe, first keyword in map order wins
    (reference src/parsers/proto.c:51-107)."""
    docs = _docs(spark, sf_dir)
    proto = (
        F.when(F.col("text").contains("fast"), 6)
        .when(F.col("text").contains("slow"), 17)
        .otherwise(0)
    )
    return docs.groupBy(proto.alias("proto")).agg(F.count(F.lit(1)).alias("n"))


def q_f14_ignore_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: ignore-list pre-drop — any listed substring drops the line
    before the engine (reference src/ignore.c:31-50)."""
    docs = _docs(spark, sf_dir)
    drop = F.col("text").contains("slow") | F.col("text").contains("deprecated")
    return docs.filter(~drop).groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


def q_a11_lineage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-partition lineage counters rolled up to run totals
    (reference _SaganCounters src/sagan.h:178-332, Statistics()
    src/stats.c:54-218)."""
    _ship_package(spark)
    from sagan_spark.pipeline.metrics import partition_lineage

    frame = _events_frame(spark, sf_dir)
    lineage = partition_lineage(frame, run_id="contract", ruleset_version="r1")
    return lineage.agg(
        F.sum("rows_in").cast("long").alias("rows_in"),
        F.sum("bytes_in").cast("long").alias("bytes_in"),
        F.max("max_bytes_length").cast("long").alias("max_len"),
        F.sum("rows_null_message").cast("long").alias("n_null"),
    )


def q_j3_bluedot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: bluedot IP-reputation gate through the real engine path —
    the live HTTP cache becomes a driver-side category-filtered
    snapshot probed as a literal set (reference option parse
    src/rules.c:3742-3965, engine probe src/processors/engine.c:1176-1289)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.compiler import EngineConfig
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "conn from 10.%d.0.1 port 22", (F.col("user_id") % 100).cast("int")
    )
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        msg.alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"bd hit"; content:"conn from"; '
        "parse_src_ip: 1; bluedot: type ip_reputation, track by_src, none, "
        "Malicious&Tor; classtype: misc-attack; sid:7500001; rev:1;)"
    )
    cfg = EngineConfig(
        bluedot_intel={
            "ip_reputation": {
                "10.7.0.1": "Malicious",
                "10.23.0.1": "Tor",
                "10.55.0.1": "Proxy",  # category not in the rule -> no alert
            }
        }
    )
    alerts = SaganSparkEngine(rules, cfg).run(frame).alerts()
    return alerts.groupBy("src_ip").agg(F.count(F.lit(1)).cast("long").alias("n"))


def q_a1_threshold_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 through the REAL engine path: rules with ``threshold: type
    limit`` and ``after`` driven through SaganSparkEngine.run() — the
    anchored/sliding state machines in pipeline/correlate.py — checked
    against a DuckDB recursive-CTE oracle that replays the reference
    machines row by row (threshold.c:126-150, after.c:51-229).  Closes
    the r2 blind spot where the a1/a2/a3 gates verified a closed-form
    window twin instead of the engine (VERDICT r2, What's wrong #3)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "corr probe from 10.%d.%d.1 seq",
        (F.col("user_id") % 250).cast("int"),
        (F.floor(F.col("user_id") / 250) % 250).cast("int"),
    )
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        msg.alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"thr limit"; content:"corr probe"; '
        "parse_src_ip: 1; threshold: type limit, track by_src, count 3, "
        "seconds 172800; classtype: misc-attack; sid:7600001; rev:1;)\n"
        'alert any any any -> any any (msg:"after gate"; content:"corr probe"; '
        "parse_src_ip: 1; after: track by_src, count 3, seconds 172800; "
        "classtype: misc-attack; sid:7600002; rev:1;)"
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return alerts.groupBy("sid", "src_ip").agg(
        F.count(F.lit(1)).cast("long").alias("n_alerts")
    )


def q_a4_chain_after_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """after ON a CHAIN rule through the REAL engine path: sid 7610002
    checks bitA (set by 'view' events), carries ``after: count 2``, and
    sets bitB — its counters run INSIDE the component walk on
    condition-passing events only, and one machine verdict gates both
    the alert and the gated set (reference engine.c:1370-1389 counters
    inside routing, :1402-1427 set+alert only when the gates clear).
    sid 7610003 observes bitB, so a suppressed set that wrongly fired
    would surface as extra s3 alerts.  Oracle: window pass-filter +
    recursive-CTE replay of after.c over the passing rows."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "corr probe from 10.%d.%d.1 seq",
        (F.col("user_id") % 250).cast("int"),
        (F.floor(F.col("user_id") / 250) % 250).cast("int"),
    )
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        msg.alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"chain arm"; program: view; '
        'content:"corr probe"; parse_src_ip: 1; '
        "xbits: set, name bitA, track ip_src; "
        "classtype: misc-attack; sid:7610001; rev:1;)\n"
        'alert any any any -> any any (msg:"chain escalate"; program: click; '
        'content:"corr probe"; parse_src_ip: 1; '
        "xbits: isset, name bitA, track ip_src; "
        "xbits: set, name bitB, track ip_src; "
        "after: track by_src, count 2, seconds 172800; "
        "classtype: misc-attack; sid:7610002; rev:1;)\n"
        'alert any any any -> any any (msg:"chain observe"; program: error; '
        'content:"corr probe"; parse_src_ip: 1; '
        "xbits: isset, name bitB, track ip_src; "
        "classtype: misc-attack; sid:7610003; rev:1;)"
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return alerts.groupBy("sid", "src_ip").agg(
        F.count(F.lit(1)).cast("long").alias("n_alerts")
    )


def q_k6_external_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6: per-rule ``external`` routing — alerts of rules carrying
    ``external: /path`` stream to that program, one process per
    partition (reference option src/rules.c:3680-3705, plugin
    src/output-plugins/external.c:58-110).  The gate runs the selection
    with a capture runner instead of fork/exec so the routed-row set
    itself is checked."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import (
        assemble_alerts,
        route_external,
        rule_metadata_df,
    )
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"ext errors"; program: error; '
        'content:"{"; external: /bin/report-error; classtype: misc-attack; '
        "sid:7500011; rev:1;)\n"
        'alert any any any -> any any (msg:"local purchases"; program: purchase; '
        'content:"{"; classtype: misc-activity; sid:7500012; rev:1;)'
    )
    frame = _events_frame(spark, sf_dir)
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    assembled = assemble_alerts(alerts, rule_metadata_df(spark, rules), events=frame)
    routed: dict[str, DataFrame] = {}

    def capture(df: DataFrame, command: list[str]) -> None:
        routed[command[0]] = df

    progs = route_external(assembled, rules, runner=capture)
    assert progs == {"/bin/report-error": [7500011]}
    ext = routed["/bin/report-error"]
    return ext.groupBy("sid", "program").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_f7_json_pcre(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: pcre over a flattened-JSON value (reference
    src/json-pcre.c:46-103; missing key => no match)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    frame = _events_frame(spark, sf_dir)
    rules = parse_rules(
        'alert any any any -> any any (msg:"k 9x"; '
        'json_pcre: ".k", "/^9[0-9]$/"; classtype: misc-activity; '
        "sid:7500021; rev:1;)"
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return (
        alerts.join(frame.select("event_key", "program"), "event_key")
        .groupBy("program")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_f8_json_meta_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: json_meta_content — OR-list of %sagan%-templated literals
    strcmp'd against a flattened-JSON value (reference
    src/json-meta-content.c:146 via Search_Case src/search-type.c:39-67)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    frame = _events_frame(spark, sf_dir)
    rules = parse_rules(
        'alert any any any -> any any (msg:"k in set"; '
        'json_meta_content: ".k", "%sagan%", 91,93,95; '
        "classtype: misc-activity; sid:7500031; rev:1;)"
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return (
        alerts.join(frame.select("event_key", "program"), "event_key")
        .groupBy("program")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_f9_event_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/P7: Windows-style event-id framing match — ' <id>: ' searched
    within the first 9 chars of the message (strlcpy size 10, reference
    src/event-id.c:61-126)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        " %d: %s event", (4600 + F.col("user_id") % 50).cast("int"), F.col("event_type")
    )
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        msg.alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"win evid"; '
        'event_id: "4624|4648"; classtype: suspicious-login; sid:7500041; rev:1;)'
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return (
        alerts.join(frame.select("event_key", "program"), "event_key")
        .groupBy("program", "event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_p10_base64_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: json_decode_base64 — the flattened-JSON value is
    base64-decoded before the json_content compare (reference
    src/rules.c:2291-2307, decode src/processors/engine.c:652-700)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    ev = _ev(spark, sf_dir)
    msg = F.concat(
        F.lit('{"b": "'),
        F.base64(F.encode(F.col("event_type"), "UTF-8")),
        F.lit('"}'),
    )
    frame = ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        msg.alias("message"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"b64 error"; '
        'json_content: ".b", "error"; json_decode_base64; '
        "classtype: misc-attack; sid:7500051; rev:1;)"
    )
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    return (
        alerts.join(
            frame.select("event_key", F.substring("host", 6, 20).alias("uid")),
            "event_key",
        )
        .groupBy((F.col("uid").cast("long") % 10).cast("long").alias("user_mod"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_a12_dynamic_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: dynamic rules, two-pass batch analog — a fired
    ``dynamic_load`` rule loads its ruleset and the combined set re-runs
    (reference src/processors/dynamic-rules.c:61-189)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules

    base = parse_rules(
        'alert any any any -> any any (msg:"dyn trigger"; program: signup; '
        'json_pcre: ".k", "/^9[5-9]$/"; dynamic_load: /dyn/extra.rules; '
        "classtype: misc-activity; sid:7600001; rev:1;)"
    )
    dyn_text = (
        'alert any any any -> any any (msg:"loaded purchases"; '
        'program: purchase; content:"{"; classtype: misc-activity; '
        "sid:7600002; rev:1;)"
    )

    def loader(path: str):
        assert path == "/dyn/extra.rules"
        return parse_rules(dyn_text)

    frame = _events_frame(spark, sf_dir)
    result, effective = SaganSparkEngine(base).run_with_dynamic_rules(
        frame, loader=loader
    )
    assert [r.sid for r in effective] == [7600001, 7600002]
    return (
        result.alerts()
        .groupBy("sid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_k2_fast_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: the one-line snort 'fast' sink format, field-for-field
    (reference src/output-plugins/fast.c:65-88) — timestamp, sid/rev,
    signature, classification, priority, program, proto and the
    defaulted endpoint columns (src_ip/dst_ip fall back to the event
    host, ports to the sagan_port 514, reference engine.c:855-870)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import assemble_alerts, fast_view, rule_metadata_df
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"fast line"; program: error; '
        'content:"{"; classtype: misc-attack; sid:7500061; rev:3;)'
    )
    frame = _events_frame(spark, sf_dir)
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    assembled = assemble_alerts(alerts, rule_metadata_df(spark, rules), events=frame)
    return fast_view(assembled).select("url", "sid", "rev", "line")


def q_k1_alert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: the multi-line 'alert.log' sink's core columns
    (reference src/output-plugins/alert.c:70-101)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import alert_view, assemble_alerts, rule_metadata_df
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"alert line"; program: error; '
        'content:"{"; classtype: misc-attack; sid:7500071; rev:2;)'
    )
    frame = _events_frame(spark, sf_dir)
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    assembled = assemble_alerts(alerts, rule_metadata_df(spark, rules), events=frame)
    return alert_view(assembled)


def q_k4_syslog_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: the snort-compatible one-line syslog sink format
    (reference src/output-plugins/syslog-handler.c:50-90)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, syslog_view
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"syslog line"; program: error; '
        'content:"{"; classtype: misc-attack; sid:7500072; rev:1;)'
    )
    frame = _events_frame(spark, sf_dir)
    alerts = SaganSparkEngine(rules).run(frame).alerts()
    assembled = assemble_alerts(alerts, rule_metadata_df(spark, rules), events=frame)
    return syslog_view(assembled)


def q_k3_eve_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 all-logs variant: every event as an EVE 'log' record
    (reference Format_JSON_Log_EVE src/json-handler.c:292-361)."""
    _ship_package(spark)
    from sagan_spark.pipeline.route import eve_log_view

    frame = _events_frame(spark, sf_dir)
    return eve_log_view(frame)


def q_a11_stats_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 stats-json: the periodic EVE 'stats' record assembled from
    the real engine's hit flags (reference
    src/processors/stats-json.c:140-300)."""
    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.metrics import stats_json_view
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(
        'alert any any any -> any any (msg:"errs"; program: error; '
        'content:"{"; classtype: misc-attack; sid:7500081; rev:1;)'
    )
    frame = _events_frame(spark, sf_dir)
    hits = SaganSparkEngine(rules).run(frame).hits
    return stats_json_view(frame, hits, uptime_secs=100)


def q_streaming_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3 streaming form: the batch after/threshold replay per
    micro-batch, seeded from the snapshot store, with checkpointed
    availableNow drain (rows-only gate — Structured Streaming state is
    outside DuckDB's vocabulary; batch==streaming equality is pinned in
    tests/test_streaming.py)."""
    import shutil
    import tempfile

    _ship_package(spark)
    from sagan_spark.data.pages import write_pages
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules
    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    rules = parse_rules(
        'alert any any any -> any any (msg:"burst"; content:"Failed password"; '
        "parse_src_ip: 1; threshold: type suppress, track by_src, count 2, seconds 300; "
        "classtype: attempted-recon; sid:8100001; rev:1;)"
    )
    work = tempfile.mkdtemp(prefix="sagan_stream_contract_")
    try:
        inp = f"{work}/in"
        os.makedirs(inp)
        write_pages(f"{inp}/pages.parquet", n_rows=2000)
        seng = StreamingSaganEngine(rules, watermark="0 seconds")
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, inp))
        q = seng.start_sink_query(frame, f"{work}/out", f"{work}/ckpt", sinks=["alerts_eve"])
        _drain(q)
        eve = spark.read.parquet(f"{work}/out/alerts_eve")
        # grouped result is tiny but still returned as a plan, not via a
        # driver collect/createDataFrame funnel; materialize detaches it
        # from the temp dir being cleaned below
        out = eve.groupBy("alert_signature_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_routed")
        )
        return materialize(out, "streaming_threshold")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_streaming_threshold_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """threshold: type suppress through the REAL streaming path
    (seeded per-micro-batch replay, checkpointed availableNow drain)
    over the DETERMINISTIC events table — so unlike
    q_streaming_threshold's generated corpus, a DuckDB recursive-CTE
    oracle can replay the reference suppress machine
    (threshold.c:126-150) row by row and the driver gets a hash-green
    check on the streaming executor path itself."""
    import shutil
    import tempfile

    _ship_package(spark)
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.rules.parser import parse_rules
    from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

    ev = _ev(spark, sf_dir)
    msg = F.format_string(
        "corr probe from 10.%d.%d.1 seq",
        (F.col("user_id") % 250).cast("int"),
        (F.floor(F.col("user_id") / 250) % 250).cast("int"),
    )
    pages = ev.select(
        F.col("event_id").cast("string").alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.lit("").cast("binary").alias("html"),
        msg.alias("text"),
        F.lit("en").alias("lang"),
    )
    rules = parse_rules(
        'alert any any any -> any any (msg:"thr suppress stream"; '
        'content:"corr probe"; parse_src_ip: 1; threshold: type suppress, '
        "track by_src, count 2, seconds 172800; classtype: misc-attack; "
        "sid:8200001; rev:1;)"
    )
    work = tempfile.mkdtemp(prefix="sagan_stream_engine_gate_")
    try:
        inp = f"{work}/in"
        # a flat file layout (not a nested dir) so the stream source's
        # file listing sees it
        pages.coalesce(1).write.parquet(inp)
        seng = StreamingSaganEngine(rules, watermark="0 seconds")
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, inp))
        q = seng.start_sink_query(
            frame, f"{work}/out", f"{work}/ckpt", sinks=["alerts_eve"]
        )
        _drain(q, timeout=300)
        eve = spark.read.parquet(f"{work}/out/alerts_eve")
        out = eve.groupBy(
            F.col("alert_signature_id").cast("long").alias("sid"),
            F.col("src_ip"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_alerts"))
        return materialize(out, "streaming_threshold_engine")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# training-data ops
# ---------------------------------------------------------------------------


