"""Alert assembly + per-sink fan-out (K1-K4, K7, K8).

The reference serializes every alert through one mutex-guarded Output()
call that appends to each enabled sink file (reference src/output.c:63-149).
Here routing is a *projection + filtered parallel writes*: the alert set
is assembled once (event columns + broadcast-joined rule metadata,
reference Send_Alert src/send-alert.c:50-119) and each sink is an
independent columnar write — strictly more parallel than the reference's
single-writer critical section, with identical per-sink row sets because
routing is deterministic.

Field parity:
- EVE JSON fields: reference Format_JSON_Alert_EVE src/json-handler.c:54-286
- fast line:  reference src/output-plugins/fast.c:65-88
- alert line: reference src/output-plugins/alert.c:70-101
- flow_id:    reference FlowGetId src/util.c:1316-1320
  ((sec & 0xFFFF) << 16 | (usec & 0xFFFF))
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.rules.ir import RuleIR
from sagan_spark.session import local_frame, materialize, release, run_concurrently

# classtype -> (description, priority); the reference loads this from
# classification.config (reference src/classifications.c, lookup used at
# src/json-handler.c:107)
DEFAULT_CLASSIFICATIONS = {
    "attempted-recon": ("Attempted Information Leak", 2),
    "attempted-admin": ("Attempted Administrator Privilege Gain", 1),
    "attempted-user": ("Attempted User Privilege Gain", 1),
    "successful-admin": ("Successful Administrator Privilege Gain", 1),
    "unsuccessful-user": ("Unsuccessful User Privilege Gain", 1),
    "suspicious-login": ("An attempted login using a suspicious username was detected", 2),
    "system-call-detect": ("A system call was detected", 2),
    "trojan-activity": ("A Network Trojan was detected", 1),
    "policy-violation": ("Potential Corporate Privacy Violation", 1),
    "misc-activity": ("Misc activity", 3),
    "misc-attack": ("Misc Attack", 2),
    "not-suspicious": ("Not Suspicious Traffic", 3),
    "network-scan": ("Detection of a Network Scan", 3),
    "malware-cnc": ("Known malware command and control traffic", 1),
}


def rule_metadata_df(spark: SparkSession, rules: list[RuleIR],
                     classifications: dict[str, tuple[str, int]] | None = None) -> DataFrame:
    """Small dimension table of rule routing metadata — broadcast side of
    the alert-assembly join (J7, reference src/classifications.c +
    src/send-alert.c:50-119)."""
    cls = classifications or DEFAULT_CLASSIFICATIONS
    rows = []
    for r in rules:
        desc, cls_pri = cls.get(r.classtype, (r.classtype or "unknown", 3))
        pri = r.priority if r.priority else cls_pri
        rows.append(
            (r.sid, r.rev, r.msg, r.classtype, desc, pri,
             ";".join(r.reference), r.action == "drop",
             r.raw, r.metadata or None)
        )
    return local_frame(
        spark,
        rows,
        "sid long, rev int, signature string, classtype string, "
        "category string, severity int, rule_reference string, drop boolean, "
        "rule_text string, rule_metadata string",
    )


def _proto_name() -> F.Column:
    return (
        F.when(F.col("proto") == 6, "TCP")
        .when(F.col("proto") == 17, "UDP")
        .when(F.col("proto") == 1, "ICMP")
        .otherwise("UNKNOWN")
    )


def _flow_id() -> F.Column:
    """EVE flow_id from the event ts (reference FlowGetId,
    src/util.c:1316-1320: (sec & 0xFFFF) << 16 | (usec & 0xFFFF)) —
    ONE definition so the EVE 'alert' and 'log' records can never
    drift for the same event.  NTZ inputs cast to session-tz instants."""
    ts = F.col("ts").cast("timestamp")
    sec = ts.cast("long")
    usec = F.unix_micros(ts) % 1_000_000
    return (
        sec.bitwiseAND(F.lit(0xFFFF)) * F.lit(1 << 16)
    ) + usec.bitwiseAND(F.lit(0xFFFF))


def assemble_alerts(
    alerts: DataFrame,
    meta: DataFrame,
    events: DataFrame | None = None,
    xbit_condition_sids: list[int] | None = None,
    sensor_name: str = "sagan_spark",
) -> DataFrame:
    """K8: event columns + rule metadata -> the routed alert table.

    ``events``: the canonical event frame for LATE MATERIALIZATION — the
    engine's hit rows deliberately carry only (event_key, ts) through
    correlation (see engine.PASSTHROUGH); the fat event strings
    (message/host/program/...) join back here, one JVM hash join on
    event_key, never crossing the Arrow boundary.  Pass None when the
    alert rows already carry the event columns (streaming).

    ``xbit_condition_sids``: rules whose xbit/flexbit condition gated
    the match — their alerts carry the reference's correlation JSON
    (a snapshot of the matching event, reference
    src/xbit-mmap.c:272-398), emitted in EVE as ``correlation``."""
    if events is not None:
        if "priority" not in events.columns:
            events = events.withColumn("priority", F.lit(""))
        fat = events.select(
            "event_key", "host", "program", "facility", "level", "tag",
            "priority", "message",
        )
        alerts = alerts.join(fat, "event_key", "left")
    elif "priority" not in alerts.columns:
        alerts = alerts.withColumn("priority", F.lit(""))
    joined = alerts.join(F.broadcast(meta), ["sid", "rev"], "left")
    flow_id = _flow_id()
    out = (
        joined.withColumn("flow_id", flow_id)
        .withColumn("proto_name", _proto_name())
        .withColumn("timestamp", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"))
    )
    if xbit_condition_sids:
        corr = F.when(
            F.col("sid").isin(xbit_condition_sids),
            F.to_json(
                F.struct(
                    F.lit(sensor_name).alias("sensor"),
                    F.col("host").alias("syslog_source"),
                    F.col("src_ip"),
                    F.col("dst_ip").alias("dest_ip"),
                    F.col("username"),
                    F.col("priority"),
                    F.col("facility"),
                    F.col("level"),
                    F.col("tag"),
                    F.date_format("ts", "yyyy-MM-dd").alias("date"),
                    F.date_format("ts", "HH:mm:ss").alias("time"),
                    F.col("program"),
                    F.col("message").alias("payload"),
                    F.col("signature"),
                    F.col("rev"),
                    F.lit("xbit").alias("type"),
                    # reference says "mmap"; this engine's bit store is
                    # the replayed event-time state, named honestly
                    F.lit("spark").alias("storage"),
                    F.col("rule_text").alias("rule"),
                    F.col("proto_name").alias("proto"),
                )
            ),
        )
        out = out.withColumn("correlation", corr)
    else:
        out = out.withColumn("correlation", F.lit(None).cast("string"))
    return out


def eve_view(assembled: DataFrame, payload_base64: bool = False,
             eve_interface: str = "logs") -> DataFrame:
    """K3: Suricata-EVE alert projection (src/json-handler.c:54-286),
    field-for-field: timestamp/flow_id/in_iface/event_type/src/dest/
    proto/payload/stream/xff/syslog block/alert.* (incl. the original
    rule text, signature_copy)/metadata/normalize.  Nested alert.*
    fields are flattened with '_' (parquet-friendly); 'url' is the
    lineage key back to the input table.  payload_base64 mirrors the
    eve 'base64' payload option (reference src/json-handler.c:102-105);
    eve_interface mirrors the config default 'logs'
    (reference src/config-yaml.c:2090).  `normalize` is null — grok
    output is a parse-stage column here, not threaded per-alert."""
    payload = (
        F.base64(F.encode(F.col("message"), "UTF-8"))
        if payload_base64
        else F.col("message")
    )
    return assembled.select(
        F.col("timestamp"),
        F.col("flow_id"),
        F.lit(eve_interface).alias("in_iface"),
        F.lit("alert").alias("event_type"),
        F.col("src_ip"),
        F.col("dst_ip").alias("dest_ip"),
        F.col("src_port"),
        F.col("dst_port").alias("dest_port"),
        F.col("proto_name").alias("proto"),
        payload.alias("payload"),
        F.lit("0").alias("stream"),
        F.col("host").alias("xff"),
        F.col("facility"),
        # syslog priority string rides EVE between facility and level
        # (reference src/json-handler.c:172-179)
        F.col("priority"),
        F.col("level"),
        F.col("tag"),
        F.col("program"),
        F.col("host"),
        F.lit(1).alias("alert_gid"),
        F.col("sid").alias("alert_signature_id"),
        F.col("rev").alias("alert_rev"),
        F.col("signature").alias("alert_signature"),
        F.col("category").alias("alert_category"),
        F.col("severity").alias("alert_severity"),
        F.when(F.col("drop"), "blocked").otherwise("allowed").alias("alert_action"),
        F.col("rule_text").alias("alert_rule"),
        F.col("rule_metadata").alias("metadata"),
        F.col("correlation"),
        F.lit(None).cast("string").alias("normalize"),
        F.col("event_key").alias("url"),
    )


def fast_view(assembled: DataFrame) -> DataFrame:
    """K2: one-line snort 'fast' format (src/output-plugins/fast.c:65-88)."""
    line = F.format_string(
        "%s [**] [1:%d:%d] %s [**] [Classification: %s] [Priority: %d] [Program: %s] {%s} %s:%d -> %s:%d",
        F.date_format("ts", "MM/dd/yyyy-HH:mm:ss.SSSSSS"),
        F.col("sid"),
        F.col("rev"),
        F.col("signature"),
        F.col("category"),
        F.col("severity"),
        F.col("program"),
        F.col("proto_name"),
        F.col("src_ip"),
        F.col("src_port").cast("long"),
        F.col("dst_ip"),
        F.col("dst_port").cast("long"),
    )
    return assembled.select(
        F.col("event_key").alias("url"), F.col("sid"), F.col("rev"), line.alias("line")
    )


def alert_view(assembled: DataFrame) -> DataFrame:
    """K1: multi-line 'alert.log' core columns (src/output-plugins/alert.c:70-101)."""
    return assembled.select(
        F.col("event_key").alias("url"),
        F.col("sid"),
        F.col("rev"),
        F.col("signature"),
        F.col("classtype"),
        F.col("category"),
        F.col("severity"),
        F.col("host"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.date_format("ts", "HH:mm:ss").alias("time"),
        F.col("src_ip"),
        F.col("src_port"),
        F.col("dst_ip"),
        F.col("dst_port"),
        F.col("facility"),
        F.col("program"),
        F.col("message"),
        F.col("rule_reference"),
    )


def syslog_view(assembled: DataFrame) -> DataFrame:
    """K4: snort-compatible syslog line (src/output-plugins/syslog-handler.c:50-90)."""
    line = F.format_string(
        "[1:%d:%d] %s [Classification: %s] [Priority: %d] {%s} %s:%d -> %s:%d",
        F.col("sid"),
        F.col("rev"),
        F.col("signature"),
        F.col("category"),
        F.col("severity"),
        F.col("proto_name"),
        F.col("src_ip"),
        F.col("src_port").cast("long"),
        F.col("dst_ip"),
        F.col("dst_port").cast("long"),
    )
    return assembled.select(
        F.col("event_key").alias("url"), F.col("sid"), line.alias("line")
    )


def eve_log_view(frame: DataFrame, proto_string: str = "udp") -> DataFrame:
    """K3 all-logs variant: every EVENT (not just alerts) as an EVE
    'log' record, field-for-field (reference Format_JSON_Log_EVE
    src/json-handler.c:292-361; eve-type 'log' config
    src/config-yaml.c:2110-2140).  ``proto_string`` mirrors
    config->sagan_proto_string (the listener protocol)."""
    if "priority" not in frame.columns:
        frame = frame.withColumn("priority", F.lit(""))
    flow_id = _flow_id()
    return frame.select(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias("timestamp"),
        F.lit("log").alias("event_type"),
        flow_id.alias("flow_id"),
        F.col("host").alias("syslog_source"),
        F.lit(proto_string).alias("syslog_proto"),
        F.col("facility"),
        F.col("priority"),
        F.col("level"),
        F.col("tag"),
        # the reference carries date/time as STRINGS and rejoins them
        F.concat_ws(
            " ",
            F.date_format("ts", "yyyy-MM-dd"),
            F.date_format("ts", "HH:mm:ss"),
        ).alias("source_timestamp"),
        F.col("program"),
        F.col("message"),
        F.col("event_key").alias("url"),
    )


def external_sink(assembled: DataFrame, command: list[str]) -> None:
    """K6: feed alerts as JSON lines to an external program's stdin
    (reference src/output-plugins/external.c:58-110).

    The reference fork/execs the program once per ALERT under the output
    mutex; here the program launches once per PARTITION and the
    partition's alerts stream through its stdin — the same process
    boundary with the launch cost amortized, and it runs on executors
    (no driver funnel)."""
    from pyspark.sql.functions import struct, to_json

    jsonified = assembled.select(to_json(struct(*assembled.columns)).alias("j"))

    def feed(rows) -> None:
        import subprocess

        proc = subprocess.Popen(command, stdin=subprocess.PIPE)
        try:
            for row in rows:
                proc.stdin.write(row.j.encode() + b"\n")
        finally:
            proc.stdin.close()
            proc.wait()

    jsonified.foreachPartition(feed)


def route_external(assembled: DataFrame, rules: list[RuleIR],
                   runner=None) -> dict[str, list[int]]:
    """Per-rule ``external`` routing (reference src/rules.c:3680-3705;
    engine call src/output-plugins/external.c:58-110): alerts of rules
    carrying ``external: /path/prog`` stream as JSON lines to that
    program's stdin, one process per partition.  Rules sharing a program
    share one pass.  Returns {program: [sids routed]}."""
    runner = runner or external_sink
    progs: dict[str, list[int]] = {}
    for r in rules:
        if r.external_program:
            progs.setdefault(r.external_program, []).append(r.sid)
    for prog, sids in progs.items():
        runner(assembled.filter(F.col("sid").isin(sids)), [prog])
    return progs


SINK_BUILDERS = {
    "alerts_eve": eve_view,
    "alerts_fast": fast_view,
    "alerts_alert": alert_view,
    "alerts_syslog": syslog_view,
}


def flexbit_noalert_sids(rules: list[RuleIR]) -> list[int]:
    """Sids whose ``flexbits: noalert`` suppresses the WHOLE alert
    (reference engine.c:1436: Send_Alert only when flexbit_flag==false
    || flexbit_noalert==0).  Shared by the batch engine's noalert
    column and the streaming router — both paths must drop the same
    sids or batch==streaming parity breaks."""
    return [
        r.sid
        for r in rules
        if "noalert" in getattr(r, "flags", [])
        and any(x.track.startswith("flex") for x in r.xbits)
    ]


def sink_suppressions(rules: list[RuleIR]) -> dict[str, list[int]]:
    """Per-SINK suppressed sid lists (reference src/output.c:88-99):
    ``xbits: noalert`` drops the rule's alerts from the alert-file sink
    only; ``noeve`` (xbit or flexbit spelling) drops them from EVE
    only; fast and syslog always write.  ``flexbits: noalert``
    suppresses the whole alert — the batch engine also drops it in
    EngineResult.alerts(); here it lands on every sink's list so the
    streaming writer (which must keep those rows for set staging)
    reaches the same output."""
    no_alert = [r.sid for r in rules if "xbit_noalert" in r.flags]
    no_eve = [
        r.sid for r in rules if "xbit_noeve" in r.flags or "noeve" in r.flags
    ]
    out: dict[str, list[int]] = {}
    if no_alert:
        out["alerts_alert"] = no_alert
    if no_eve:
        out["alerts_eve"] = no_eve
    # flexbits:noalert kills the WHOLE alert (engine.c:1436).  Batch
    # drops those rows in EngineResult.alerts(); the streaming writer
    # instead relies on these per-sink lists, so the sids go on EVERY
    # sink.
    whole = flexbit_noalert_sids(rules)
    if whole:
        for sink in SINK_BUILDERS:
            out[sink] = out.get(sink, []) + [s for s in whole if s not in out.get(sink, [])]
    return out


def sink_views(assembled: DataFrame, rules: list[RuleIR] | None,
               sinks: list[str] | None = None):
    """Yield ``(sink, view)`` for each enabled sink (default: every
    SINK_BUILDERS entry) — the one fan-out batch and streaming share.

    ``rules``: when given, per-sink noalert/noeve suppression applies
    (reference output.c:88-99 via :func:`sink_suppressions`).  The sink
    VIEW projects after the suppression filter so the dropped sids never
    serialize."""
    suppress = sink_suppressions(rules) if rules else {}
    for sink in sinks or list(SINK_BUILDERS):
        sids = suppress.get(sink)
        kept = assembled.filter(~F.col("sid").isin(sids)) if sids else assembled
        yield sink, SINK_BUILDERS[sink](kept)


def write_sinks(assembled: DataFrame, base_path: str,
                sinks: list[str] | None = None, fmt: str = "parquet",
                rules: list[RuleIR] | None = None) -> dict[str, str]:
    """K7: fan one assembled alert set out to all enabled sink tables
    (:func:`sink_views`; ``rules`` turns on per-sink suppression).

    Each sink is an independent write (vs the reference's single-writer
    mutex, src/output.c:83-108) in OVERWRITE mode — a re-run of the same
    output path replaces, never duplicates (the resume model
    jobs/run_batch.py documents).  ``fmt='iceberg'`` passes the format
    through to a configured Iceberg catalog's path-based writer; this
    sandbox carries no Iceberg jars, so only the parquet path is
    exercised here.

    The fan-out shape every writer of the engine shares: the assembled
    alert set is materialized once (``session.materialize``, released on
    return), so the parse -> match -> correlate DAG runs a single time
    regardless of sink count, then every sink write — a cheap projection
    over the stored rows — runs at once (``session.run_concurrently``).
    """
    assembled = materialize(assembled, "assembled")
    try:
        paths = {}
        writes = []
        for sink, view in sink_views(assembled, rules, sinks):
            paths[sink] = f"{base_path}/{sink}"
            writes.append(partial(view.write.mode("overwrite").format(fmt).save, paths[sink]))
        run_concurrently(assembled.sparkSession, writes)
        return paths
    finally:
        release(assembled)
