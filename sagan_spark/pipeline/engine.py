"""The batch engine: scan -> extract-once -> columnar rule fan-out ->
stateful correlation -> routed alerts.

Spark-first re-expression of the reference's per-event rule loop
(reference Sagan_Engine, src/processors/engine.c:92-1558):

- The reference iterates rules per event on 50 worker threads; here ALL
  rules compile into parallel boolean columns inside one projection, so
  one codegen'd pass evaluates the whole ruleset per partition.
- Cheap-first ordering (program/content before pcre; reference
  doc/source/high-performance.rst:79-94) becomes a two-phase plan:
  phase 1 evaluates every predicate that needs no extraction (pure
  JVM expressions, pushdown-friendly); only rows with >=1 candidate
  match reach phase 2, which runs the Arrow-batched Parse_IP UDF and
  the flow checks — the Spark analog of the reference's lazy
  parse-once cache (engine.c:797-806).
- The single wide dependency is the correlation shuffle keyed by
  (sid, track-key) — the analog of the reference's shared-memory
  counter arrays (thread boundary ≙ exchange).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.functions.udfs import (
    json_flatten_udf,
    json_flatten_udf_stream,
    make_parse_ip_udf,
)
from sagan_spark.pipeline.correlate import (
    apply_after_threshold,
    apply_xbits,
    chain_components,
)
from sagan_spark.rules.compiler import EngineConfig, EventCols, RuleCompiler
from sagan_spark.rules.ir import RuleIR

# event columns every hit row carries through correlation.  The rest of
# the event (message, host, program, ...) is LATE-MATERIALIZED: sinks
# join alerts back to the input frame on event_key (route.assemble_alerts)
# so the fat strings never ride the correlation shuffle or the Arrow
# boundary — at 5M hit rows the pandas conversion of `message` alone
# dominated the whole pipeline.
PASSTHROUGH = ["event_key", "ts"]
# full event column set (for the late-materialization join and streaming)
EVENT_COLS = [
    "event_key", "ts", "host", "program",
    "facility", "level", "tag", "priority", "message",
]

ALERT_FIELDS = [
    "rule_idx",
    "sid",
    "rev",
    "src_ip",
    "src_port",
    "dst_ip",
    "dst_port",
    "proto",
    "username",
    "event_id",
    "md5",
    "sha1",
    "sha256",
    "track_threshold",
    "track_after",
]


@dataclass
class EngineResult:
    """All hit rows with suppression flags; alerts() filters to routed ones."""

    hits: DataFrame  # one row per (event, matched rule), flags attached

    def alerts(self) -> DataFrame:
        return self.hits.filter(
            ~F.col("suppressed_after")
            & ~F.col("suppressed_threshold")
            & F.col("xbit_ok")
            & ~F.col("noalert")
        )


class SaganSparkEngine:
    def __init__(self, rules: list[RuleIR], config: EngineConfig | None = None):
        self.rules = rules
        self.config = config or EngineConfig()
        self.compiler = RuleCompiler(rules, self.config)

    # -- canonical frame ------------------------------------------------------

    @staticmethod
    def frame_from_pages(
        pages: DataFrame, extract_from_html: bool = False
    ) -> DataFrame:
        """Adapt the Common-Crawl-style pages table (url, warc_ts, html,
        text, lang) to the canonical event frame (SURVEY §1.2 mapping:
        text≙syslog_message, url host≙syslog_host, lang≙syslog_program,
        warc_ts≙event time).

        ``extract_from_html``: rows whose ``text`` is NULL or empty fall
        back to extracting the visible text from the ``html`` byte
        column (ops/htmltext.py declared spec) — a crawl that carries
        only raw markup runs the full pipeline without a separate
        preprocessing pass.  The extraction chain is WHEN-gated so rows
        with text never pay for it."""
        msg = F.col("text")
        if extract_from_html:
            from sagan_spark.ops.htmltext import html_text_expr

            msg = F.when(
                F.col("text").isNotNull() & (F.col("text") != ""), F.col("text")
            ).otherwise(html_text_expr(F.decode(F.col("html"), "UTF-8")))
        return pages.select(
            F.col("url").alias("event_key"),
            F.col("warc_ts").alias("ts"),
            # regexp host extraction: parse_url's full URI parse costs
            # ~10x more per row for the same result on http(s) urls
            F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1).alias("host"),
            F.col("lang").alias("program"),
            F.lit("").alias("facility"),
            F.lit("").alias("level"),
            F.lit("").alias("tag"),
            F.lit("").alias("priority"),
            msg.alias("message"),
        )

    def _event_cols(self, df: DataFrame, with_extraction: bool) -> EventCols:
        cols = EventCols(
            event_key=F.col("event_key"),
            ts=F.col("ts"),
            host=F.col("host"),
            program=F.col("program"),
            facility=F.col("facility"),
            level=F.col("level"),
            tag=F.col("tag"),
            priority=F.col("priority"),
            message=F.col("message"),
        )
        if self.compiler.needs_json:
            cols.json = F.col("_json")
        if with_extraction:
            if self.compiler.needs_parse_ip:
                cols.ips = F.col("_ips")
                cols.ip_proto = F.col("_ip_proto")
            cols.hash_cols = {h: F.col(f"_hash_{h}") for h in self.compiler.needed_hashes}
            if "_hostv4" in df.columns:
                cols.host_v4 = (F.col("_hostv4.hi"), F.col("_hostv4.lo"))
            cols.jm_v4 = {
                k: (F.col(f"_jmv4_{i}.hi"), F.col(f"_jmv4_{i}.lo"))
                for i, k in enumerate(self.compiler.ip_json_map_keys)
                if f"_jmv4_{i}" in df.columns
            }
        return cols

    # -- pipeline --------------------------------------------------------------

    def match_hits(
        self,
        frame: DataFrame,
        repartition: bool = True,
        passthrough: list[str] | None = None,
    ) -> DataFrame:
        """The stateless half of the pipeline: scan -> extract-once ->
        columnar rule fan-out -> pass-rule filter.  Returns one row per
        (event, matched rule) with extracted fields and track keys — no
        correlation flags yet.  Works on batch AND streaming frames
        (no persist, no shuffle besides the optional local repartition).

        ``passthrough``: event columns to carry on each hit row (default
        the narrow PASSTHROUGH; streaming passes EVENT_COLS because it
        cannot re-join the source stream at sink time)."""
        passthrough = passthrough or PASSTHROUGH
        comp = self.compiler
        df = frame
        # frames built before the priority column existed stay valid
        if "priority" not in df.columns:
            df = df.withColumn("priority", F.lit(""))

        # saturate the cores in local mode: a small parquet input may scan
        # as 2-3 splits.  Only shuffle when the scan genuinely yields too
        # few — with files.maxPartitionBytes sized so splits >= cores
        # (session.py) this repartition is normally SKIPPED, saving a
        # corpus-wide exchange of the message strings.  On a real cluster
        # the Iceberg scan already yields >= parallelism splits.
        spark = frame.sparkSession
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if repartition and not frame.isStreaming and spark.conf.get(
            "spark.master", ""
        ).startswith("local"):
            if df.rdd.getNumPartitions() < max(2, target // 2):
                df = df.repartition(target)

        # F13 valid-message guard applied ONCE at scan level so Catalyst
        # pushes it into the parquet/Iceberg scan (the per-rule copies in
        # cheap_predicate sit above the non-inlinable flatten UDF and
        # can't reach the scan); F14 ignore-list pre-drop likewise
        df = df.filter(F.col("message").isNotNull() & (F.length("message") > 0))
        ig = comp.ignore_predicate(F.col("message"))
        df = df.filter(~ig)

        # input-stage JSON detect+flatten (reference engine.c:250-263 runs
        # this once per event before the rule loop).  Batch uses the
        # nondeterministic-flagged variant as an inlining barrier
        # (evaluate-once); streaming must stay deterministic.
        # BATCH ONLY: the '{ in first 3 bytes' JSON-detect gate runs
        # JVM-SIDE — rows that cannot be JSON ship a NULL into the UDF
        # instead of the full message string, so the Arrow boundary
        # carries only the JSON-looking sliver of the corpus.  In
        # streaming the gate expressions would be INLINED (no barrier)
        # into every consumer and the optimizer blows up exponentially,
        # so the stream ships plain messages (micro-batches are small).
        gate_args = not frame.isStreaming
        flatten = json_flatten_udf_stream if frame.isStreaming else json_flatten_udf
        if comp.needs_json:
            if gate_args:
                json_gate = F.substring(F.col("message"), 1, 3).contains("{")
                df = df.withColumn(
                    "_json", flatten(F.when(json_gate, F.col("message")))
                )
            else:
                df = df.withColumn("_json", flatten(F.col("message")))

        # ---- phase 1: cheap predicates for every rule (pure Catalyst) ----
        cheap_cols_ctx = self._event_cols(df, with_extraction=False)
        cheap_names = []
        proj = [F.col(c) for c in df.columns]
        for i, r in enumerate(self.rules):
            name = f"_c{i}"
            proj.append(comp.cheap_predicate(r, cheap_cols_ctx).alias(name))
            cheap_names.append(name)
        df = df.select(*proj)

        any_cheap = F.lit(False)
        for name in cheap_names:
            any_cheap = any_cheap | F.col(name)
        cand = df.filter(any_cheap)

        # ---- offload gate (reference src/offload.c, engine.c:772-786):
        # for rules carrying `offload:`, POST the event to the remote
        # classifier and AND its verdict into the rule's cheap column —
        # the reference runs this after the prefilters and before
        # content/parse, "last, because it might be the most CPU
        # consuming".  Only rows whose cheap predicate passed cross the
        # Arrow boundary (everyone else ships NULL -> False).
        offload_rules = [(i, r) for i, r in enumerate(self.rules) if r.offload]
        if offload_rules:
            from sagan_spark.pipeline.offload import make_offload_udf, offload_payload

            payload = offload_payload()
            for i, r in offload_rules:
                off_udf = make_offload_udf(
                    r.offload,
                    self.config.offload_poster,
                    barrier=not frame.isStreaming,
                )
                cand = cand.withColumn(
                    f"_c{i}",
                    F.col(f"_c{i}")
                    & F.coalesce(
                        off_udf(F.when(F.col(f"_c{i}"), payload)), F.lit(False)
                    ),
                )

        # ---- phase 2: extraction on candidates only ----
        if comp.needs_parse_ip:
            parse_ip_udf = make_parse_ip_udf(
                self.config.sagan_port, barrier=not frame.isStreaming
            )
            # second-level gate (batch only, see gate_args note): only
            # rows where a parse_ip-NEEDING rule's cheap predicate
            # passed ship their message across the Arrow boundary;
            # everyone else ships NULL (their alert structs never read
            # _ips)
            if gate_args:
                ip_needed = F.lit(False)
                for i, r in enumerate(self.rules):
                    if r.uses_ip_cache:
                        ip_needed = ip_needed | F.col(f"_c{i}")
                cand = cand.withColumn(
                    "_pi", parse_ip_udf(F.when(ip_needed, F.col("message")))
                )
            else:
                cand = cand.withColumn("_pi", parse_ip_udf(F.col("message")))
            cand = cand.withColumn("_ips", F.col("_pi.ips")).withColumn(
                "_ip_proto", F.col("_pi.proto")
            ).drop("_pi")
        for h in comp.needed_hashes:
            cand = cand.withColumn(
                f"_hash_{h}",
                comp.hash_extraction_cols(F.col("message"))[h],
            )

        # shared v4 (hi, lo) halves, ONE string parse per row per
        # distinct ip source (host fallback + each json_map ip key);
        # every rule's flow/blacklist/geoip bits branch over these plain
        # column refs (compiler._ip_bits) instead of re-parsing inline.
        # BATCH ONLY: streaming plans have no inlining barrier, and the
        # extra withColumn substitution LEVEL makes CollapseProject's
        # per-consumer copies explode — the micro-batch planner burned
        # minutes of CPU in transformDown and OOM'd.  Streaming falls
        # back to _ip_bits' inline v4_hilo_cols (one regex + split per
        # rule side — small, and micro-batches are small).
        if not frame.isStreaming:
            from sagan_spark.pipeline.enrich import v4_hilo_cols

            hv_hi, hv_lo = v4_hilo_cols(F.col("host"))
            cand = cand.withColumn(
                "_hostv4", F.struct(hv_hi.alias("hi"), hv_lo.alias("lo"))
            )
            if comp.needs_json:
                for i, k in enumerate(comp.ip_json_map_keys):
                    jh, jl = v4_hilo_cols(F.try_element_at(F.col("_json"), F.lit(k)))
                    cand = cand.withColumn(
                        f"_jmv4_{i}", F.struct(jh.alias("hi"), jl.alias("lo"))
                    )

        full_ctx = self._event_cols(cand, with_extraction=True)

        # one WHEN(match, struct) per rule: extraction fields materialize
        # only for the (typically ~1 of N) rules that actually match —
        # building all N structs per row was memory-bandwidth-bound.
        # ext_memo: rules sharing an extraction signature share ONE Column
        # tree (valid for this full_ctx binding only) — at production
        # ruleset sizes the per-rule tree build is the driver-side
        # plan-construction bottleneck (py4j round trips)
        ext_memo: dict = {}
        elements = [
            comp.alert_element(r, full_ctx, F.col(f"_c{i}"), ext_memo=ext_memo)
            for i, r in enumerate(self.rules)
            if r.action != "pass"
        ]

        # pass-rule short circuit (F15, engine.c:1448-1453): a hit survives
        # iff no pass rule at a SMALLER ruleset position matched the event
        pass_idx_exprs = [
            F.when(
                comp.match_expr(r, full_ctx, F.col(f"_c{i}"), ext_memo=ext_memo),
                F.lit(r.position),
            )
            for i, r in enumerate(self.rules)
            if r.action == "pass"
        ]
        if pass_idx_exprs:
            pass_min = F.least(*pass_idx_exprs) if len(pass_idx_exprs) > 1 else pass_idx_exprs[0]
        else:
            pass_min = F.lit(None).cast("int")

        hits = (
            cand.withColumn("_pass_min", pass_min)
            .withColumn("_alerts", F.array_compact(F.array(*elements)))
            .select(
                *passthrough,
                F.col("_pass_min"),
                F.explode(F.col("_alerts")).alias("_a"),
            )
            .filter(
                F.col("_pass_min").isNull()
                | (F.col("_a.rule_idx") < F.col("_pass_min"))
            )
            .select(
                *passthrough,
                *[F.col(f"_a.{f}").alias(f) for f in ALERT_FIELDS],
            )
        )
        return hits

    def run(self, frame: DataFrame) -> EngineResult:
        hits = self.match_hits(frame)

        # ---- correlation ----
        # The correlation pass is narrow-boundary: only 5 small columns
        # shuffle and cross Arrow; suppressed (event_key, sid) pairs join
        # back onto the hit rows.  `hits` is read by the narrow branch
        # and the join side (and the xbit branches), so it is pinned in
        # memory and materialized EAGERLY — persist alone is not enough
        # because Spark submits downstream shuffle stages concurrently
        # and they race to compute an uncached parent.
        # xbit condition rules are excluded from the first pass: their
        # after/threshold state only advances after the condition gate
        # (engine.c:999-1024 vs 1373-1389).
        cond_sids = [
            r.sid for r in self.rules if any(x.action in ("isset", "isnotset") for x in r.xbits)
        ]
        has_corr = any(r.after or r.threshold for r in self.rules)
        if has_corr or cond_sids:
            hits = hits.persist()
            hits.count()

        flagged, _ = apply_after_threshold(
            hits, self.rules, exclude_sids=cond_sids,
            materialize_suppressed=bool(cond_sids),
            isolate_hot=self.config.hot_key_isolation,
        )

        if not cond_sids:
            return EngineResult(
                hits=self._with_noalert(flagged.withColumn("xbit_ok", F.lit(True)))
            )

        stage_a = flagged.filter(~F.col("sid").isin(cond_sids)).withColumn(
            "xbit_ok", F.lit(True)
        )
        survived_a = stage_a.filter(
            ~F.col("suppressed_after") & ~F.col("suppressed_threshold")
        )
        stage_b = flagged.filter(F.col("sid").isin(cond_sids)).drop(
            "suppressed_after", "suppressed_threshold"
        )
        stage_b = apply_xbits(stage_b, self.rules, survived=survived_a)
        # stage B fans into ok/no branches and the second correlation pass
        # reads it twice — pin the (small) post-condition set eagerly
        stage_b = stage_b.persist()
        stage_b.count()
        stage_b_ok = stage_b.filter(F.col("xbit_ok"))
        # chain rules (condition + set) with after/threshold: their
        # counters already ran inside the walk — one machine instance
        # gates both the alert and the set (engine.c:1370-1427) — so
        # they are excluded here and their flags read from the walk
        chain_rules, _ = chain_components(self.rules)
        chain_corr_sids = [r.sid for r in chain_rules if r.after or r.threshold]
        stage_b_ok, _ = apply_after_threshold(
            stage_b_ok,
            [r for r in self.rules if r.sid in cond_sids],
            exclude_sids=chain_corr_sids,
        )
        stage_b_no = (
            stage_b.filter(~F.col("xbit_ok"))
            .withColumn("suppressed_after", F.lit(False))
            .withColumn("suppressed_threshold", F.lit(False))
        )
        if chain_corr_sids:
            in_chain = F.col("sid").isin(chain_corr_sids)
            stage_b_ok = (
                stage_b_ok.withColumn(
                    "suppressed_after",
                    F.when(in_chain, F.col("chain_sup_after")).otherwise(
                        F.col("suppressed_after")
                    ),
                )
                .withColumn(
                    "suppressed_threshold",
                    F.when(in_chain, F.col("chain_sup_thr")).otherwise(
                        F.col("suppressed_threshold")
                    ),
                )
                .drop("chain_sup_after", "chain_sup_thr")
            )
            stage_b_no = stage_b_no.drop("chain_sup_after", "chain_sup_thr")
        all_hits = stage_a.unionByName(stage_b_ok).unionByName(stage_b_no)
        return EngineResult(hits=self._with_noalert(all_hits))

    def run_with_dynamic_rules(
        self, frame: DataFrame, loader=None
    ) -> tuple[EngineResult, list[RuleIR]]:
        """A12 dynamic rules, two-pass batch analog (reference
        src/processors/dynamic-rules.c:61-189; sampling gate
        src/processor.c:258-272).

        Pass 1 runs the base ruleset; every ``dynamic_load`` rule that
        produced at least one routed alert triggers loading its ruleset
        (via ``loader(path) -> list[RuleIR]``, default: parse the file);
        pass 2 re-runs base + loaded rules over the same frame.  Returns
        (final result, effective ruleset).  The streaming analog is a
        query restart with the augmented ruleset between micro-batches
        (SURVEY §3.3)."""
        from sagan_spark.rules.parser import parse_rules

        def default_loader(path: str) -> list[RuleIR]:
            with open(path) as fh:
                return parse_rules(fh.read())

        loader = loader or default_loader
        dyn_rules = [r for r in self.rules if r.dynamic_load]
        first = self.run(frame)
        if not dyn_rules:
            return first, self.rules

        fired = {
            row.sid
            for row in first.alerts().select("sid").distinct().collect()
        }
        to_load = [r.dynamic_load for r in dyn_rules if r.sid in fired]
        if not to_load:
            return first, self.rules

        extra: list[RuleIR] = []
        for path in to_load:
            extra.extend(loader(path))
        combined = list(self.rules)
        for r in extra:
            r.position = len(combined)
            combined.append(r)
        second = SaganSparkEngine(combined, self.config)
        return second.run(frame), combined

    def _with_noalert(self, all_hits: DataFrame) -> DataFrame:
        """``flexbits: noalert`` suppresses the WHOLE alert for rules
        carrying any flexbit op (reference engine.c:1436: Send_Alert
        only when flexbit_flag==false || flexbit_noalert==0).  The
        xbit variants (``xbits: noalert|noeve``) are PER-SINK flags —
        they route in ``route.sink_suppressions``, not here."""
        from sagan_spark.pipeline.route import flexbit_noalert_sids

        noalert_sids = flexbit_noalert_sids(self.rules)
        return all_hits.withColumn(
            "noalert",
            F.col("sid").isin(noalert_sids) if noalert_sids else F.lit(False),
        )
