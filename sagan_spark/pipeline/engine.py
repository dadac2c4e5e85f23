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

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.functions.textmatch import all_of, any_of, ident, lit, when
from sagan_spark.functions.udfs import json_flatten_udf, make_parse_ip_udf
from sagan_spark.pipeline.correlate import correlate
from sagan_spark.rules.compiler import EngineConfig, EventCols, RuleCompiler
from sagan_spark.rules.ir import RuleIR
from sagan_spark.session import materialize, release

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


def _project(df: DataFrame, items: list[str]) -> DataFrame:
    """``df.selectExpr(*items)`` as one SQL statement over ``df``: a
    constant number of py4j round trips, where ``selectExpr`` converts
    its list with one round trip per item."""
    body = ", ".join(items).replace("{", "{{").replace("}", "}}")
    return df.sparkSession.sql(f"SELECT {body} FROM {{frame}}", frame=df)


@dataclass
class EngineResult:
    """All hit rows with suppression flags; alerts() filters to routed ones.

    ``pins``: the frames ``run()`` materialized (:func:`materialize`);
    ``hits`` reads them until :meth:`release` frees them."""

    hits: DataFrame  # one row per (event, matched rule), flags attached
    pins: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Free every pin; ``hits`` and ``alerts()`` cannot be read
        afterwards, so call it once the last sink or counter is written."""
        for df in self.pins:
            release(df)
        self.pins.clear()

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

    def _event_cols(self, with_extraction: bool) -> EventCols:
        """The column names the compiler's text binds to: the canonical
        frame (phase 1), plus the extraction columns ``match_hits``
        projects on the candidate rows (phase 2)."""
        comp = self.compiler
        cols = EventCols()
        if comp.needs_json:
            cols.json = ident("_json")
        if with_extraction:
            if comp.needs_parse_ip:
                cols.ips, cols.ip_proto = ident("_ips"), ident("_ip_proto")
            cols.hash_cols = {h: ident(f"_hash_{h}") for h in comp.needed_hashes}
            cols.host_v4 = (ident("_hostv4_hi"), ident("_hostv4_lo"))
            cols.jm_v4 = {
                k: (ident(f"_jmv4_{i}_hi"), ident(f"_jmv4_{i}_lo"))
                for i, k in enumerate(comp.ip_json_map_keys)
            }
            cols.ip_cols = {
                src: tuple(ident(f"_ipsrc{i}{part}") for part in ("", "_hi", "_lo"))
                for i, src in enumerate(comp.ip_sources)
            }
        return cols

    # -- pipeline --------------------------------------------------------------

    def match_hits(
        self,
        frame: DataFrame,
        passthrough: list[str] | None = None,
    ) -> DataFrame:
        """The stateless half of the pipeline: scan -> extract-once ->
        columnar rule fan-out -> pass-rule filter.  Returns one row per
        (event, matched rule) with extracted fields and track keys — no
        correlation flags yet.  Batch and streaming frames get the same
        plan (no persist, no shuffle besides the local repartition, which
        a stream skips).

        The compiler emits every rule's expressions as SQL text, and
        each projection becomes Columns in one call (``_project``), so
        the build costs a constant number of py4j round trips whatever
        the rule count; only the offload gate adds one UDF per rule
        carrying ``offload:``.

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
        # the Iceberg scan already yields >= parallelism splits.  A stream
        # has no .rdd to count.
        spark = frame.sparkSession
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if not frame.isStreaming and spark.conf.get(
            "spark.master", ""
        ).startswith("local"):
            if df.rdd.getNumPartitions() < max(2, target // 2):
                df = df.repartition(target)

        # F13 valid-message guard applied ONCE at scan level so Catalyst
        # pushes it into the parquet/Iceberg scan (the per-rule copies in
        # cheap_predicate sit above the non-inlinable flatten UDF and
        # can't reach the scan); F14 ignore-list pre-drop likewise
        msg = ident("message")
        df = df.filter(F.expr(all_of([
            f"{msg} IS NOT NULL",
            f"length({msg}) > 0",
            f"NOT {comp.ignore_predicate(msg)}",
        ])))

        # input-stage JSON detect+flatten (reference engine.c:250-263 runs
        # this once per event before the rule loop).  The '{ in first 3
        # bytes' gate runs JVM-SIDE: rows that cannot be JSON ship a NULL
        # into the UDF instead of the full message string, so the Arrow
        # boundary carries only the JSON-looking sliver of the corpus.
        # The UDF's nondeterministic flag is an inlining barrier: the
        # gate and the flatten evaluate once, not once per consumer.
        if comp.needs_json:
            json_gate = F.substring(F.col("message"), 1, 3).contains("{")
            df = df.withColumn(
                "_json", json_flatten_udf(F.when(json_gate, F.col("message")))
            )

        # ---- phase 1: cheap predicates for every rule (pure Catalyst) ----
        cheap_ctx = self._event_cols(with_extraction=False)
        cheap = [ident(f"_c{i}") for i in range(len(self.rules))]
        df = _project(df, ["*"] + [
            f"{comp.cheap_predicate(r, cheap_ctx)} AS {name}"
            for r, name in zip(self.rules, cheap)
        ])
        cand = df.filter(F.expr(any_of(cheap)))

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
                off_udf = make_offload_udf(r.offload, self.config.offload_poster)
                cand = cand.withColumn(
                    f"_c{i}",
                    F.col(f"_c{i}")
                    & F.coalesce(
                        off_udf(F.when(F.col(f"_c{i}"), payload)), F.lit(False)
                    ),
                )

        # ---- phase 2: extraction on candidates only ----
        if comp.needs_parse_ip:
            parse_ip_udf = make_parse_ip_udf(self.config.sagan_port)
            # second-level gate: only rows where a parse_ip-NEEDING rule's
            # cheap predicate passed ship their message across the Arrow
            # boundary; everyone else ships NULL (their alert structs
            # never read _ips)
            ip_needed = any_of(c for c, r in zip(cheap, self.rules) if r.uses_ip_cache)
            cand = cand.withColumn(
                "_pi", parse_ip_udf(F.when(F.expr(ip_needed), F.col("message")))
            )
            cand = cand.withColumn("_ips", F.col("_pi.ips")).withColumn(
                "_ip_proto", F.col("_pi.proto")
            ).drop("_pi")

        # shared values, each projected ONCE per row: the hash columns,
        # the v4 (hi, lo) halves of every distinct ip string (host
        # fallback + each json_map ip key), then every ip source's final
        # string and halves.  Rules read them by column name
        # (compiler.extraction_exprs), so no rule repeats a string parse
        # or a long resolved-ip expression.
        ctx = self._event_cols(with_extraction=True)
        cand = _project(cand, ["*"] + [
            f"{expr} AS {ctx.hash_cols[h]}"
            for h, expr in comp.hash_extraction_cols(msg).items()
        ] + comp.v4_projection(ctx))
        if ctx.ip_cols:
            cand = _project(cand, ["*"] + comp.ip_source_projection(ctx))

        # one WHEN(match, struct) per rule: extraction fields materialize
        # only for the (typically ~1 of N) rules that actually match —
        # building all N structs per row was memory-bandwidth-bound.
        elements = [
            comp.alert_element(r, ctx, c)
            for c, r in zip(cheap, self.rules)
            if r.action != "pass"
        ]
        # pass-rule short circuit (F15, engine.c:1448-1453): a hit survives
        # iff no pass rule at a SMALLER ruleset position matched the event
        pass_idx = [
            when(comp.match_expr(r, ctx, c), lit(r.position))
            for c, r in zip(cheap, self.rules)
            if r.action == "pass"
        ]
        if len(pass_idx) > 1:
            pass_min = f"least({', '.join(pass_idx)})"
        else:
            pass_min = pass_idx[0] if pass_idx else "CAST(NULL AS INT)"
        cand = _project(cand, [ident(c) for c in passthrough] + [
            f"{pass_min} AS {ident('_pass_min')}",
            f"array_compact(array({', '.join(elements)})) AS {ident('_alerts')}",
        ])

        # explode_outer + the null filter, not explode: Catalyst infers
        # size(_alerts) > 0 from explode and pushes it below the
        # projection, which then builds the alert array twice.  Only an
        # empty array yields a null _a (array_compact drops null elements).
        a = ident("_a")
        return (
            cand.select(
                *passthrough,
                F.col("_pass_min"),
                F.explode_outer(F.col("_alerts")).alias("_a"),
            )
            .filter(F.expr(
                f"{a} IS NOT NULL AND "
                f"({ident('_pass_min')} IS NULL OR {ident('_a', 'rule_idx')} < {ident('_pass_min')})"
            ))
            .selectExpr(
                *[ident(c) for c in passthrough],
                *[f"{ident('_a', f)} AS {ident(f)}" for f in ALERT_FIELDS],
            )
        )

    def run(self, frame: DataFrame) -> EngineResult:
        hits = self.match_hits(frame)

        # ---- correlation ----
        # The correlation pass is narrow-boundary: only 5 small columns
        # shuffle and cross Arrow; suppressed (event_key, sid) pairs join
        # back onto the hit rows.  `hits` is read by the narrow branch
        # and the join side (and the xbit branches), so it is
        # materialized EAGERLY and its lineage cut: every later plan
        # reads the stored rows instead of re-analysing the match
        # projection, and Spark's concurrently submitted shuffle stages
        # cannot race to compute it.  The result owns the pins.
        pins: list[DataFrame] = []
        if any(r.after or r.threshold or r.is_condition for r in self.rules):
            hits = materialize(hits, "hits")
            pins.append(hits)
        flagged, _ = correlate(
            hits, self.rules, pins=pins, isolate_hot=self.config.hot_key_isolation
        )
        return EngineResult(hits=self._with_noalert(flagged), pins=pins)

    def run_with_dynamic_rules(
        self, frame: DataFrame, loader=None
    ) -> tuple[EngineResult, list[RuleIR]]:
        """A12 dynamic rules, two-pass batch analog (reference
        src/processors/dynamic-rules.c:61-189; sampling gate
        src/processor.c:258-272).

        Pass 1 runs the base ruleset; every ``dynamic_load`` rule that
        produced at least one routed alert triggers loading its ruleset
        (via ``loader(path) -> list[RuleIR]``, default: parse the file);
        pass 2 re-runs base + loaded rules over the same frame, after
        releasing pass 1's pins.  Returns (final result, effective
        ruleset); the caller releases the final result.  The streaming
        analog is a query restart with the augmented ruleset between
        micro-batches (SURVEY §3.3)."""
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
        first.release()
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
