"""Physical-plan regression guards: the optimizer must not silently
undo the engine's evaluate-once discipline (SURVEY §4 parse-once
caching; reference src/processors/engine.c:736-806).

Catalyst's CollapseProject inlines deterministic expression columns, so
without the asNondeterministic barrier on the extraction UDFs the plan
evaluates Parse_IP over ALL rows below the candidate filter AND again
over candidates above it — two ArrowEvalPython nodes per UDF instead
of one.  Batch and streaming build the same match plan, so the barrier
holds in both modes: the extraction tests check the batch plan and the
plan of a stage-A micro-batch."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.parser import parse_rules
from sagan_spark.session import py4j_calls
from sagan_spark.streaming import StreamingSaganEngine

RULES = """\
alert any any any -> any any (msg:"r1"; content:"alpha"; parse_src_ip: 1; sid:9600001;)
alert any any any -> any any (msg:"r2"; json_content:".k","v"; sid:9600002;)
alert any any any -> any any (msg:"r3"; content:"gamma"; parse_dst_ip: 2; sid:9600003;)
"""


def _frame(spark):
    df = spark.createDataFrame(
        [("e1", "2026-01-01 00:00:01", "alpha from 10.0.0.1 to 10.0.0.2")],
        "event_key string, ts string, message string",
    )
    return df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("h").alias("host"), F.lit("p").alias("program"),
        F.lit("").alias("facility"), F.lit("").alias("level"),
        F.lit("").alias("tag"), F.lit("").alias("priority"), "message",
    )


def _match_plan(spark, tmp_path, mode: str) -> str:
    """Executed plan of RULES' match over ``_frame``: the batch plan, or
    the last micro-batch plan of a stage-A query reading the same rows
    back as a stream."""
    rules = parse_rules(RULES)
    if mode == "batch":
        hits = SaganSparkEngine(rules).match_hits(_frame(spark))
        return hits._jdf.queryExecution().executedPlan().toString()
    src = str(tmp_path / "events")
    _frame(spark).write.parquet(src)
    frame = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = StreamingSaganEngine(rules).start_sink_query(
        frame, str(tmp_path / "sinks"), str(tmp_path / "ckpt"), sinks=["alerts_eve"]
    )
    q.awaitTermination(120)
    return q._jsq.streamingQuery().lastExecution().executedPlan().toString()


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_each_extraction_udf_evaluates_once(spark, tmp_path, mode):
    plan = _match_plan(spark, tmp_path, mode)
    n_parse_ip_nodes = len(re.findall(r"ArrowEvalPython \[[^\]]*parse_ip", plan))
    n_flatten_nodes = len(re.findall(r"ArrowEvalPython \[[^\]]*json_flatten", plan))
    assert n_parse_ip_nodes == 1, f"parse_ip evaluated in {n_parse_ip_nodes} nodes:\n{plan[:2000]}"
    assert n_flatten_nodes == 1, f"json_flatten evaluated in {n_flatten_nodes} nodes"


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_parse_ip_sits_above_cheap_filter(spark, tmp_path, mode):
    """Parse_IP must only see candidate rows: in the plan tree its node
    appears ABOVE (before, in toString order) the literal prefilter."""
    plan = _match_plan(spark, tmp_path, mode)
    # toString prints top-down: a node higher in the plan appears
    # earlier.  The CHEAP prefilter is the lowest Contains() in the
    # tree (the alert-struct filter above parse_ip also mentions
    # Contains), so compare against the LAST occurrence.
    ip_pos = plan.find("parse_ip")
    filt_pos = plan.rfind("Contains(message")
    assert 0 <= ip_pos < filt_pos, "parse_ip runs below the cheap prefilter"


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_alert_array_built_once(spark, tmp_path, mode):
    """The per-rule alert array is built in one node: with a plain
    explode Catalyst infers size(_alerts) > 0 and pushes it below the
    projection, which then builds the array a second time."""
    plan = _match_plan(spark, tmp_path, mode)
    n_builds = len(re.findall(r"array\(CASE WHEN _c0", plan))
    assert n_builds == 1, f"alert array built {n_builds} times:\n{plan[:2000]}"


def test_ip_bits_share_one_parse_no_per_octet_regex(spark):
    """The v4 ip-bits derivation must stay the shared single-regex form
    (enrich.v4_hilo_cols materialized once per ip source by the engine,
    compiler._ip_bits branching over the shared columns).  The round-2
    regression inlined a 4x regexp_extract('(\\d{1,3})...') + 4x rlike
    octet parse into every rule side (8 regex nodes x 2 sides x N rules)
    and cost 4x end-to-end — pin its signature out of the plan.  Host
    must be a real column here: a literal host constant-folds the whole
    parse away and the assertion would vacuously pass."""
    flow_rules = RULES + (
        'alert any [10.0.0.0/8] any -> any any (msg:"r4"; content:"delta"; '
        "parse_src_ip: 1; sid:9600004;)\n"
    )
    df = spark.createDataFrame(
        [("e1", "2026-01-01 00:00:01", "h.example", "alpha from 10.0.0.1")],
        "event_key string, ts string, host string, message string",
    ).select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        "host", F.lit("p").alias("program"),
        F.lit("").alias("facility"), F.lit("").alias("level"),
        F.lit("").alias("tag"), F.lit("").alias("priority"), "message",
    )
    hits = SaganSparkEngine(parse_rules(flow_rules)).match_hits(df)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert r"\d{1,3}" not in plan, "per-octet regexp_extract ip parse is back"
    # the single-regex form must actually be present (host is non-constant)
    assert "25[0-5]" in plan, "shared v4 parse missing from plan"


def test_shared_ip_values_projected_once(spark):
    """Every ip value that comparisons read is projected once per row
    per ip source: the localhost fix of the resolved src ip (its only
    ``StartsWith``) appears in the one projection that defines
    ``_ipsrc0``, and both flow rules compare the named halves instead of
    repeating the expression (it was inlined five times per rule)."""
    rules = (
        'alert any [10.0.0.0/8] any -> any any (msg:"f1"; content:"alpha"; '
        "parse_src_ip: 1; sid:9600011;)\n"
        'alert any [10.0.0.0/8,192.168.0.0/16] any -> any any (msg:"f2"; '
        'content:"from"; parse_src_ip: 1; sid:9600012;)\n'
    )
    hits = SaganSparkEngine(parse_rules(rules)).match_hits(_frame(spark))
    plan = hits._jdf.queryExecution().executedPlan().toString()
    for name in ("_ipsrc0", "_ipsrc0_hi", "_ipsrc0_lo"):
        assert len(re.findall(rf"AS {name}#", plan)) == 1, f"{name}:\n{plan[:3000]}"
    local_fix = [line for line in plan.splitlines() if "StartsWith" in line]
    assert local_fix and all("AS _ipsrc0#" in line for line in local_fix), plan[:3000]
    assert len(re.findall(r"CASE WHEN \(_c\d+#\d+ AND coalesce\(\(+_ipsrc0_hi#", plan)) == 2
    assert {(r.sid, r.src_ip) for r in hits.collect()} == {
        (9600011, "10.0.0.1"), (9600012, "10.0.0.1"),
    }


def test_match_build_costs_constant_py4j_calls_per_rule(spark):
    """The match projection is built from SQL text, one call per
    projection: growing the ruleset from 30 to 300 generated rules adds
    at most 2 py4j round trips per rule (a Column tree cost ~290)."""
    from benchmark.inputs import wide_rules_text

    frame = _frame(spark)
    engines = {n: SaganSparkEngine(parse_rules(wide_rules_text(n))) for n in (30, 300)}
    engines[30].match_hits(frame)  # warm the session's lazy py4j lookups
    calls = {n: py4j_calls(spark, lambda e=e: e.match_hits(frame))[1] for n, e in engines.items()}
    assert (calls[300] - calls[30]) / 270 <= 2, calls


def test_three_thousand_rule_plan_builds_on_a_fresh_session(spark):
    """3,000 generated rules: ``match_hits`` builds and analyses on a new
    SparkSession without executing, with no StackOverflowError (a
    left-deep OR over the rules' columns) and no
    FAILED_TO_PARSE_TOO_COMPLEX (a deeply parenthesized text)."""
    from benchmark.inputs import wide_rules_text

    from sagan_spark.pipeline.engine import ALERT_FIELDS

    fresh = spark.newSession()
    frame = fresh.createDataFrame(
        [("e1", "2026-01-01 00:00:01", "alpha from 10.0.0.1 to 10.0.0.2")],
        "event_key string, ts string, message string",
    ).selectExpr(
        "event_key", "CAST(ts AS TIMESTAMP) AS ts", "'h' AS host", "'p' AS program",
        "'' AS facility", "'' AS level", "'' AS tag", "'' AS priority", "message",
    )
    hits = SaganSparkEngine(parse_rules(wide_rules_text(3000))).match_hits(frame)
    analyzed = hits._jdf.queryExecution().analyzed()
    assert analyzed.resolved()
    assert hits.columns == ["event_key", "ts", *ALERT_FIELDS]


def test_scan_prunes_and_pushes(spark, tmp_path):
    """Column pruning + null-guard pushdown must reach the parquet scan."""
    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [("u://1", "2026-01-01 00:00:01", b"", "alpha text", "en")],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp")).write.parquet(p)
    pages = spark.read.parquet(p)
    eng = SaganSparkEngine(parse_rules(RULES))
    plan = eng.match_hits(eng.frame_from_pages(pages))._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "html" not in scan_line.split("ReadSchema")[-1], "html column not pruned"
    assert "IsNotNull(text)" in scan_line, "null guard not pushed to scan"


def test_corpus_ops_stay_jvm_side(spark):
    """The scan-level corpus ops must compile to pure codegen — no
    Python evaluation node anywhere in the executed plan (BatchEvalPython
    / ArrowEvalPython would mean a per-row or per-batch Python hop the
    ops' 100 TB posture forbids)."""
    from sagan_spark.ops.dedup import dedup_paragraphs
    from sagan_spark.ops.urltools import blocklist_filter, domain_rollup
    from sagan_spark.ops.webclean import (
        filter_verdict,
        gopher_quality_filters,
        pii_scrub,
        repetition_metrics,
    )

    from sagan_spark.ops.htmltext import extract_text

    docs = spark.createDataFrame(
        [(1, "some text here", "en", "https://www.a.example.com/x")],
        "doc_id long, text string, lang string, url string",
    )
    pages = spark.createDataFrame(
        [(1, b"<p>x</p>")], "doc_id long, html binary"
    )
    plans = {
        "gopher": gopher_quality_filters(docs),
        "repetition": repetition_metrics(docs),
        "pii": pii_scrub(docs),
        "verdict": filter_verdict(docs),
        "rollup": domain_rollup(docs),
        "blocklist": blocklist_filter(docs, ["example.com"]),
        "para_dedup": dedup_paragraphs(docs),
        "html_extract": extract_text(pages),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name}: Python node in plan"


def test_paragraph_dedup_no_window_no_per_key_sort(spark):
    """First-occurrence must be the min(struct) AGGREGATION form, not a
    row_number window: a window partitioned by paragraph text funnels a
    boilerplate paragraph repeated 1e9 times into ONE task and sorts
    there, while min(struct) partial-aggregates map-side.  Pins: no
    Window/row_number anywhere in the plan; a partial_min aggregate IS
    present below the shuffle; blanks carry the 'b:'-prefixed unique
    synthetic join key (never the shared '' key)."""
    from sagan_spark.ops.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "a\n\n\n\nb")], "doc_id long, text string"
    )
    qe = dedup_paragraphs(docs)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "row_number" not in plan, "row_number window is back"
    assert "Window" not in plan, "window exchange on the paragraph key is back"
    assert "partial_min" in plan, "map-side partial min aggregation missing"
    opt = qe.optimizedPlan().toString()
    # blank rows: unique per-row synthetic key, disjoint from text keys
    assert "CASE WHEN RLIKE(para" in opt and "b:" in opt, (
        "blank-conditional unique join key missing"
    )
    # the documented trade: the firsts self-join re-explodes the corpus
    # — exactly TWO explodes (more would mean an accidental extra scan)
    n_explode = opt.count("posexplode")
    assert n_explode == 2, f"expected the documented 2 explodes, saw {n_explode}"


def test_decontam_benchmark_side_broadcasts(spark):
    """contamination_hits must probe the (tiny) benchmark shingle set
    as a broadcast hash join — a sort-merge join here would shuffle the
    ENTIRE corpus's exploded shingles by hash at 100 TB."""
    from sagan_spark.ops.decontam import contamination_hits

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma")], "bench_id long, text string"
    )
    plan = (
        contamination_hits(docs, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, f"benchmark side not broadcast:\n{plan[:2000]}"
    assert "SortMergeJoin" not in plan, "corpus-wide shuffle join on shingles"


def test_duplicated_spans_no_window_map_side_partials(spark):
    """duplicated_spans must stay in aggregation form: no Window (a
    hot boilerplate span would funnel one task) and the distinct-doc
    count must partial-aggregate map-side before the span-hash
    shuffle."""
    from sagan_spark.ops.decontam import _duplicated_spans, duplicated_spans

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    # the public op materializes its result, which hides the plan:
    # inspect its lazy builder's
    out, _pos = _duplicated_spans(docs, 4, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "window crept into the span count"
    assert "partial_count" in plan or "partial_" in plan, (
        f"no map-side partial aggregation before the span shuffle:\n{plan[:2000]}"
    )
    # end-to-end: the public op's physical plan (materialized) must
    # still have executed without any Window/SortMergeJoin on strings
    out = duplicated_spans(docs, n=4)
    assert out.count() == 1


def test_url_and_incremental_ops_stay_jvm_side(spark):
    """url_canonicalize / dedup_by_url / novel_docs are scan-level or
    single-agg ops — no Python node, no Window, and for novel_docs no
    corpus-side sort-merge requirement is asserted (the seen side is a
    real table at scale), but the in-batch winner MUST partial-agg
    map-side."""
    from sagan_spark.ops.dedup import novel_docs
    from sagan_spark.ops.urltools import dedup_by_url, url_canonicalize

    docs = spark.createDataFrame(
        [(1, "t", "https://A.com:443/x?utm_source=1&a=2")],
        "doc_id long, text string, url string",
    )
    seen = spark.createDataFrame([("h",)], "content_hash string")
    plans = {
        "canon": docs.select(url_canonicalize(F.col("url"))),
        "url_dedup": dedup_by_url(docs),
        "incremental": novel_docs(docs, seen),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name}: Python node in plan"
        assert "Window" not in plan, f"{name}: window in plan"
    inc = plans["incremental"]._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in inc, "in-batch winner must combine map-side"


def test_remove_duplicated_spans_no_window_no_python(spark):
    """Span REMOVAL edits inside a higher-order array filter: no
    Python node, no Window, map-side partials on both the dup-hash
    count and the start-list collect."""
    from sagan_spark.ops.decontam import _remove_duplicated_spans

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    out, _pos = _remove_duplicated_spans(docs, 4, "text", "doc_id", False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "Python node in span-removal plan"
    assert "Window" not in plan, "window in span-removal plan"
    assert "partial_count(distinct" in plan, (
        "dup-hash countDistinct must partial-aggregate map-side"
    )
    assert "collect_set" in plan, "start-list collect_set missing"


def test_round3_ops_plan_shapes(spark):
    """Round-3 op pins:

    - lang_id / encoding_quality / c4_filters: pure codegen
      projections — no Python node, no exchange, no window.
    - hashed_linear_score (synthetic weights): ONE shuffle (the
      per-doc agg), NO join — the zero-token branch must stay a
      scan-level filter, not an anti-join with a doc-cardinality
      build side.
    - temperature_mix: no window over the CORPUS (the only window is
      the global Z sum over the tiny per-source count table) and no
      row_number anywhere; exactly one hashpartitioning exchange (the
      source count).
    """
    from sagan_spark.ops.sampling import temperature_mix
    from sagan_spark.ops.textstats import lang_id
    from sagan_spark.ops.webclean import (
        c4_filters,
        encoding_quality,
        hashed_linear_score,
    )

    docs = spark.createDataFrame(
        [(1, "some text here", "s1")], "doc_id long, text string, source string"
    )

    for name, df in {
        "lang_id": lang_id(docs),
        "encoding_quality": encoding_quality(docs),
        "c4_filters": c4_filters(docs),
    }.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name}: Python node"
        assert "Exchange" not in plan, f"{name}: shuffle in a projection op"
        assert "Window" not in plan, f"{name}: window"

    plan = hashed_linear_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Join" not in plan, "classifier: anti-join crept back"
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1

    plan = temperature_mix(docs, 10)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "row_number" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:1500]


def test_quota_samplers_window_only_slack_survivors(spark):
    """stratified_sample / domain_quota_sample pins: the exact-rank
    window must run over the slack-prefiltered survivors, NEVER the
    raw corpus — a Zipf-hot stratum (lang='en', ~1e11 rows at 100 TB)
    would otherwise funnel into ONE sorting task.  Pins: (a) the
    per-key count table joins back by BROADCAST; (b) in the physical
    plan the Window's input subtree contains the `_sg_h <` hash-rate
    Filter (prefilter feeds the window); (c) no Python node."""
    from sagan_spark.ops.sampling import (
        domain_quota_sample,
        mixture_sample,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(1, "t", "en", "https://a.example.com/x")],
        "doc_id long, text string, lang string, url string",
    )
    plans = {
        "stratified": stratified_sample(docs, {"en": 5}),
        "domain_quota": domain_quota_sample(docs, cap=5),
        # mixture_sample reuses the same slack core; its extra windows
        # run over the per-group quotas frame (one row per target
        # group), never the corpus — the rank window must still see
        # the _sg_h prefilter below it
        "mixture": mixture_sample(docs, {"en": 1}, 5),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name}: Python node"
        assert "BroadcastHashJoin" in plan, f"{name}: count join not broadcast"
        assert "Window" in plan, f"{name}: exact-rank window missing"
        # the rank window is the TOPMOST Window node (the quota-frame
        # windows, if any, sit deeper inside its broadcast subtree);
        # its input subtree must contain the hash-threshold prefilter —
        # the window sorts slack survivors, never the raw corpus
        below_window = plan.split("Window", 1)[1]
        assert "_sg_h" in below_window and "<" in below_window, (
            f"{name}: window input lacks the _sg_h slack prefilter:\n{plan[:3000]}"
        )


def test_funnel_and_cohort_no_window_no_python(spark):
    """funnel_stages / funnel_counts / cohort_retention pins: the
    whole point of the chained-minima spelling is that NO per-key
    window or sort ever touches the event corpus — a hot key combines
    map-side.  Pins: no Window, no Python node, and every hash
    exchange is keyed on the funnel key (user_id) or a grouping
    output, never a corpus-ordering sort key."""
    from sagan_spark.ops.funnel import cohort_retention, funnel_counts, funnel_stages

    ev = spark.createDataFrame(
        [(1, "view", 1704067200000000)],
        "user_id long, event_type string, us long",
    ).select(
        "user_id", "event_type", F.timestamp_micros(F.col("us")).alias("ts")
    )
    plans = {
        "funnel_stages": funnel_stages(ev, ["view", "click", "purchase"]),
        "funnel_counts": funnel_counts(ev, ["view", "click", "purchase"]),
        "cohort": cohort_retention(ev),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"{name}: window in plan"
        assert "EvalPython" not in plan, f"{name}: Python node"
        keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
        assert keys <= {"user_id", "cohort_day", "stage_idx"}, (
            f"{name}: unexpected exchange keys {keys}"
        )


def test_lm_buckets_windows_only_the_histogram(spark):
    """lm_buckets pins: the tercile windows run over the per-(lang,
    score) HISTOGRAM, never the corpus — no exchange keyed by doc_id,
    no ntile/row_number (the arbitrary-tie-split corpus-sort shape),
    no Python node; the threshold table joins back by BROADCAST (it
    is |langs| rows — a shuffle join here would re-exchange the whole
    corpus by language, hot-language skew included)."""
    from sagan_spark.ops.lmscore import lm_buckets

    docs = spark.createDataFrame(
        [(1, "en", 10)], "doc_id long, lang string, lm_score_ppm long"
    )
    plan = lm_buckets(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "ntile" not in plan and "row_number" not in plan
    assert "hashpartitioning(doc_id" not in plan, "corpus-keyed exchange"
    assert "BroadcastHashJoin" in plan, "threshold join must broadcast"


def test_calibrate_threshold_windows_only_the_histogram(spark):
    """calibrate_keep_threshold pins: the cumulative window runs over
    the per-score HISTOGRAM (output of the groupBy(score) aggregate),
    never the corpus — the window's input exchange is keyed by nothing
    wider than the score histogram, there is no corpus-keyed exchange,
    no row_number/ntile, and no Python node.  A hot score value (half
    the corpus at sigmoid(0)=0.5) is absorbed by the map-side partial
    count, not funneled into the single-partition sort."""
    from sagan_spark.ops.webclean import calibrate_keep_threshold

    scored = spark.createDataFrame([(1, 0.5)], "doc_id long, score double")
    qe = calibrate_keep_threshold(scored, keep_ppm=500_000)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "EvalPython" not in plan
    assert "ntile" not in plan and "row_number" not in plan
    assert "hashpartitioning(doc_id" not in plan, "corpus-keyed exchange"
    # the aggregate below the window must partial-combine map-side
    assert "partial_count" in plan, "map-side histogram count missing"


def test_pagerank_lineage_is_cut_per_iteration(spark):
    """The iterative PageRank plan must not grow with iteration count:
    materialize truncates lineage, so the FINAL plan contains the
    scan of the checkpointed ranks, not a 2^k join tower.  Pin: plan
    size at 4 iterations stays within 2x of 2 iterations (a lineage
    leak compounds per round), and contains an RDDScan (checkpoint)."""
    from sagan_spark.ops.linkgraph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    p2 = pagerank(edges, iterations=2)._jdf.queryExecution().executedPlan().toString()
    p4 = pagerank(edges, iterations=4)._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in p4 or "RDDScanExec" in p4
    assert len(p4) < 2 * len(p2), (len(p2), len(p4))


def test_scan_level_page_ops_no_exchange_no_python(spark):
    """page_metadata / parse_warc pins: both are declared scan-level
    projections — a shuffle or Python node anywhere means the codegen
    regex chain silently fell off the fast path (at 10^12 pages these
    ops must fold into the scan stage)."""
    from sagan_spark.ops.htmlmeta import page_metadata
    from sagan_spark.ops.warc import parse_warc

    pages = spark.createDataFrame(
        [(1, b"<html lang=en><title>t</title></html>")],
        "doc_id long, html binary",
    )
    recs = spark.createDataFrame(
        [(1, b"WARC/1.0\r\nWARC-Type: response\r\n\r\nHTTP/1.1 200 OK\r\n\r\nx")],
        "doc_id long, warc binary",
    )
    for name, df in {
        "page_metadata": page_metadata(pages),
        "parse_warc": parse_warc(recs),
    }.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name}: shuffle in a projection"
        assert "EvalPython" not in plan, f"{name}: Python node"
        # '*(n)' node prefixes mark whole-stage-codegen spans in
        # executedPlan().toString()
        assert "*(1)" in plan, f"{name}: fell out of codegen:\n{plan[:800]}"


def test_inverted_index_cap_uses_group_limit_no_python(spark):
    """inverted_index pin: the hot-term cap must run as the salted
    two-stage rank with Spark's WindowGroupLimit pushed below each
    sort (a stop word matching 10^11 docs must never funnel one
    sorting task), and the whole op stays JVM-side."""
    from sagan_spark.ops.invindex import inverted_index

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a")], "doc_id long, text string"
    )
    plan = (
        inverted_index(docs, max_postings=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "WindowGroupLimit" in plan, "k-limit not pushed below the sorts"
    assert "_sg_salt" in plan, "stage-1 salt partition missing"


def test_pmi_and_robots_screen_no_python_no_corpus_window(spark):
    """pmi_collocations / url_robots_screen pins: pure
    aggregation/join plans — no Python, no window over any corpus-
    sized input (pmi has no window at all; robots' parse windows run
    per robots.txt FILE, which is bounded data, but the screen itself
    must aggregate, not rank)."""
    from sagan_spark.ops.collocations import pmi_collocations
    from sagan_spark.ops.robotstxt import parse_robots, url_robots_screen

    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = (
        pmi_collocations(docs, min_count=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "Window" not in plan, "pmi must be aggregation-only"

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x\n")],
        "domain string, robots_txt string",
    )
    pages = spark.createDataFrame(
        [(1, "https://a.com/x")], "doc_id long, url string"
    )
    screen = url_robots_screen(pages, parse_robots(robots))
    plan = screen._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # the verdict is an algebraic max: partial_max must appear before
    # the exchange (map-side combine of the rule fan-out)
    assert "partial_max" in plan or "partial max" in plan.lower(), plan[:2000]


def test_web_ingest_single_codegen_projection(spark):
    """ingest_pipeline pin: the entire WARC->verdict chain must stay
    ONE scan-level codegen projection — no shuffle, no Python (at
    10^12 records AQE folds it into the scan)."""
    from sagan_spark.ops.webpipeline import ingest_pipeline

    recs = spark.createDataFrame(
        [(1, b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
             b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
             b"<html lang=en><title>t</title><p>hello world text</p></html>")],
        "doc_id long, warc binary",
    )
    plan = (
        ingest_pipeline(recs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, "shuffle in the ingest projection"
    assert "EvalPython" not in plan, "Python node"
    assert "*(1)" in plan, f"fell out of codegen:\n{plan[:800]}"


def test_thousand_entry_ignore_list_builds_and_routes(spark):
    """F14 with a 1,000-entry ignore list: the OR over the entries is a
    balanced tree, so the match plan builds (a left-deep chain of that
    length overflowed the JVM stack in ``df.filter``) and the pre-drop
    still removes exactly the line carrying a listed substring."""
    from sagan_spark.rules.compiler import EngineConfig

    df = spark.createDataFrame(
        [
            ("keep", "2026-01-01 00:00:01", "alpha from 10.0.0.1 to 10.0.0.2"),
            ("drop", "2026-01-01 00:00:02", "alpha noise-0999 from 10.0.0.3"),
        ],
        "event_key string, ts string, message string",
    )
    frame = df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("h").alias("host"), F.lit("p").alias("program"),
        F.lit("").alias("facility"), F.lit("").alias("level"),
        F.lit("").alias("tag"), F.lit("").alias("priority"), "message",
    )
    config = EngineConfig(ignore_list=[f"noise-{i:04d}" for i in range(1000)])
    hits = SaganSparkEngine(parse_rules(RULES), config).match_hits(frame)
    got = {(r.event_key, r.sid, r.src_ip) for r in hits.collect()}
    assert got == {("keep", 9600001, "10.0.0.1")}


def test_batch_run_reads_materialized_rows(spark, fixture_rules, pages_path):
    """run() cuts lineage at its barriers: the analyzed plan of the
    fixture ruleset's alerts reads stored rows (``LogicalRDD`` leaves),
    not the match projection, its extraction UDFs or the replays, so
    later plans never analyse that tree again."""
    engine = SaganSparkEngine(fixture_rules)
    result = engine.run(engine.frame_from_pages(spark.read.parquet(pages_path)))
    try:
        plan = result.alerts()._jdf.queryExecution().analyzed().toString()
    finally:
        result.release()
    assert "LogicalRDD" in plan
    for node in ("parse_ip", "json_flatten", "MapInPandas"):
        assert node not in plan, f"{node} below the barriers:\n{plan[:2000]}"
