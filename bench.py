"""Benchmark harness (driver contract).

Runs the headline query suite at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
engine pipeline (parse -> match -> correlate -> route) over a generated
pages corpus, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys report the north-rule metric (end-to-end routed rows/sec)
and corpus sizes.  Scaling evidence comes from tools/bench_scaling.py:
the local[1]->local[4] pairs recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES_ROWS = int(os.environ.get("SAGAN_BENCH_PAGES_ROWS", "200000"))
PAGES_CACHE = f"/tmp/sagan_spark_bench/pages_{BENCH_PAGES_ROWS}.parquet"

# headline subset of the contract queries — the heavy/representative ones
HEADLINE = [
    "f3_content_modifiers",
    "f4_pcre",
    "f6_json_content",
    "p4_parse_hash",
    "j1_cidr_range_join",
    "a1_threshold_limit",
    "a2_threshold_suppress",
    "a4_xbit_interval_join",
    "k3_eve_assembly",
    "dedup_exact",
    "dedup_minhash_lsh",
    # dedup_ngram_jaccard stays in the sf0.01 correctness gate only: its
    # exact-Jaccard join is |candidate pairs| x |shingles/doc| and the
    # synthetic corpus is near-dup-dense (~12% of all pairs collide), so
    # at sf0.1 it measures corpus pathology, not engine speed
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_duplicated_spans",
    "decontam_hits",
    "ann_cosine_topk",
    "text_quality",
    "text_fingerprint",
    "webclean_repetition",
    "webclean_pii",
    "webclean_gopher",
    "url_domain_rollup",
    "dedup_paragraphs",
    "pack_sequences",
    "vocab_stats",
    "webclean_classifier",
    "sample_temperature",
    "text_langid",
    "domain_pagerank",
    "lm_likelihood",
    "dsir_weights",
    # round-4 additions: bounded-window sessionization + the
    # aggregation-chain funnel + bloom-prefiltered incremental dedup
    "events_sessionize",
    "events_funnel",
    "dedup_incremental_bloom",
    "text_readability",
    "text_novelty",
    "sample_budget",
    "doc_chunks",
    "url_surt_shards",
    "dedup_soft_weights",
    "dedup_paragraphs_within",
    "tfidf_topk",
    "bm25_topk",
    # round-4 late additions: web-ingest scan ops + corpus statistics
    "warc_parse",
    "html_metadata",
    "robots_screen",
    "pmi_collocations",
    "inverted_index",
    "bpe_train",
    "crawl_diff",
    "web_ingest",
    "hll_distinct",
    # round-4 tail: classifier train/calibrate loop, quantized ANN +
    # recall measurement, decontamination filter, LM model tables
    "classifier_train",
    "webclean_classifier_trained",
    "classifier_calibrate",
    "ann_quantized_topk",
    "ann_recall",
    "decontam_filter",
    "lm_train",
    # round-4 continuation: HTML census + charset routing + frontier
    # mining + water-filling mixture + the vocab spectrum
    "html_stats",
    "charset_sniff",
    "frontier_candidates",
    "sample_mixture",
    "vocab_spectrum",
    # round-4 continuation, second wave: as-of enrichment (broadcast
    # probe), the rollup cascade, degree-oriented triangles, DAU/WAU
    "events_asof",
    "events_rollup",
    "link_triangles",
    "events_actives",
    # round-5 additions: real-HTML link/anchor extraction with RFC 3986
    # resolution, the registry-dispatched JPEG SOF kernel, the vendored
    # 26-language trained lang-id, and one streaming-ledger twin (the
    # rollup — its actives/quantiles siblings share the same drain
    # machinery and stay in the correctness gate)
    "link_extract",
    "anchor_domain_topk",
    "multimodal_meta_jpeg",
    "text_langid_trained",
    "streaming_rollup",
]


def ensure_pages(path: str, n_rows: int) -> str:
    if not Path(path).exists():
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        from sagan_spark.data.pages import write_pages

        write_pages(path, n_rows=n_rows)
    return path


def run_engine_bench(spark) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from fixtures.vars import VARIABLES
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import assemble_alerts, eve_view, rule_metadata_df
    from sagan_spark.rules.parser import parse_rules

    pages_path = ensure_pages(PAGES_CACHE, BENCH_PAGES_ROWS)
    rules = parse_rules(
        Path(__file__).parent.joinpath("fixtures/ruleset.rules").read_text(), VARIABLES
    )
    pages = spark.read.parquet(pages_path)
    n_events = pages.count()  # warm the scan/page cache out of the timed section

    def one_run() -> tuple[float, int]:
        # a noop write of the EVE view materializes every routed column
        # (count() would let Catalyst prune part of the route layer)
        t0 = time.monotonic()
        engine = SaganSparkEngine(rules)
        frame = engine.frame_from_pages(pages)
        result = engine.run(frame)
        routed = eve_view(
            assemble_alerts(result.alerts(), rule_metadata_df(spark, rules), events=frame)
        )
        obs = Observation("routed")
        routed.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        n_routed = obs.get["rows"]
        dt = time.monotonic() - t0
        result.release()
        return dt, n_routed

    # cold = first execution in this JVM: includes the one-time janino
    # compile + JIT warmup of the fused 23-rule stage code (plan-size-,
    # not data-size-, proportional — same protocol as BENCH_r01).
    # steady = an identical second execution: each run releases the
    # engine's pins and the cache is cleared, so all data is recomputed,
    # only the per-process fixed cost is gone — the regime a 100 TB /
    # long-running job sits in.
    cold_dt, n_routed = one_run()
    # steady-state measured THREE times (cache cleared between runs) so
    # the artifact carries its own noise bound: this host neighbor-steals
    # (2-3x swings on identical trees, BASELINE.md), and r2's recorded
    # steady > cold was exactly such a window.  Median is the headline;
    # min/max and the max/min ratio expose the spread.
    steady_runs: list[float] = []
    for _ in range(3):
        spark.catalog.clearCache()
        dt, n_routed2 = one_run()
        assert n_routed == n_routed2
        steady_runs.append(dt)
    steady_dt = statistics.median(steady_runs)
    return {
        "engine_sec": round(cold_dt, 3),
        "engine_steady_sec": round(steady_dt, 3),
        "engine_steady_runs": [round(x, 3) for x in steady_runs],
        "engine_steady_min_max": [
            round(min(steady_runs), 3),
            round(max(steady_runs), 3),
        ],
        "engine_noise_bound": round(max(steady_runs) / min(steady_runs), 2),
        "engine_events": n_events,
        "engine_routed_rows": n_routed,
        "events_per_sec": round(n_events / cold_dt, 1),
        "routed_rows_per_sec": round(n_routed / cold_dt, 1),
        "steady_events_per_sec": round(n_events / steady_dt, 1),
        "steady_routed_rows_per_sec": round(n_routed / steady_dt, 1),
    }


#: flagship windows with a noise bound above this are treated as
#: contaminated (this host's neighbor-steal phases show 2-3x swings on
#: identical trees, BASELINE.md) and re-measured
NOISE_THRESHOLD = float(os.environ.get("SAGAN_BENCH_NOISE_BOUND", "1.5"))
MAX_WINDOWS = int(os.environ.get("SAGAN_BENCH_MAX_WINDOWS", "3"))


def pick_quiet_window(measure, noise_threshold: float = NOISE_THRESHOLD,
                      max_windows: int = MAX_WINDOWS) -> dict:
    """Artifact self-defense (VERDICT r4 'what's wrong' #1: the
    driver's r4 bench ran inside a neighbor-steal phase and recorded
    a contaminated window as the round's official flagship number).

    ``measure()`` produces one engine window (the dict
    :func:`run_engine_bench` builds).  While the flagship's own noise
    bound says the window was contaminated (max/min of the three
    steady runs above ``noise_threshold``), re-measure — bounded at
    ``max_windows`` total.  The QUIETEST window (lowest noise bound,
    then lowest steady median) provides the headline steady fields;
    EVERY window stays in the artifact under ``engine_windows`` so a
    reader can see what was rejected and why.  The true cold-start
    figures always come from the FIRST window (later windows run in a
    JIT-warmed JVM, their 'cold' is not cold)."""
    windows = [measure()]
    while (
        windows[-1]["engine_noise_bound"] > noise_threshold
        and len(windows) < max_windows
    ):
        windows.append(measure())
    head = dict(
        min(
            windows,
            key=lambda w: (w["engine_noise_bound"], w["engine_steady_sec"]),
        )
    )
    for k in ("engine_sec", "engine_events", "events_per_sec",
              "routed_rows_per_sec"):
        head[k] = windows[0][k]
    head["engine_windows"] = [
        {
            "steady_runs": w["engine_steady_runs"],
            "noise_bound": w["engine_noise_bound"],
            "steady_sec": w["engine_steady_sec"],
        }
        for w in windows
    ]
    head["engine_rebenches"] = len(windows) - 1
    return head


def main() -> None:
    from sagan_spark.session import build_spark

    import __spark_entry__ as E

    spark = build_spark(app="sagan_spark_bench", cores=CPUS, driver_memory="48g")
    spark.sparkContext.setLogLevel("ERROR")

    qs = E.queries()
    # 3 runs per query, interleaved round-robin across the suite so one
    # noise window cannot inflate a single query's every sample; the
    # headline number is the median, spread fields carry min/max
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _rep in range(3):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.monotonic()
            fn(spark, SF_DIR).count()
            runs[name].append(time.monotonic() - t0)
            # ops may persist() scratch frames (shingle reuse); drop them
            # so one query's cache never skews the next measurement
            spark.catalog.clearCache()
    times = {n: round(statistics.median(r), 3) for n, r in runs.items()}
    spread = {
        n: [round(min(r), 3), round(max(r), 3)] for n, r in runs.items()
    }

    engine_stats = pick_quiet_window(lambda: run_engine_bench(spark))
    total = round(sum(times.values()) + engine_stats["engine_sec"], 3)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    # key ORDER is load-bearing: headline fields first, the big
    # query_spread_min_max map dead LAST — the driver's tail capture
    # truncated the r3 artifact to `parsed: null` when the spread map
    # (emitted mid-object) outgrew the window, so truncation must only
    # ever eat the spread
    out = {
        "metric": "end-to-end routed-rows/sec (parse->enrich->route->aggregate)",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **engine_stats,
        "cpus": CPUS,
        "runs_per_query": 3,
        "queries": {**times, "engine_pipeline": engine_stats["engine_sec"]},
    }
    # two-parallelism scaling evidence (north rule): measured snapshot
    # from tools/bench_scaling.py, full method in tools/scaling_results.json
    scaling_path = Path(__file__).parent / "tools/scaling_results.json"
    if scaling_path.exists():
        snap = json.loads(scaling_path.read_text())
        out["scaling"] = {
            "n_to_4n": snap.get("n_to_4n"),
            "runs": {
                k: v.get("routed_rows_per_sec")
                for k, v in snap.get("runs", {}).items()
                if isinstance(v, dict) and "routed_rows_per_sec" in v
            },
        }
    out["query_spread_min_max"] = spread
    # belt-and-braces: the full artifact also lands in-tree, immune to
    # any stdout capture limit
    (Path(__file__).parent / "BENCH_local.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
