"""The benchmark workloads, driven through the package's public API the
way ``jobs/run_batch.py`` and ``jobs/run_stream.py --continuous`` drive it.

batch:  parse_rules -> SaganSparkEngine -> assemble_alerts -> write_sinks
stream: StreamingSaganEngine(enable_xbits=True).start_sink_query(...,
        trigger_available_now=False) fed by an open-loop file generator
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from measure import EventLog, Spans, count_call_sites, tail, whole_job

#: a live-stream file whose rows are not committed this long after the
#: file was due counts as failed
STREAM_LATENCY_LIMIT_S = 60.0


def start_spark(work: Path, cores: int, trace: bool):
    """A session whose scratch, warehouse and event log all live in
    ``work``.  Tracing only turns the event log on."""
    from sagan_spark.session import build_spark

    extra = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
        f"-Dderby.system.home={work / 'derby'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_spark(app="sagan_spark_benchmark", cores=cores, driver_memory="2g", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait until the JVM and
    every Python worker it started have exited."""
    import subprocess

    from pyspark import SparkContext

    from measure import _process_tree, wait_ended

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = _process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    if not wait_ended(tree, timeout=30):
        raise RuntimeError(f"processes of the Spark session still running: {tree}")


# -- batch ---------------------------------------------------------------------


def batch_job(spark, ruleset: str, input_path: Path, out: Path) -> None:
    """One full batch job, exactly as jobs/run_batch.py runs it."""
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, write_sinks

    rules = inputs.parse(ruleset)
    engine = SaganSparkEngine(rules)
    frame = engine.frame_from_pages(spark.read.parquet(str(input_path)))
    alerts = engine.run(frame).alerts()
    assembled = assemble_alerts(
        alerts, rule_metadata_df(spark, rules), events=frame,
        xbit_condition_sids=inputs.condition_sids(rules),
    )
    write_sinks(assembled, str(out), rules=rules)


def _noop(df, name: str, **aggs) -> dict:
    """Materialize every column of ``df`` without writing it anywhere,
    collecting ``aggs`` (row counts) on the way."""
    obs = Observation(name)
    df.observe(obs, *[agg.alias(k) for k, agg in aggs.items()]).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get


def traced_job(spark, ruleset: str, input_path: Path, out: Path) -> tuple[Spans, dict]:
    """The batch job cut at each layer boundary.  Each layer runs in its
    own span; the output is the same sink set as :func:`batch_job`."""
    from sagan_spark.pipeline.engine import SaganSparkEngine
    from sagan_spark.pipeline.route import assemble_alerts, rule_metadata_df, write_sinks

    sc = spark.sparkContext
    spans = Spans(sc)
    facts: dict = {"build": []}

    def build(fn, *args, **kw):
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            facts["build"].append((t0, time.time()))

    with spans.span("parse"):
        rules = inputs.parse(ruleset)
    with spans.span("plan"):
        engine = build(SaganSparkEngine, rules)
        meta = build(rule_metadata_df, spark, rules)
        frame = build(lambda: engine.frame_from_pages(spark.read.parquet(str(input_path))))
        hits = build(engine.match_hits, frame)
        t0 = time.time()
        hits._jdf.queryExecution().executedPlan()
        facts["optimize_s"] = time.time() - t0
    with spans.span("scan"):
        facts["scan"] = _noop(frame, "scan", rows=F.count(F.lit(1)))
    with spans.span("match"):
        facts["match"] = _noop(hits, "match", rows=F.count(F.lit(1)))
    corr_sids = [r.sid for r in rules if r.after or r.threshold]
    with count_call_sites(spark), spans.span("correlate"):
        result = build(engine.run, frame)
        facts["correlate"] = _noop(
            result.hits,
            "correlate",
            replay_rows=F.sum(F.col("sid").isin(corr_sids).cast("long")),
            suppressed_rows=F.sum(
                (F.col("suppressed_after") | F.col("suppressed_threshold")).cast("long")
            ),
        )
    with spans.span("route"):
        assembled = build(
            assemble_alerts, result.alerts(), meta, events=frame,
            xbit_condition_sids=inputs.condition_sids(rules),
        )
        write_sinks(assembled, str(out), rules=rules)
    return spans, facts


def batch_layers(log: EventLog, spans: Spans, facts: dict, routed: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced job from its spans and event
    log, and the details behind them."""
    spark_tasks = {}
    for name in ("parse", "plan", "scan", "match", "correlate", "route"):
        spark_tasks[name] = log.select_tasks(spans={name})
    build_s = sum(
        (t1 - t0) - log.job_seconds(t0, t1) for t0, t1 in facts["build"]
    )
    scan_rows = int(facts["scan"]["rows"] or 0)
    candidates = log.sql_metric("match", "number of output rows", "ArrowEvalPython", "parse_ip")
    py = lambda metric: log.sql_metric("match", metric, "ArrowEvalPython")  # noqa: E731
    corr_jobs = log.select_jobs(span="correlate")
    t_first, t_last = spans.window("parse")[0], spans.window("route")[1]
    layer_sum = sum(spans.seconds(n) for n in spark_tasks)
    out = {
        "parser.s": spans.seconds("parse"),
        "plan.build_s": build_s,
        "plan.optimize_s": facts["optimize_s"],
        "scan.s": spans.seconds("scan"),
        "scan.rows": scan_rows,
        "scan.bytes": log.sql_metric("scan", "size of files read", "Scan parquet"),
        "match.s": spans.seconds("match"),
        "match.candidate_rows": candidates,
        "match.candidate_ratio": candidates / scan_rows if scan_rows else 0.0,
        "match.rows_out": int(facts["match"]["rows"] or 0),
        "match.py_rows": py("number of output rows"),
        "match.py_bytes_sent": py("data sent to Python workers"),
        "match.py_bytes_recv": py("data returned from Python workers"),
        "match.py_init_s": py("time to initialize Python workers"),
        "match.py_run_s": py("time to run Python workers"),
        "correlate.s": spans.seconds("correlate"),
        "correlate.jobs": len(corr_jobs),
        "correlate.replay_rows": int(facts["correlate"]["replay_rows"] or 0),
        "correlate.suppressed_rows": int(facts["correlate"]["suppressed_rows"] or 0),
        "correlate.shuffle_bytes": sum(t["shuffle_write"] for t in spark_tasks["correlate"]),
        "correlate.skew": log.skew(spark_tasks["correlate"], "MapInPandas"),
        "route.s": spans.seconds("route"),
        "route.jobs": len(log.select_jobs(span="route")),
        "route.join_shuffle_bytes": sum(t["shuffle_write"] for t in spark_tasks["route"]),
        "route.rows_out": routed,
        "route.write_bytes": sum(t["output_bytes"] for t in spark_tasks["route"]),
        "trace.job_s": t_last - t_first,
        "trace.coverage": layer_sum / (t_last - t_first),
    }
    detail = {
        "correlate.jobs_by_call_site": _by_call_site(corr_jobs),
        "self_s": {n: spans.seconds(n) for n in spark_tasks},
    }
    return out | whole_job([t for ts in spark_tasks.values() for t in ts]), detail


def _by_call_site(jobs: list[dict]) -> dict:
    out: dict = {}
    for j in jobs:
        site = j["call_site"] or "(other actions)"
        entry = out.setdefault(site, {"jobs": 0, "s": 0.0})
        entry["jobs"] += 1
        entry["s"] += j.get("t1", j["t0"]) - j["t0"]
    return out


# -- live stream ---------------------------------------------------------------


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        raw = p.json
        out.append(json.loads(raw() if callable(raw) else raw))
    return [p for p in out if p.get("numInputRows", 0) > 0]


class FileGenerator(threading.Thread):
    """Open loop: file ``k`` is due at ``start + k * tick`` and is moved
    into the input directory (atomically) at or after that time,
    whatever the query is doing."""

    def __init__(self, parts, staging: Path, input_dir: Path, start: float, tick: float):
        super().__init__(name="file-generator", daemon=True)
        self.parts, self.staging, self.input_dir = parts, staging, input_dir
        self.start_at, self.tick = start, tick
        self.files: list[dict] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        import pyarrow.parquet as pq

        try:
            for k, part in enumerate(self.parts):
                due = self.start_at + k * self.tick
                staged = self.staging / f"part-{k + 1:05d}.parquet"
                pq.write_table(part, str(staged))
                time.sleep(max(0.0, due - time.time()))
                os.replace(staged, self.input_dir / staged.name)
                self.files.append(
                    {"name": staged.name, "rows": part.num_rows, "due": due, "written": time.time()}
                )
        except BaseException as e:  # re-raised by the caller after join()
            self.error = e


class LiveStream:
    """One continuous query over an input directory.  Its first file is
    the warm-up: its micro-batch commits before the generator's clock
    starts, and the rest of the corpus then arrives on schedule."""

    def __init__(self, spark, rules, work: Path) -> None:
        from sagan_spark.pipeline.engine import SaganSparkEngine
        from sagan_spark.streaming import StreamingSaganEngine, pages_stream_frame

        self.input_dir, self.staging = work / "live_in", work / "live_staging"
        self.out, self.ckpt = work / "live_out", work / "live_ckpt"
        for d in (self.input_dir, self.staging):
            d.mkdir(parents=True)
        # the continuous query of jobs/run_stream.py --continuous
        seng = StreamingSaganEngine(rules, enable_xbits=True)
        frame = SaganSparkEngine.frame_from_pages(pages_stream_frame(spark, str(self.input_dir)))
        self.query = seng.start_sink_query(
            frame, str(self.out), str(self.ckpt), trigger_available_now=False
        )
        self.files: list[dict] = []

    def _placed(self) -> tuple[dict[str, int], dict[int, float]]:
        """(file name -> micro-batch id, batch id -> commit time), read
        from the checkpoint.  The file source numbers its own log; the
        offset log says up to which of its entries each micro-batch
        read."""
        def log_files(d: Path):
            return sorted(
                (p for p in d.iterdir() if not p.name.startswith(".")),
                key=lambda p: int(p.name.split(".")[0]),
            ) if d.exists() else []

        source_entry = {}
        for log in log_files(self.ckpt / "sources" / "0"):
            for line in log.read_text().splitlines()[1:]:
                entry = json.loads(line)
                source_entry[Path(entry["path"]).name] = entry["batchId"]
        read_upto = []  # (source log entry, micro-batch id), ascending
        for log in log_files(self.ckpt / "offsets"):
            offsets = [json.loads(x) for x in log.read_text().splitlines()[2:] if x.startswith("{")]
            if offsets:
                read_upto.append((max(o["logOffset"] for o in offsets), int(log.name)))
        batches = {}
        for name, entry in source_entry.items():
            hit = [b for upto, b in read_upto if upto >= entry]
            if hit:
                batches[name] = min(hit)
        commits = {
            int(p.name): p.stat().st_mtime for p in log_files(self.ckpt / "commits")
        }
        return batches, commits

    def _wait(self, names: set[str], deadline: float) -> None:
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream query failed: {self.query.exception()}")
            batches, commits = self._placed()
            if names <= batches.keys() and all(batches[n] in commits for n in names):
                return
            time.sleep(0.1)

    def warm_up(self, part) -> None:
        import pyarrow.parquet as pq

        pq.write_table(part, str(self.staging / "part-00000.parquet"))
        os.replace(self.staging / "part-00000.parquet", self.input_dir / "part-00000.parquet")
        self._wait({"part-00000.parquet"}, time.time() + 170)
        # the watermark moved, so a no-data batch may follow; the clock
        # starts once the query waits for data again
        deadline = time.time() + 60
        while time.time() < deadline and self.query.status["isTriggerActive"]:
            time.sleep(0.1)

    def feed(self, parts, tick: float) -> None:
        gen = FileGenerator(parts, self.staging, self.input_dir, time.time() + 0.2, tick)
        gen.start()
        gen.join()
        if gen.error:
            raise gen.error
        self.files = gen.files
        self._wait({f["name"] for f in gen.files}, gen.files[-1]["due"] + STREAM_LATENCY_LIMIT_S)

    def stop(self) -> dict:
        """Stop the query; per-file latencies and per-batch progress of
        the fed files (the warm-up batch left out)."""
        batches, commits = self._placed()
        fed = {batches[f["name"]] for f in self.files if batches.get(f["name"]) in commits}
        try:
            # a batch's progress event is posted just after its commit
            deadline = time.time() + 10
            while time.time() < deadline:
                progress = [p for p in _progress(self.query) if p["batchId"] in fed]
                if len(progress) == len(fed):
                    break
                time.sleep(0.1)
        finally:
            self.query.stop()
        for f in self.files:
            f["batch"] = batches.get(f["name"])
            f["latency"] = commits[f["batch"]] - f["due"] if f["batch"] in commits else None
        backlog = 0
        for b, t in commits.items():
            behind = sum(
                1 for f in self.files
                if f["written"] <= t and (f["batch"] is None or f["batch"] > b)
            )
            backlog = max(backlog, behind)
        return {
            "files": self.files,
            "progress": progress,
            "backlog": backlog,
            "out": self.out,
            "query_id": str(self.query.id),
        }


def _stream_batches(run: dict) -> list[dict]:
    """Micro-batches that read generated files: id, rows (from the
    files; Spark counts each row once per scan of the source) and
    Spark's own phase durations in seconds."""
    secs = {p["batchId"]: {k: v / 1000 for k, v in p["durationMs"].items()} for p in run["progress"]}
    rows: dict[int, int] = {}
    for f in run["files"]:
        if f["batch"] is not None:
            rows[f["batch"]] = rows.get(f["batch"], 0) + f["rows"]
    return [{"id": b, "rows": n, "s": secs.get(b, {})} for b, n in sorted(rows.items())]


def stream_layers(run: dict, log: EventLog) -> dict:
    batches = _stream_batches(run)
    med = lambda key: statistics.median(b["s"].get(key, 0.0) for b in batches)  # noqa: E731
    state = (run["progress"][-1].get("stateOperators") or []) if run["progress"] else []
    files = run["files"]
    return {
        "stream.batches": len(batches),
        "stream.batch_s": med("triggerExecution"),
        "stream.plan_s": med("queryPlanning"),
        "stream.addbatch_s": med("addBatch"),
        "stream.rows_per_batch": statistics.median(b["rows"] for b in batches),
        "stream.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "stream.state_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
        "stream.backlog_files": run["backlog"],
        "gen.files": len(files),
        "gen.events": sum(f["rows"] for f in files),
        "gen.late_s": max(f["written"] - f["due"] for f in files),
    } | whole_job(log.select_tasks(query_id=run["query_id"]))


def stream_end_to_end(run: dict, routed: int) -> tuple[dict, dict]:
    batches = _stream_batches(run)
    walls = [b["s"].get("triggerExecution", 0.0) for b in batches]
    # one sample per event: every event of a file was created when the
    # file was due and is routed by the same commit
    lat = [f["latency"] for f in run["files"] if f["latency"] is not None for _ in range(f["rows"])]
    tail_v, tail_pct = tail(lat) if lat else (STREAM_LATENCY_LIMIT_S, 100.0)
    metrics = {
        # the stream's job is the fed corpus: busy time of the
        # micro-batches that processed it
        "job_s": sum(walls),
        # drain rate while the query is busy
        "routed_rows_per_s": routed / sum(walls),
        "latency_p50_s": statistics.median(lat) if lat else STREAM_LATENCY_LIMIT_S,
        "latency_tail_s": tail_v,
    }
    detail = {
        "latency_samples": len(lat),
        "latency_files": sum(f["latency"] is not None for f in run["files"]),
        "latency_tail_percentile": tail_pct,
        "batches": batches,
    }
    return metrics, detail


def reset(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
