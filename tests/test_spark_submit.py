"""The north-rule packaging claim, tested literally: zip the package,
ship it with ``spark-submit --py-files``, and run the batch job from a
directory where the repo is NOT importable — every import (driver and
pandas-UDF workers) must come from the shipped zip.

Reference analog: the C engine is one deployable binary
(``sagan -f sagan.yaml``, src/sagan.c:176); here the deployable is
jobs/run_batch.py + sagan_spark.zip."""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent


def _zip_package(dest: Path) -> Path:
    zpath = dest / "sagan_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        # ship code AND the vendored data files (badwords lists):
        # loaders use importlib.resources so both resolve from the zip
        for p in sorted((REPO / "sagan_spark").rglob("*")):
            if p.is_file() and "__pycache__" not in p.parts:
                z.write(p, p.relative_to(REPO))
    return zpath


def test_spark_submit_py_files_batch_job(tmp_path):
    from sagan_spark.data.pages import generate_pages

    pq.write_table(generate_pages(n_rows=400), str(tmp_path / "pages.parquet"))
    zpath = _zip_package(tmp_path)
    # run the entry point from OUTSIDE the repo: copy it next to the
    # zip so its sys.path fallback (parent.parent) misses the repo
    job = tmp_path / "run_batch.py"
    shutil.copy(REPO / "jobs" / "run_batch.py", job)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(job),
            "--input", str(tmp_path / "pages.parquet"),
            "--rules", str(REPO / "fixtures" / "ruleset.rules"),
            "--vars", str(REPO / "fixtures" / "vars.conf"),
            "--output", str(tmp_path / "sinks"),
            "--metrics", str(tmp_path / "metrics"),
            "--run-id", "submitsmoke",
        ],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]

    eve = pq.read_table(str(tmp_path / "sinks" / "alerts_eve"))
    assert eve.num_rows > 0
    assert "alert_signature_id" in eve.column_names
    lineage = pq.read_table(str(tmp_path / "metrics" / "lineage"))
    assert lineage.num_rows > 0
    runs = pq.read_table(str(tmp_path / "metrics" / "runs"))
    assert "submitsmoke" in runs.column("run_id").to_pylist()


def test_spark_submit_py_files_stream_job(tmp_path):
    """Same deployment contract for the streaming entry point:
    availableNow drain over a file-source directory, imports from the
    shipped zip, EVE sink rows out, and the threshold rule's state
    snapshot written through Hadoop FS."""
    from sagan_spark.data.pages import generate_pages

    (tmp_path / "input").mkdir()
    pq.write_table(
        generate_pages(n_rows=400), str(tmp_path / "input" / "chunk1.parquet")
    )
    zpath = _zip_package(tmp_path)
    job = tmp_path / "run_stream.py"
    shutil.copy(REPO / "jobs" / "run_stream.py", job)
    rules = tmp_path / "mini.rules"
    rules.write_text(
        'alert any any any -> any any (msg:"ssh fail"; content:"Failed password"; '
        "parse_src_ip: 1; classtype: unsuccessful-user; sid:9800001; rev:1;)\n"
        'alert any any any -> any any (msg:"ssh fail burst"; content:"Failed password"; '
        "parse_src_ip: 1; threshold: type limit, track by_src, count 2, seconds 300; "
        "classtype: unsuccessful-user; sid:9800002; rev:1;)\n"
    )

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(job),
            "--input", str(tmp_path / "input"),
            "--rules", str(rules),
            "--output", str(tmp_path / "sinks"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--watermark", "0 seconds",
        ],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    eve = pq.read_table(str(tmp_path / "sinks" / "alerts_eve"))
    assert eve.num_rows > 0
    assert "alert_signature_id" in eve.column_names
    assert 9800002 in eve.column("alert_signature_id").to_pylist()
    assert (tmp_path / "sinks" / "corr_state_a" / "batch_id=s_0").is_dir()


def test_vars_conf_matches_vars_py():
    """fixtures/vars.conf (the --vars file spark-submit ships) must
    stay in sync with fixtures/vars.py (what tests/bench import)."""
    from fixtures.vars import VARIABLES

    parsed = {}
    for line in (REPO / "fixtures" / "vars.conf").read_text().splitlines():
        line = line.strip()
        if line and not line.startswith("#") and "=" in line:
            k, _, v = line.partition("=")
            parsed[k.strip()] = v.strip()
    assert parsed == VARIABLES


def test_spark_submit_py_files_corpus_job(tmp_path):
    """The curation entry point, deployed the same way: pages in,
    curated corpus + per-stage yield ledger out, resume marker
    honored on re-run."""
    from sagan_spark.data.pages import generate_pages

    pq.write_table(generate_pages(n_rows=400), str(tmp_path / "pages.parquet"))
    # a trained-weights table for the optional classifier stage: every
    # 64th bucket carries a deterministic signed milli-weight, so doc
    # scores differ and the 60% keep-rate calibration actually filters
    import pyarrow as pa

    pq.write_table(
        pa.table(
            {
                "bucket": pa.array(range(0, 1 << 18, 64), type=pa.int64()),
                "weight_milli": pa.array(
                    [(b % 2001) - 1000 for b in range(0, 1 << 18, 64)],
                    type=pa.int64(),
                ),
            }
        ),
        str(tmp_path / "weights.parquet"),
    )
    zpath = _zip_package(tmp_path)
    job = tmp_path / "run_corpus.py"
    shutil.copy(REPO / "jobs" / "run_corpus.py", job)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zpath),
        str(job),
        "--input", str(tmp_path / "pages.parquet"),
        "--output", str(tmp_path / "corpus"),
        "--metrics", str(tmp_path / "metrics"),
        "--min-chars", "10",
        "--domain-cap", "50",
        "--sample", "0.9",
        "--classifier-weights", str(tmp_path / "weights.parquet"),
        "--classifier-keep-ppm", "600000",
        "--run-id", "corpussmoke",
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=tmp_path, env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]

    corpus = pq.read_table(str(tmp_path / "corpus"))
    assert 0 < corpus.num_rows <= 400
    assert "doc_id" in corpus.column_names and "url" in corpus.column_names
    stages = pq.read_table(str(tmp_path / "metrics" / "stages"))
    names = set(stages.column("stage").to_pylist())
    assert names == {"ingest", "screen", "dedup", "classifier", "quota", "sample"}
    # counts are monotonically non-increasing through the funnel; the
    # 60%-keep calibration must actually bite (kept >= 60% by the
    # at-least rule, < 100% because scores differ across docs)
    by = {r["stage"]: r["n_rows"] for r in stages.to_pylist()}
    assert (
        by["ingest"] >= by["screen"] >= by["dedup"]
        >= by["classifier"] >= by["quota"] >= by["sample"]
    )
    assert 0.6 * by["dedup"] <= by["classifier"] < by["dedup"]

    # resume: second run with the same run-id must no-op
    out2 = subprocess.run(
        cmd, capture_output=True, text=True, cwd=tmp_path, env=env,
        timeout=600,
    )
    assert out2.returncode == 0, out2.stderr[-3000:]
    assert "already completed" in out2.stdout


def test_spark_submit_py_files_analytics_job(tmp_path):
    """The event-analytics entry point, deployed the same way: one
    events read fanning into six product tables + ledger, resume
    marker honored on re-run."""
    import datetime as dt

    import pyarrow as pa

    base = dt.datetime(2024, 1, 1)
    n = 600
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), type=pa.int64()),
            "user_id": pa.array([i % 7 for i in range(n)], type=pa.int64()),
            "event_type": pa.array(
                ["view" if i % 3 else "click" for i in range(n)]
            ),
            "ts": pa.array(
                [base + dt.timedelta(seconds=173 * i) for i in range(n)],
                type=pa.timestamp("us"),
            ),
            "value": pa.array(
                [float((i % 13) + 1) for i in range(n)], type=pa.float64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    zpath = _zip_package(tmp_path)
    job = tmp_path / "run_analytics.py"
    shutil.copy(REPO / "jobs" / "run_analytics.py", job)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zpath),
        str(job),
        "--input", str(tmp_path / "events.parquet"),
        "--output", str(tmp_path / "analytics"),
        "--metrics", str(tmp_path / "metrics"),
        "--gap-sec", "600",
        "--bucket-sec", "3600",
        "--run-id", "analyticssmoke",
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=tmp_path, env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]

    products = {
        "sessions", "session_rollup", "bursts", "quantiles", "rollup",
        "actives",
    }
    for name in products:
        t = pq.read_table(str(tmp_path / "analytics" / name))
        assert t.num_rows > 0, name
    stages = pq.read_table(str(tmp_path / "metrics" / "stages"))
    assert set(stages.column("product").to_pylist()) == products
    # spot-shape: every event lands in exactly one session row
    sessions = pq.read_table(str(tmp_path / "analytics" / "sessions"))
    assert sessions.num_rows == n
    actives = pq.read_table(str(tmp_path / "analytics" / "actives"))
    assert all(
        d <= w
        for d, w in zip(
            actives.column("dau").to_pylist(), actives.column("wau").to_pylist()
        )
    )

    out2 = subprocess.run(
        cmd, capture_output=True, text=True, cwd=tmp_path, env=env,
        timeout=600,
    )
    assert out2.returncode == 0, out2.stderr[-3000:]
    assert "already completed" in out2.stdout
