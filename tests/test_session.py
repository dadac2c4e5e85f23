"""``session.run_concurrently``, the one write fan-out of batch
``write_sinks`` and both streaming stages, and ``session.materialize``,
the one way the package pins a frame."""

from __future__ import annotations

import re
import threading
import time
import warnings
from pathlib import Path

import pandas as pd
import pytest

from sagan_spark.ops.bpetrain import bpe_train
from sagan_spark.ops.decontam import duplicated_spans
from sagan_spark.ops.dedup import connected_components, simhash_near_dups
from sagan_spark.ops.linkgraph import hits, pagerank
from sagan_spark.session import run_concurrently


def test_runs_every_action_on_its_own_thread(spark, tmp_path):
    threads = set()

    def write(i):
        threads.add(threading.get_ident())
        spark.range(i + 1).write.parquet(str(tmp_path / f"w{i}"))

    run_concurrently(spark, [lambda i=i: write(i) for i in range(3)])
    assert len(threads) == 3
    assert [spark.read.parquet(str(tmp_path / f"w{i}")).count() for i in range(3)] == [1, 2, 3]
    run_concurrently(spark, [])


def test_failure_waits_for_the_others_then_reraises(spark):
    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()

    def fail():
        raise ValueError("boom")

    def fail_later():
        time.sleep(0.2)
        raise RuntimeError("second")

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, [fail_later, fail, slow])
    assert done.is_set()


def test_workers_inherit_local_properties_without_warning(spark):
    """The job description and ``callSite.short`` set by the caller (the
    benchmark's spans, ``materialize``'s call site) reach every worker
    thread's jobs, and wrapping with the session raises no tag
    warning."""
    sc = spark.sparkContext
    seen = []

    def probe():
        seen.append(
            (sc.getLocalProperty("spark.job.description"), sc.getLocalProperty("callSite.short"))
        )
        spark.range(2).count()

    sc.setJobDescription("fan-out span")
    sc.setLocalProperty("callSite.short", "fan-out site")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_concurrently(spark, [probe, probe])
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("callSite.short", None)
    assert seen == [("fan-out span", "fan-out site")] * 2
    assert not [w for w in caught if "will not be inherited" in str(w.message)]


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "a")], "src string, dst string"
    )


def _pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (7, 7)], "doc_a long, doc_b long"
    )


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "lorem ipsum dolor sit amet consectetur"),
        ],
        "doc_id long, text string",
    )


PIN_OPS = {
    "pagerank": lambda s: pagerank(_edges(s), iterations=3),
    "hits": lambda s: hits(_edges(s)),
    "cc_propagation": lambda s: connected_components(_pairs(s), method="propagation"),
    "cc_star": lambda s: connected_components(_pairs(s), method="star"),
    "bpe_train": lambda s: bpe_train(_docs(s), rounds=3),
    "duplicated_spans": lambda s: duplicated_spans(_docs(s), n=4),
    "simhash_near_dups": lambda s: simhash_near_dups(_docs(s), max_hamming=7),
}


def _leaf_rdds(df) -> dict:
    """The RDDs behind the leaves of ``df``'s analyzed plan, by id; every
    leaf must be a pin."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    rdds = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        assert leaf.getClass().getSimpleName() == "LogicalRDD", leaf.toString()
        rdds[leaf.rdd().id()] = leaf.rdd()
    return rdds


@pytest.mark.parametrize("op", sorted(PIN_OPS))
def test_op_pins_follow_the_checkpoint_mode(spark, tmp_path, op):
    """Every iterative op pins through ``materialize``: with a checkpoint
    dir its result reads reliable checkpoints only and matches the
    local-mode rows.  In both modes an op leaves behind only the pins
    its result reads; the superseded and input-side ones are freed."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    local = PIN_OPS[op](spark)
    new_pins = set(sc._jsc.getPersistentRDDs().keySet()) - before
    assert new_pins <= set(_leaf_rdds(local))
    want = sorted(local.collect())
    assert want

    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        out = PIN_OPS[op](spark)
        leaves = _leaf_rdds(out)
        assert all(rdd.getCheckpointFile().isDefined() for rdd in leaves.values())
        files = {int(p.name[len("rdd-"):]) for p in ckpt.glob("*/rdd-*")}
        assert files and files <= set(leaves)
        assert sorted(out.collect()) == want
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def _package_lines(pattern: str) -> list[str]:
    """Lines of ``sagan_spark/**/*.py`` outside ``session.py`` that match
    ``pattern``."""
    pkg = Path(__file__).resolve().parent.parent / "sagan_spark"
    return [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(pattern, line)
    ]


def test_only_session_pins_frames():
    """``session.materialize``/``release`` are the only code that decides
    how a frame is pinned: no other module checkpoints on its own."""
    found = _package_lines(r"localCheckpoint|\.checkpoint\(")
    assert not found, "\n".join(found)


def test_only_session_builds_driver_tables():
    """``session.local_frame`` is the package's one way to make a small
    driver-built table: no other module calls ``createDataFrame``, whose
    list form costs every read of the table a Python stage."""
    found = _package_lines(r"createDataFrame\(")
    assert not found, "\n".join(found)


def test_python_workers_keep_zip_directories(spark):
    """A ``build_spark`` session's Python workers keep the directory of
    every zip archive on their ``sys.path`` through
    ``importlib.invalidate_caches()``, which PySpark calls before every
    task: each task finds at least one zipimporter (``pyspark.zip``),
    and the call replaces none of their directories."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        def directories():
            return {
                path: id(importer._files)
                for path, importer in sys.path_importer_cache.items()
                if isinstance(importer, zipimport.zipimporter)
            }

        for _ in batches:
            before = directories()
            importlib.invalidate_caches()
            yield pd.DataFrame({"importers": [len(before)], "kept": [directories() == before]})

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInPandas(probe, "importers long, kept boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.kept for r in rows), rows


def test_rule_metadata_is_a_local_relation(spark, fixture_rules):
    """``rule_metadata_df`` is planned as a ``LocalRelation`` (no Python
    stage reads it), with the rows and types the list-built table had:
    null ``rule_metadata`` for a rule without one, ``drop`` from the
    action, and ``severity`` from the classification when the rule sets
    no priority."""
    from sagan_spark.pipeline.route import DEFAULT_CLASSIFICATIONS, rule_metadata_df
    from sagan_spark.rules.parser import parse_rules

    rules = fixture_rules + parse_rules(
        'drop any any any -> any any (msg:"dropped"; content:"x"; classtype: misc-activity; '
        "priority: 1; metadata: created 2026; reference: url,example.com; sid:9990001; rev:3;)"
    )
    meta = rule_metadata_df(spark, rules)
    leaves = meta._jdf.queryExecution().analyzed().collectLeaves()
    assert [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())] == [
        "LocalRelation"
    ]

    schema = (
        "sid long, rev int, signature string, classtype string, category string, severity int,"
        " rule_reference string, drop boolean, rule_text string, rule_metadata string"
    )
    want = []
    for r in rules:
        category, severity = DEFAULT_CLASSIFICATIONS.get(r.classtype, (r.classtype or "unknown", 3))
        want.append((
            r.sid, r.rev, r.msg, r.classtype, category, r.priority or severity,
            ";".join(r.reference), r.action == "drop", r.raw, r.metadata or None,
        ))
    listed = spark.createDataFrame(want, schema)
    assert meta.schema == listed.schema
    got = {r.sid: r for r in meta.collect()}
    assert sorted(got.values()) == sorted(listed.collect())

    assert got[5000012].category == "A Network Trojan was detected"
    assert got[5000012].severity == 1
    assert (got[5000019].category, got[5000019].severity) == ("unknown", 3)
    assert got[5000019].rule_metadata is None
    assert not got[5000019].drop
    dropped = got[9990001]
    assert (dropped.drop, dropped.severity, dropped.rev) == (True, 1, 3)
    assert dropped.rule_metadata is not None
    assert dropped.rule_reference == "url,example.com"
