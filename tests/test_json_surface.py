"""F8 json_meta_content + P10 json_decode_base64 flags
(reference src/json-meta-content.c, src/json-content.c:79-84,
src/json-pcre.c:73-78)."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from sagan_spark.pipeline.engine import SaganSparkEngine
from sagan_spark.rules.parser import parse_rule, parse_rules


def _frame(spark, rows):
    df = spark.createDataFrame(rows, "event_key string, ts string, message string")
    return df.select(
        "event_key", F.col("ts").cast("timestamp").alias("ts"),
        F.lit("h").alias("host"), F.lit("p").alias("program"),
        F.lit("").alias("facility"), F.lit("").alias("level"), F.lit("").alias("tag"),
        "message",
    )


def _alert_keys(spark, rules_text, frame):
    eng = SaganSparkEngine(parse_rules(rules_text))
    return {r.event_key for r in eng.run(frame).alerts().select("event_key").collect()}


def test_json_meta_content_exact_equality_default(spark):
    # default compare is strcmp EQUALITY, not substring (reference
    # Search_Case src/search-type.c:39-67 called with json_meta_strstr=0
    # at src/json-meta-content.c:146)
    frame = _frame(spark, [
        ("e1", "2026-01-01 00:00:01", '{"user": "login admin"}'),
        ("e2", "2026-01-01 00:00:02", '{"user": "login admin ok"}'),  # superstring
        ("e3", "2026-01-01 00:00:03", '{"other": "login admin"}'),  # missing key
    ])
    txt = 'alert any any any -> any any (msg:"jm"; json_meta_content: ".user", "login %sagan%", admin,root; sid:1;)'
    assert _alert_keys(spark, txt, frame) == {"e1"}


def test_json_meta_contains_substring(spark):
    # json_meta_contains flips the previous json_meta_content to strstr
    # (reference src/rules.c:2285-2295)
    frame = _frame(spark, [
        ("e1", "2026-01-01 00:00:01", '{"user": "login admin ok"}'),
        ("e2", "2026-01-01 00:00:02", '{"user": "login guest ok"}'),
    ])
    txt = ('alert any any any -> any any (msg:"jm"; json_meta_content: ".user",'
           ' "login %sagan%", admin,root; json_meta_contains; sid:1;)')
    assert _alert_keys(spark, txt, frame) == {"e1"}


def test_json_meta_content_negated_requires_key(spark):
    frame = _frame(spark, [
        ("e1", "2026-01-01 00:00:01", '{"user": "carol"}'),
        ("e2", "2026-01-01 00:00:02", '{"none": "x"}'),
    ])
    txt = 'alert any any any -> any any (msg:"jm"; json_meta_content: ".user", !"%sagan%", admin,root; sid:2;)'
    # e1: key present, no listed literal -> pass; e2: missing key -> fail
    assert _alert_keys(spark, txt, frame) == {"e1"}


def test_json_decode_base64_content(spark):
    good = base64.b64encode(b"malicious payload").decode()
    frame = _frame(spark, [
        ("e1", "2026-01-01 00:00:01", '{"data": "%s"}' % good),
        ("e2", "2026-01-01 00:00:02", '{"data": "bm90aGluZw=="}'),  # "nothing"
        ("e3", "2026-01-01 00:00:03", '{"data": "!!not-base64!!"}'),
    ])
    txt = ('alert any any any -> any any (msg:"b64"; json_strstr: ".data","malicious";'
           ' json_decode_base64; sid:3;)')
    assert _alert_keys(spark, txt, frame) == {"e1"}


def test_json_decode_base64_pcre(spark):
    v = base64.b64encode(b"user u42 did a thing").decode()
    frame = _frame(spark, [
        ("e1", "2026-01-01 00:00:01", '{"blob": "%s"}' % v),
        ("e2", "2026-01-01 00:00:02", '{"blob": "dXNlcg=="}'),  # "user" only
    ])
    txt = ('alert any any any -> any any (msg:"b64p"; json_pcre: ".blob","/u[0-9]{2}/";'
           ' json_decode_base64_pcre; sid:4;)')
    assert _alert_keys(spark, txt, frame) == {"e1"}


def test_parse_flags():
    r = parse_rule(
        'alert any any any -> any any (msg:"x"; json_meta_content: ".k", "v %sagan%", a,b;'
        " json_meta_nocase; json_decode_base64; json_decode_base64_meta; sid:5;)"
    )
    assert r.json_decode_base64 and r.json_decode_base64_meta
    assert r.json_meta_contents[0].key == ".k"
    assert r.json_meta_contents[0].nocase
    assert r.json_meta_contents[0].literals == ["v a", "v b"]


def test_json_flatten_udf_body_raises_no_future_warning():
    """The '{'-detection gate runs on every Arrow batch; a pandas
    FutureWarning there (object-dtype fillna downcasting) would fire per
    batch and silently change behaviour in a later pandas."""
    import warnings

    import pandas as pd

    from sagan_spark.functions.udfs import json_flatten_udf

    texts = pd.Series(['{"a": {"b": 1}}', "plain", None], dtype=object)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = json_flatten_udf.func(texts)
    assert out[0][".a.b"] == "1"
    assert list(out[1:]) == [{}, {}]
