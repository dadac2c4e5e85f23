"""Shared fixtures for the driver-contract modules (split out of
__spark_entry__.py, r5): table readers over a driver-provided sf dir
and the worker-package shipping belt."""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: repo root (sagan_spark/contracts/common.py -> repo)
_REPO = Path(__file__).resolve().parent.parent.parent


def _ship_package(spark: SparkSession) -> None:
    """braces: ship sagan_spark to python workers via addPyFile so pandas
    UDFs resolve imports even when the harness built the session before
    importing this module (addPyFile works on a live session)."""
    if getattr(_ship_package, "_done", None) is spark:
        return
    zpath = "/tmp/sagan_spark_pkg.zip"
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for sub in ("sagan_spark", "fixtures"):
                for p in (_REPO / sub).rglob("*.py"):
                    z.write(p, p.relative_to(_REPO))
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added in this context
    _ship_package._done = spark


def _drain(q, timeout: int = 180) -> None:
    """Wait for an availableNow query to finish, or stop it and raise:
    reading a still-running query's partial output (and deleting its
    work dir) would misreport as a correctness failure."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"streaming drain did not finish in {timeout}s")


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the events table to the engine's canonical frame:
    event_type≙program, user_id≙host/username source, props≙message."""
    ev = _ev(spark, sf_dir)
    return ev.select(
        F.col("event_id").cast("string").alias("event_key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.concat(F.lit("user-"), F.col("user_id")).alias("host"),
        F.col("event_type").alias("program"),
        F.lit("").alias("facility"),
        F.lit("").alias("level"),
        F.lit("").alias("tag"),
        F.col("props").alias("message"),
    )
