"""Local mirror of the driver's correctness gate: runs every queries()
entry and its oracle_sql() twin at a given sf dir, compares row count,
column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(pdf) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    rows = sorted(
        ",".join(norm_cell(r[c]) for c in cols) for _, r in pdf.iterrows()
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h


def _pins(sc) -> tuple[set, set]:
    """The ids of the persistent RDDs (local pins, caches) and the paths
    of the ``rdd-*`` dirs under the checkpoint dir (reliable pins)."""
    rdds = set(sc._jsc.getPersistentRDDs().keySet())
    files = set()
    if sc.getCheckpointDir() is not None:
        path = sc._jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(path):
            files = {
                st.getPath().toString()
                for st in fs.listStatus(path)
                if st.getPath().getName().startswith("rdd-")
            }
    return rdds, files


def _free_pins_since(sc, before: tuple[set, set]) -> None:
    """Free the pins made since ``_pins`` returned ``before``: a query's
    returned frame may read pins its caller frees, and Spark deletes no
    checkpoint files by itself."""
    rdds, files = _pins(sc)
    persistent = sc._jsc.getPersistentRDDs()
    for rdd_id in rdds - before[0]:
        persistent.get(rdd_id).unpersist(False)
    for name in files - before[1]:
        path = sc._jvm.org.apache.hadoop.fs.Path(name)
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    import duckdb

    import __spark_entry__ as E
    from sagan_spark.session import build_spark

    spark = build_spark(app="contract_check", cores=8, driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        pins = _pins(spark.sparkContext)
        try:
            got_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        finally:
            _free_pins_since(spark.sparkContext, pins)
        if name not in oracles:
            print(f"rows-only {name}: {len(got_pdf)} rows")
            continue
        try:
            want_pdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        g = table_hash(got_pdf)
        w = table_hash(want_pdf)
        # dtype parity: the driver's value hash stringifies cells without
        # our float normalization, so an int64-vs-float64/object column
        # (e.g. DuckDB HUGEINT sums) hash-mismatches there even when the
        # normalized values agree — surface it locally.
        dtype_mismatch = [
            c
            for c in sorted(set(got_pdf.columns) & set(want_pdf.columns))
            if ("float" in str(got_pdf[c].dtype)) != ("float" in str(want_pdf[c].dtype))
        ]
        if g == w and dtype_mismatch:
            failures += 1
            print(
                f"FAIL {name}: values match but dtypes diverge on {dtype_mismatch}: "
                f"spark={[str(got_pdf[c].dtype) for c in dtype_mismatch]} "
                f"duckdb={[str(want_pdf[c].dtype) for c in dtype_mismatch]}"
            )
        elif g == w:
            print(f"OK   {name}: {g[0]} rows hash={g[2]}")
        else:
            failures += 1
            print(f"FAIL {name}: spark={g} duckdb={w}")
            if g[1] != w[1]:
                print(f"     cols: spark={g[1]} duckdb={w[1]}")
            else:
                gs = sorted(",".join(norm_cell(r[c]) for c in g[1]) for _, r in got_pdf.iterrows())
                ws = sorted(",".join(norm_cell(r[c]) for c in w[1]) for _, r in want_pdf.iterrows())
                sg, sw = set(gs), set(ws)
                print(f"     spark-only: {list(sg - sw)[:3]}")
                print(f"     duck-only:  {list(sw - sg)[:3]}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sys.exit(1 if main(sf, only) else 0)
