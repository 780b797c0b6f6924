"""Regenerate perfbench/reference.json: the digest of every query op
of the benchmark, per input scale.

    python3 perfbench/make_reference.py [SCALE ...]

Defaults to the measured scale and the self-test scale. Before a
digest is written, the query's rows are confirmed against its DuckDB
oracle (`__spark_entry__.oracle_sql()`) on the same generated inputs;
a query without an oracle is written with its row count alone checked
by hand, and is reported as such. Any mismatch aborts without writing.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import DIGITS, QUERY_OPS, digest_frame, digest_value  # noqa: E402

SELFTEST_SCALE = 0.001


def _canon(value):
    if isinstance(value, float):
        if math.isnan(value) or value == 0.0:
            return 0.0 if value == 0.0 else "nan"
        return float(f"{value:.{DIGITS - 1}e}")
    if hasattr(value, "isoformat"):
        return value.isoformat()
    if hasattr(value, "item"):  # numpy scalar
        return _canon(value.item())
    if isinstance(value, (list, tuple)) or hasattr(value, "tolist"):
        return tuple(_canon(v) for v in list(value))
    return value


def _rows(pdf, cols: list[str]) -> list[tuple]:
    out = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(None if (isinstance(v, float) and math.isnan(v)) else _canon(v) for v in rec))
    return sorted(out, key=repr)


def check_oracle(con, sql: str, spark_pdf) -> str | None:
    """None when the oracle's rows equal Spark's, else what differs."""
    oracle = con.execute(sql).fetch_df()
    cols = sorted(spark_pdf.columns)
    if sorted(oracle.columns) != cols:
        return f"columns {sorted(oracle.columns)} != {cols}"
    a, b = _rows(spark_pdf, cols), _rows(oracle, cols)
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    diff = [(x, y) for x, y in zip(a, b) if x != y]
    return f"{len(diff)} rows differ, first {diff[0]}" if diff else None


def main(scales: list[float]) -> int:
    import duckdb

    from taps_spark.queries import all_oracles, all_queries
    from taps_spark.session import get_spark

    build = datagen.build_dir(ROOT)
    work = os.path.join(build, "tmp", "reference")
    os.makedirs(work, exist_ok=True)
    run.spark_env(work)
    spark = get_spark("perfbench-reference")
    queries, oracles = all_queries(), all_oracles()
    path = os.path.join(HERE, "reference.json")
    with open(path) as f:
        reference = json.load(f)
    failures = 0
    for scale in scales:
        data_dir = datagen.data_dir(ROOT, scale)
        datagen.ensure(data_dir, scale)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        digests = {}
        for name in QUERY_OPS:
            df = queries[name](spark, data_dir)
            got = digest_value(digest_frame(df).collect()[0])
            if name in oracles:
                problem = check_oracle(con, oracles[name], df.toPandas())
            else:
                problem = None
                print(f"sf{scale:g} {name}: no oracle, {got['rows']} rows", file=sys.stderr)
            spark.catalog.clearCache()
            if problem:
                failures += 1
                print(f"sf{scale:g} {name}: oracle mismatch: {problem}", file=sys.stderr)
                continue
            digests[name] = got
            print(f"sf{scale:g} {name}: {got} (oracle {'ok' if name in oracles else 'none'})")
        reference[f"{scale:g}"] = digests
    spark.stop()
    if failures:
        print(f"{failures} digest(s) not confirmed; reference.json unchanged", file=sys.stderr)
        return 1
    with open(path, "w") as f:
        json.dump(reference, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main([float(s) for s in sys.argv[1:]] or [run.SCALE, SELFTEST_SCALE]))
