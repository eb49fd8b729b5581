#!/usr/bin/env python3
"""Produce ``expected.json``: one committed expectation per benchmark query.

Hash-checked ids (those with a DuckDB oracle) get the fingerprint of the
oracle's result on the benchmark's input tables; rows-only ids get the
row count of the engine's own result. Every hash-checked id is also run on
Spark here; if any disagrees with its oracle, nothing is written.

    python3 steadybench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fingerprint as fp  # noqa: E402
from run import ensure_inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    import duckdb

    from etl_housing_spark.catalog import TABLES
    from etl_housing_spark.plans import all_queries
    from etl_housing_spark.session import get_session

    data_dir = os.path.join(ROOT, ".steadybench", "data")
    ensure_inputs(data_dir)
    os.environ["PYTHONPATH"] = ROOT
    specs = all_queries()
    ids = sorted({q for wl in WORKLOADS.values() for q in wl["ids"]})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    spark = get_session(app_name="steadybench-expected", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    out, bad = {}, 0
    for q in ids:
        got = fp.fingerprint(specs[q].fn(spark, data_dir).toPandas())
        if specs[q].oracle is None:
            out[q] = {"rows": got["rows"], "hash": None}
        else:
            want = fp.fingerprint(con.execute(specs[q].oracle).fetch_df())
            out[q] = {"rows": want["rows"], "hash": want["hash"]}
            if got != want:
                bad += 1
                print(f"MISMATCH {q}: spark {got} oracle {want}", file=sys.stderr)
        print(q, out[q], file=sys.stderr)
    spark.stop()
    if bad:
        print(f"{bad} ids disagree with their oracle; expected.json not written", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
