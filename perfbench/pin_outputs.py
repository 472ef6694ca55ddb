"""Regenerate pins.json: the output digest of every benchmark query.

    python3 perfbench/pin_outputs.py      (from the repository root)

Each query runs on Spark and its ``ORACLES`` twin on DuckDB over the
benchmark's unpermuted inputs. A digest is pinned only when the two
outputs are equal (same columns, row count and order-insensitive
values); otherwise the script names the query and exits 1 without
writing. Digests are seed-independent because every catalog answer is
independent of input row order.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import workloads as W  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    from rstreams_spark.queries import ORACLES, REGISTRY
    from rstreams_spark.session import get_spark

    spark = get_spark("perfbench-pins")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in W.TABLES:
        con.sql(f"create view {t} as select * from '{W.DATA_DIR}/{t}.parquet'")
    digests, bad = {}, []
    for q in W.TPCH_QUERIES + W.LLM_QUERIES:
        sdf = REGISTRY[q](spark, W.DATA_DIR).toPandas()
        odf = con.sql(ORACLES[q]).df()
        same = (
            sorted(sdf.columns) == sorted(odf.columns)
            and len(sdf) == len(odf)
            and canon(sdf).equals(canon(odf))
        )
        print(f"{'ok ' if same else 'BAD'} {q}: {len(sdf)} rows", flush=True)
        if same:
            digests[q] = W.output_digest(sdf)
        else:
            bad.append(q)
    spark.stop()
    if bad:
        print(f"oracle mismatch: {bad}; pins.json left unchanged", file=sys.stderr)
        return 1
    with open(W.PINS_PATH, "w") as fh:
        json.dump({"inputs": "perfbench/data/sf0.01", "digests": digests}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
