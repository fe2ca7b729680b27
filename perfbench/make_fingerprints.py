#!/usr/bin/env python3
"""Write ``perfbench/fingerprints.json``: the expected output of every
benchmark query on the benchmark's tables.

    python3 perfbench/make_fingerprints.py

Each query is built through ``plans.wrapped_build`` and collected with
``toPandas()``; where the registry has a DuckDB oracle, the oracle runs
over the same parquet files and its fingerprint must match, so a frozen
fingerprint is never just whatever Spark returned. The GBT forecast
has no oracle and records its row count only. Exits 1 on any oracle
mismatch or failed query, without writing the file.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

ROWS_ONLY = ("forecast_weekly_gbt",)


def main() -> int:
    import duckdb

    from datagen import TABLES, ensure
    from fingerprint import fingerprint

    spec = json.loads((HERE / "workloads.json").read_text())
    work = ROOT / ".perfbench_work"
    sf_dir = ensure(work, spec["data"]["seed"], spec["data"]["scale"])
    os.environ["SPARK_GRAFT_ORACLE_DIR"] = str(sf_dir)
    from grocery_store_sales_forecasting_etl_pipeline_spark import plans
    from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

    names = sorted(
        {q for wl in spec["workloads"].values() for q in wl.get("queries", [])}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark = get_spark(
        app_name="perfbench-fingerprints",
        master="local[4]",
        warehouse_dir=str(work / "fingerprints-warehouse"),
    )
    out, bad = {}, []
    try:
        for name in names:
            rows_only = name in ROWS_ONLY
            got = fingerprint(plans.wrapped_build(name)(spark, str(sf_dir)).toPandas(), rows_only)
            sql = plans.wrapped_oracle(name)
            if sql is None:
                verdict = "no oracle"
            else:
                want = fingerprint(con.execute(sql).df(), rows_only)
                verdict = "match" if want == got else f"MISMATCH oracle={want}"
                if want != got:
                    bad.append(name)
            print(f"{name:40s} {got} {verdict}", flush=True)
            out[name] = got
    finally:
        spark.stop()
    if bad:
        print(f"oracle mismatch: {bad}", file=sys.stderr)
        return 1
    doc = {"data": spec["data"], "queries": out}
    (HERE / "fingerprints.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
