#!/usr/bin/env python3
"""Runtime exchange audit: static Exchange/FileScan counts vs the
AQE final plan's ReusedExchange count for named registry entries.

A static FileScan/Exchange count over-states real I/O when
identical subtrees share a shuffle — AQE's ReuseExchangeAndSubquery
dedupes them at runtime, but only the FINAL (post-execution) adaptive
plan shows it.  This tool EXECUTES each query (noop sink) and reports
both views, so "17 static scans" outliers can be adjudicated with
evidence instead of re-reasoning every round (SCALE.md round-7
methodology, committed as tooling in round 8).

    python scripts/exchange_audit.py triangle_coparts q8_market_share
"""
from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: exchange_audit.py <query> [<query> ...]", file=sys.stderr)
        return 2

    from botkop_telcotraffic_spark_spark.session import get_spark

    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark(app_name="exchange_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    report = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        static = df._jdf.queryExecution().executedPlan().toString()
        # Execute via collect() so THIS DataFrame's own QueryExecution
        # finalizes its AdaptiveSparkPlan — a .write spawns a separate
        # QueryExecution and the df's plan never reaches
        # isFinalPlan=true (ReusedExchange would always read 0).
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        report[name] = {
            "static_filescan": static.count("FileScan"),
            "static_exchange": static.count("Exchange"),
            "runtime_reused_exchange": len(
                re.findall(r"ReusedExchange", final)
            ),
            "runtime_exchange": final.count("Exchange"),
        }
        print(f"{name}: {report[name]}", flush=True)

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
