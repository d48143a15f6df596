#!/usr/bin/env python3
"""Record ``expected.json``: the digest of every checked output, taken
only after the output is confirmed against an independent reference.

- dashboard_mix: each query's Spark result must equal its DuckDB oracle
  (``registry.oracle_sql()``) row for row, as the repository's oracle
  tests compare them (``tests/oracle_utils.py``).
- ingest_stream: the reference is ``compute_indicators`` over all
  events, run as one batch job; the drained events store must hold
  every event exactly once.

Run from the root of a checkout after changing the generator or the
workload inputs:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import checks
    from workloads import DASHBOARD_OPS, Bench

    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.operators.indicators import compute_indicators
    from crypto_data_pipeline_with_kafka_spark.plans import registry
    from tests.oracle_utils import compare

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    bench = Bench(os.getcwd(), os.path.join(os.getcwd(), ".perfbench", "record"), seed=0)
    spark = bench.get_spark()
    queries = registry.all_queries()
    out: dict = {"dashboard_mix": {}, "ingest_stream": {}}
    d = bench.data_dir("bench")
    for q in DASHBOARD_OPS:
        df = queries[q].fn(spark, d)
        compare(df, queries[q].oracle, d)  # raises on any difference
        out["dashboard_mix"][q] = checks.digest(df)
        print(q, out["dashboard_mix"][q], flush=True)
    for ds in ("stream", "small"):
        events = load_table(spark, bench.data_dir(ds), "events")
        ind = compute_indicators(events)
        out["ingest_stream"][ds] = {
            "indicators": checks.digest(ind.select(*sorted(ind.columns))),
            "events_rows": events.count(),
        }
        print(ds, out["ingest_stream"][ds], flush=True)
    with open(checks.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    spark.stop()
    shutil.rmtree(bench.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
