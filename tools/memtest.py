"""Reproduce the full-session storage-pressure effect: warm EVERY
registry query once (building all session artifacts, as bench.py's warm
pass does), then time the degraded family with bench methodology.

Usage: SPARK_DRIVER_MEMORY=8g python tools/memtest.py q1 q2 ...
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    import bench
    import __spark_entry__ as se
    from mysql_cdc_debezium_starrocks_spark.session import get_spark

    spark = get_spark("memtest")
    staged = bench._stage(spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    queries = se.queries()
    for i, n in enumerate(sorted(queries)):
        bench._exec(queries[n], spark, staged)
        if i % 40 == 0:
            print(f"warm {i}/{len(queries)}", file=sys.stderr, flush=True)
    out = {}
    p0 = bench._median([bench._exec(queries[bench.PROBE_QUERY], spark, staged, settle=True) for _ in range(3)])
    for n in names:
        vals = [bench._exec(queries[n], spark, staged, settle=True) for _ in range(3)]
        out[n] = round(bench._median(vals), 3)
        print(f"{n}: {out[n]}", file=sys.stderr, flush=True)
    p1 = bench._median([bench._exec(queries[bench.PROBE_QUERY], spark, staged, settle=True) for _ in range(3)])
    drift = bench._median([p0, p1]) / bench.CONTROL_ANCHORS[bench.PROBE_QUERY]
    print(json.dumps({"mem": spark.sparkContext.getConf().get("spark.driver.memory"),
                      "timings": out,
                      "normalized": {n: round(v / drift, 3) for n, v in out.items()},
                      "drift": round(drift, 3)}))


if __name__ == "__main__":
    main()
